"""One benchmark run inside one fresh Spark driver process.

``run.py`` starts this script in a scratch working directory and
reads the JSON it writes to ``--out``. The run is a closed loop with
one client: set up the session, run a cold pass that collects every
operation's rows, run steady passes (noop-write action, block order
shuffled by the seed) until ``--seconds`` have elapsed, then check the
cold pass's rows. With ``--trace 1`` every layer call is also
recorded as a span and Spark's status stores are read between calls.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

from perfbench import checks, metricmath as mm, workloads as wl  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def _warm(spark) -> None:
    """First Spark job, then the first pandas-UDF worker spawn."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 1000, 1, 4).select(plus_one("id")).collect()


def _jvm_rss_peak_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    def __init__(self, spark, args, tracer: Tracer):
        self.spark = spark
        self.args = args
        self.tracer = tracer
        mor_residue, merge_residue = wl.upsert_residues(args.seed)
        self.ctx = wl.Context(spark, args.data, "", mor_residue, merge_residue)
        self.blocks = wl.blocks(args.workload)
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []

    def run_op(self, op: wl.Op, collect: bool) -> dict:
        """Time one operation: the layer call, then (traced) planning,
        then the action on the DataFrame it returned."""
        tr = self.tracer
        rec = {"name": op.name, "rows": None, "cols": None}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op", op.name) as op_span:
                with tr.span(op.layer, op.name):
                    df = op.call(self.ctx)
                if df is not None and tr.enabled:
                    with tr.span("plan", op.name):
                        df._jdf.queryExecution().executedPlan()
                if df is not None:
                    with tr.span("exec", op.name):
                        if collect:
                            rec["rows"] = [tuple(r) for r in df.collect()]
                            rec["cols"] = list(df.columns)
                        else:
                            df.write.format("noop").mode("overwrite").save()
            rec["span"] = op_span.id
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            rec["failed"] = True
        rec["s"] = time.perf_counter() - t0
        return rec

    def run_pass(self, index: int, order: list[list[wl.Op]], collect: bool) -> dict:
        self.ctx.out_dir = os.path.join(os.getcwd(), "out", f"pass{index}")
        self.ctx.written = []
        t0 = time.perf_counter()
        with self.tracer.span("pass", f"pass{index}") as span:
            ops = [self.run_op(op, collect) for block in order for op in block]
        p = {
            "index": index, "cold": collect, "s": time.perf_counter() - t0,
            "ops": ops, "span": span.id, "written": list(self.ctx.written),
        }
        self.passes.append(p)
        return p

    def run(self) -> None:
        self.run_pass(0, self.blocks, collect=True)
        rng = random.Random(self.args.seed)
        start = time.perf_counter()
        index = 1
        while index == 1 or time.perf_counter() - start < self.args.seconds:
            order = list(self.blocks)
            rng.shuffle(order)
            self.run_pass(index, order, collect=False)
            index += 1


def end_to_end(setup_s: float, runner: Runner) -> dict:
    steady = [p for p in runner.passes if not p["cold"]]
    op_s = [o["s"] for p in steady for o in p["ops"] if not o.get("failed")]
    tail = mm.tail_percentile(len(op_s))
    return {
        "setup_s": setup_s,
        "cold_s": runner.passes[0]["s"],
        "wall_s": mm.median(p["s"] for p in steady),
        "op_p50_s": mm.percentile(op_s, 50),
        "op_p90_s": mm.percentile(op_s, 90),
        "samples": {
            "passes": len(steady), "ops": len(op_s),
            "tail_percentile_with_10_beyond": tail,
        },
    }


def op_table(runner: Runner) -> list[dict]:
    """Per operation: cold-pass seconds and steady samples."""
    rows: dict[str, dict] = {}
    for p in runner.passes:
        for o in p["ops"]:
            r = rows.setdefault(o["name"], {"name": o["name"], "cold_s": 0.0, "steady_s": []})
            if p["cold"]:
                r["cold_s"] += o["s"]
            elif not o.get("failed"):
                r["steady_s"].append(o["s"])
    return list(rows.values())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True, help="parent's spawn time")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from etl_npl_pipeline_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session", "start") as s_start:
        spark = get_spark("perfbench")
    with tracer.span("session", "warm") as s_warm:
        _warm(spark)
    setup_s = time.time() - args.t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)

    runner = Runner(spark, args, tracer)
    runner.run()
    tracer.detach()

    verdicts = checks.check_run(spark, args.data, runner)
    result = {
        "attempted": runner.attempted,
        "failed": len(runner.failures) + sum(1 for v in verdicts if not v["ok"]),
        "failures": runner.failures,
        "checks": verdicts,
        "end_to_end": end_to_end(setup_s, runner),
        "ops": op_table(runner),
        "session": {
            "jvm_start_s": s_start.duration,
            "warm_s": s_warm.duration,
            "jvm_rss_peak_mb": _jvm_rss_peak_mb(spark),
        },
    }
    if args.trace:
        result["per_layer"] = tracer.per_layer(runner, result)
        result["layer_table"] = tracer.layer_table([p for p in runner.passes if not p["cold"]])
        result["spans"] = tracer.spans_json()
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
