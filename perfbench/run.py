"""Benchmark entry point.

    python3 perfbench/run.py --workload npl_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seeded inputs, starts one
fresh Spark driver process (``worker.py``) in a scratch directory under
``.perfbench_work/`` with ``PYTHONPATH`` set to the root, checks that
the run changed no file of the tree outside that directory, and prints
a line with the number of samples behind each metric, then as the last
line the result: the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). A human-readable report goes to
stderr.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = ".perfbench_work"
#: The only top-level directory a run may write to.
_UNWATCHED = {WORK}
#: The whole run, worker included, ends within this many seconds.
_DEADLINE_S = 170.0
#: Spark runs local[N] with N this many cores, or fewer on a smaller host.
_CORES = 4
#: Metric name prefixes measured once per run (set-up and cold pass).
_ONCE_PER_RUN = ("setup_s", "cold_s", "session.", "ann_index.")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "etl_npl_pipeline_spark", "session.py")
    )


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(mtime_ns, size) of every file under ``root`` outside _UNWATCHED."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames if d not in _UNWATCHED]
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def _diff(before: dict, after: dict) -> list[str]:
    changed = [p for p in after if before.get(p) != after[p]]
    gone = [p for p in before if p not in after]
    return sorted(changed + gone)


def _env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(min(_CORES, len(os.sched_getaffinity(0)))),
        "SPARK_DRIVER_MEMORY": "2g",
        # every JVM (launcher and driver): temp files in the scratch
        # directory, and no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _report(res: dict, trace: bool) -> None:
    e2e = res["end_to_end"]
    samples = e2e["samples"]
    print(f"attempted {res['attempted']} failed {res['failed']}", file=sys.stderr)
    for f in res["failures"]:
        print("FAILED", f, file=sys.stderr)
    for c in res["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'MISMATCH'} {c['detail']}",
              file=sys.stderr)
    print(f"steady passes {samples['passes']}, steady op samples {samples['ops']}, "
          f"highest percentile with >=10 samples beyond: "
          f"p{samples['tail_percentile_with_10_beyond']}", file=sys.stderr)
    print(f"{'operation':28s} {'cold_s':>8s} {'steady_s (median)':>18s} {'n':>3s}",
          file=sys.stderr)
    for o in res["ops"]:
        st = sorted(o["steady_s"])
        med = st[len(st) // 2] if st else float("nan")
        print(f"{o['name']:28s} {o['cold_s']:8.3f} {med:18.3f} {len(st):3d}", file=sys.stderr)
    for k in ("setup_s", "cold_s", "wall_s", "op_p50_s", "op_p90_s"):
        print(f"  {k:10s} {e2e[k]:10.4f}", file=sys.stderr)
    if trace:
        print(f"{'layer':12s} {'total_s/pass':>12s} {'self_s/pass':>12s} {'calls/pass':>10s}",
              file=sys.stderr)
        for r in res["layer_table"]:
            print(f"{r['layer']:12s} {r['total_s']:12.4f} {r['self_s']:12.4f} "
                  f"{r['calls']:10.1f}", file=sys.stderr)
        pl = res["per_layer"]
        print(f"tracing overhead: traced wall_s {pl['trace.wall_s']:.4f} minus an untraced "
              f"run's wall_s; tracer bookkeeping {pl['trace.bookkeeping_s']:.4f} s/pass",
              file=sys.stderr)
        cov = pl["trace.coverage_min"]
        print(f"build + plan + exec cover each operation's wall to within 5%: "
              f"{'yes' if cov >= 0.95 else 'NO'} (lowest coverage {cov:.4f})", file=sys.stderr)


def sample_counts(samples: dict, names: list[str]) -> dict[str, int]:
    """Samples behind each metric: the steady operations for the
    latency percentiles, one for set-up and cold-pass metrics, the
    steady passes for the rest."""
    per_op = {"op_p50_s": samples["ops"], "op_p90_s": samples["ops"]}
    return {
        n: per_op.get(n, 1 if n.startswith(_ONCE_PER_RUN) else samples["passes"])
        for n in names
    }


def _metric_specs(trace: bool) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json asks this mode for."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not _program_present():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen, workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    before = snapshot(ROOT)
    work = os.path.join(ROOT, WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    res = None
    try:
        data = datagen.generate(os.path.join(work, "data"), args.seed, wl.SCALE)
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", data, "--out", out]
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=_env(work),
                                stdout=sys.stderr, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, _DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
        finally:
            _stop_group(proc)
        if proc.returncode == 0 and os.path.exists(out):
            with open(out) as f:
                res = json.load(f)
            if args.trace:
                trace_path = os.path.join(ROOT, WORK, f"trace-{args.workload}-s{args.seed}.json")
                with open(trace_path, "w") as f:
                    json.dump({"spans": res.pop("spans"), "layers": res["layer_table"]}, f)
                print(f"spans written to {trace_path}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    changed = _diff(before, snapshot(ROOT))
    if changed:
        print("perfbench: the run changed files outside "
              f"{WORK}/: {changed[:20]}", file=sys.stderr)
        return 1
    if res is None:
        print("perfbench: the worker produced no result", file=sys.stderr)
        return 1

    _report(res, bool(args.trace))
    names = _metric_specs(bool(args.trace))
    source = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names}
    samples = res["end_to_end"]["samples"]
    print(json.dumps({
        "samples": sample_counts(samples, [n for n, _ in names]),
        "tail_percentile_with_10_beyond": samples["tail_percentile_with_10_beyond"],
    }))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
