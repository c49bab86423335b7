"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload npl_sql --seeds 1-10

Runs the benchmark once per seed at BENCHMARK.json's ``run_seconds``,
one run at a time, and prints for each end-to-end metric its median
and (Q3 - Q1) / median over the runs, next to the metric's bound in
BENCHMARK.json. A metric whose spread exceeds a third of its bound is
marked.
"""

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.dont_write_bytecode = True

from perfbench import metricmath as mm  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}")
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])

    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        if len(vals) < 2:
            continue
        spread = mm.quartile_spread(vals)
        flag = "" if spread <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:12s} median {mm.median(vals):9.4f}  spread {spread:6.3f}  "
              f"bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
