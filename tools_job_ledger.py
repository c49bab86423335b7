#!/usr/bin/env python
"""Per-contract job ledger: the Spark jobs each declared contract
launches while it is built, and the jobs, stages and tasks its action
runs. Counts, not seconds — at fixed data and a fixed parallelism they
read the same on every host and every run, so tests/test_job_ledger.py
compares a fresh run against the committed job_ledger.json exactly.

For every ``queries()`` entry, in declared order:

1. build it once (fills the per-process memos: parquet schemas,
   frozen index models);
2. meter a second build — ``build_jobs``, every job the plan call
   itself launches, including stream drains and eager checkpoints;
3. meter a noop write of that build — ``jobs``, and the ``stages``
   and ``tasks`` that ran (skipped stages are not counted).

Jobs of every job group are counted (``metrics.run_with_metrics``),
so streaming micro-batches are in. The session always runs on
``local[4]``: the ``_spread`` users and emb_pca's build read
``defaultParallelism``, so their counts move with the core count.
The ANN index is built into a private, empty warehouse in the
process's scratch root, so an index another process left in the
checkout's ``spark-warehouse`` never turns a build into an adoption. Data: the test suite's sf0.001
(``tests/conftest.py``'s ``SF_DIR``). About 6-8 minutes
on 4 cores.

    python tools_job_ledger.py [out.json]    # default: job_ledger.json

A change that moves a count on purpose regenerates the ledger and
says so in CHANGES.md.
"""

from __future__ import annotations

import json
import os
import sys

# before the session starts: the counts are defined on local[4]
os.environ["SPARK_GRAFT_CPUS"] = "4"

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# the Python workers import the package too, from any working dir
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (HERE, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.metrics import run_with_metrics  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark, scratch_dir  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402  (the test suite's data)
FIELDS = ("build_jobs", "jobs", "stages", "tasks")


def ledger(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    out = {}
    for name, fn in entrymod.queries().items():
        fn(spark, sf_dir)
        built = []
        build = run_with_metrics(spark, lambda: built.append(fn(spark, sf_dir)))
        run = run_with_metrics(spark, built[0])
        out[name] = {
            "build_jobs": build["jobs"],
            "jobs": run["jobs"],
            "stages": run["stages"],
            "tasks": run["num_tasks"],
        }
    return out


def render(sf_dir: str, rows: dict[str, dict[str, int]]) -> str:
    """The ledger as JSON, one contract per line so a changed count
    reads as a one-line diff."""
    head = {
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "master": "local[4]",
        "totals": {f: sum(r[f] for r in rows.values()) for f in FIELDS},
    }
    lines = [f" {json.dumps(k)}: {json.dumps(v)}," for k, v in head.items()]
    body = [f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in rows.items()]
    return "{\n" + "\n".join(lines) + '\n "contracts": {\n' + ",\n".join(body) + "\n }\n}\n"


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "job_ledger.json")
    spark = get_spark(
        "etl-npl-pipeline-job-ledger", warehouse=scratch_dir("warehouse")
    )
    rows = ledger(spark, SF_DIR)
    with open(out_path, "w") as fh:
        fh.write(render(SF_DIR, rows))
    print(json.dumps({"contracts": len(rows), "out": out_path}))


if __name__ == "__main__":
    main()
