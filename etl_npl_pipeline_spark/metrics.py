"""Physical execution metrics capture — the host-independent half of
the scale doctrine.

Wall-time gates wobble with the host (the r6→r7 drift adjudication
measured ±40% suite-context swings on identical code); the BYTES a
plan shuffles, scans and spills, and the jobs, stages and tasks it
runs, do not. This module reads Spark's AppStatusStore (the same
store the UI serves) around a run and reports per-run deltas, so
bench and the sf1 scale harness can pin "shuffle bytes grow at most
linearly with data" and the job ledger (tools_job_ledger.py) can pin
every contract's job counts — gates no amount of host noise can
fake. It is the package's one status-store reader.

Mechanics: drain the listener bus (events reach the store through
it), note the highest job and stage IDs, run the action, drain again
and take ONLY the jobs and stages above those IDs. The scheduler
hands out both IDs in increasing order and posts every job, also
one with no partitions, so "above the mark" is exactly "ran for
this call" — in every job group, including the micro-batch jobs a
streaming drain runs in its query's own group. Stages are counted
only if they ran (not SKIPPED). Keying by ID (not
cumulative totals) makes the delta immune to the store's
retained-item eviction and to anything an earlier query left
behind. Driver-side cost is one store listing per snapshot plus
O(new stages) reads — no listener callbacks, no extra conf.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

#: StageData getters summed into the report, in output order.
_FIELDS = (
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("shuffle_write_records", "shuffleWriteRecords"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("input_bytes", "inputBytes"),
    ("output_bytes", "outputBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
    ("executor_run_ms", "executorRunTime"),
    ("num_tasks", "numTasks"),
)


def _lists(spark: SparkSession):
    """(jobs, stages) in the status store, each newest (highest ID)
    first, after the listener bus has delivered every posted event."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = sc.statusStore()
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    jobs = store.jobsList(jvm.java.util.ArrayList())  # all statuses
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        gw.new_array(gw.jvm.double, 0),  # no task-metric quantiles
        jvm.java.util.ArrayList(),
    )
    return jobs, stages


def _above(items, id_getter: str, mark: int) -> dict[int, Any]:
    """Items of a newest-first store list whose ID is above ``mark``."""
    out: dict[int, Any] = {}
    for i in range(items.size()):
        item = items.apply(i)
        key = getattr(item, id_getter)()
        if key <= mark:
            break
        out[key] = item
    return out


def _marks(spark: SparkSession) -> tuple[int, int]:
    jobs, stages = _lists(spark)
    return (
        jobs.apply(0).jobId() if jobs.size() else -1,
        stages.apply(0).stageId() if stages.size() else -1,
    )


def run_with_metrics(
    spark: SparkSession,
    df: DataFrame | Callable[[], None],
) -> dict[str, int | float]:
    """Execute ``df`` (noop write — full plan, nothing collected) or
    a zero-arg action, and return the physical metrics of exactly the
    stages that ran for it, plus wall seconds, the stage count and
    the number of jobs launched (every job group).

    A SKIPPED stage (its shuffle output already exists) is not
    counted: whether a job gets a fresh skipped stage or shares the
    one an earlier job registered depends on when the scheduler
    cleaned that job up, so skipped stages vary from run to run while
    the stages that ran do not."""
    job_mark, stage_mark = _marks(spark)
    t0 = time.time()
    if isinstance(df, DataFrame):
        df.write.format("noop").mode("overwrite").save()
    else:
        df()
    wall = time.time() - t0
    jobs, stages = _lists(spark)
    new = [
        s
        for s in _above(stages, "stageId", stage_mark).values()
        if s.status().name() != "SKIPPED"
    ]
    out: dict[str, int | float] = {k: 0 for k, _ in _FIELDS}
    for s in new:
        for key, getter in _FIELDS:
            out[key] += getattr(s, getter)()
    out["stages"] = len(new)
    out["jobs"] = len(_above(jobs, "jobId", job_mark))
    out["wall_sec"] = round(wall, 3)
    return out
