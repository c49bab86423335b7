"""SparkSession factory tuned for both local testing and the
100 TB / 1000-executor target.

Local tests run ``local[*]`` single-JVM; the same conf keys are the
ones that matter on a real cluster (AQE, shuffle partitioning,
Arrow batching). Nothing here is machine-specific.
"""

from __future__ import annotations

import atexit
import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test rig; on a cluster these are
# overridden by spark-submit conf. AQE coalesces small shuffle
# partitions at runtime, so a higher static number is safe at scale.
_LOCAL_SHUFFLE_PARTITIONS = "32"

# <checkout>/.tmp/p<pid>: inside the checkout (resolved from the
# package location) and private to the process, so two processes
# driving one checkout never empty each other's entries. Nothing is
# created here. A root left by a killed process with this pid is
# emptied; the owner (not a forked child) removes the root at exit.
_SCRATCH_PID = os.getpid()
_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    f"p{_SCRATCH_PID}",
)


def _remove_scratch_root() -> None:
    if os.getpid() == _SCRATCH_PID:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


_remove_scratch_root()
atexit.register(_remove_scratch_root)


def scratch_dir(name: str = "") -> str:
    """Path of the scratch entry ``name`` under this process's scratch
    root ``<checkout>/.tmp/p<pid>`` (the root itself when ``name`` is
    empty). Nothing is created; the root is removed at exit."""
    return os.path.join(_SCRATCH_ROOT, name) if name else _SCRATCH_ROOT


def sf_scratch_dir(name: str, sf_dir: str) -> str:
    """Scratch entry ``name/<sf dir name>``, emptied: contracts that
    stage files per scale factor key them by the sf dir, so drives
    at different scale factors in one process never clobber each
    other's files."""
    path = os.path.join(
        scratch_dir(name), os.path.basename(os.path.realpath(sf_dir.rstrip("/")))
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "etl-npl-pipeline-spark", warehouse: str | None = None
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate conf.

    - AQE on: runtime coalescing, skew-join splitting, dynamic
      join-strategy switches — essential at 100 TB where static
      planning misguesses.
    - Arrow on: every pandas_udf / mapInPandas transfer is
      columnar-batched instead of pickled rows.
    - Broadcast threshold raised: dimension tables (region, nation,
      supplier, part at typical scale) should never shuffle-join.
    - DataFrame call-site capture off: with it on, every DataFrame
      and ``F.*`` call collects a Python stack trace and makes about
      four extra py4j round trips to record it, most of a plan
      build's round trips (README, measured findings). Runtime errors keep their error class, message and
      SQLSTATE; their ``== DataFrame ==`` block names a JVM frame
      instead of the Python file:line. A static conf, so it only
      takes effect when this call starts the JVM.

    ``warehouse`` is the session's warehouse dir (where the persisted
    ANN indexes live); None keeps Spark's default, ``spark-warehouse``
    under the working directory. Static too: only the call that
    starts the JVM sets it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if warehouse is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of the ``with`` and
    restore every previous value on exit, also when the body raises.
    The one way the package changes a session conf temporarily."""
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
