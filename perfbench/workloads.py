"""The benchmark's workloads: which operations run, in which order,
and how each one's output is checked.

An operation is one call into the program: a plan function from
``__spark_entry__.queries()`` (layer ``plans``) or a ``sinks.*`` call
(layer ``sinks``). It returns the DataFrame the benchmark then
executes, or None when the call itself did all the work (a write).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: Table scale handed to datagen (1.0 = TPC-H sf1): lineitem has 30k rows.
SCALE = 0.005

#: Upsert batches select orders whose key has one residue modulo this.
KEY_MODULUS = 13
#: Price raise of the merge-on-read upsert batch and of the merge batch.
MOR_BUMP = 1.0
MERGE_BUMP = 2.0

NPL_SQL_PLANS = (
    "npl_quarterly",
    "q1_pricing_summary",
    "stream_events_window",
)

LLM_CURATE_PLANS = (
    "ann_index_build",
    "ann_ivf",
    "ann_pq",
    "dedup_minhash",
)

#: Approximate ANN queries scored by recall@5 against the exact top-5
#: of the ``ann_topk`` oracle, with the lowest recall accepted as
#: correct. Each floor sits just below that query's lowest recall over
#: 136 seeds of this corpus (500 uniform unit vectors; recall is a
#: deterministic function of the seed): IVF 0.79 (mean 0.91, next
#: lowest 0.84), PQ 0.97 (mean 0.99). On 16 of those seeds, probing 4
#: cells instead of 8 gave IVF 0.55-0.75, and PQ without its exact
#: re-rank gave 0.42-0.56 (0.77-0.92 re-ranking 4x instead of 16x).
RECALL_FLOORS = {"ann_ivf": 0.72, "ann_pq": 0.95}


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # "plans" or "sinks"
    call: Callable[["Context"], DataFrame | None]


@dataclass
class Context:
    """What an operation needs: the session, the input directory, the
    output directory of the current pass, and the seed-derived upsert
    keys of the load stage."""

    spark: SparkSession
    data_dir: str
    out_dir: str
    mor_residue: int
    merge_residue: int
    written: list[str] = field(default_factory=list)


def upsert_residues(seed: int) -> tuple[int, int]:
    """Key residues of the MOR upsert batch and of the merge batch."""
    rng = random.Random(seed)
    return rng.randrange(KEY_MODULUS), rng.randrange(KEY_MODULUS)


def _plan_op(name: str) -> Op:
    import __spark_entry__

    fn = __spark_entry__.queries()[name]
    return Op(name, "plans", lambda ctx: fn(ctx.spark, ctx.data_dir))


def _table(ctx: Context, name: str) -> DataFrame:
    from etl_npl_pipeline_spark.sources.tables import load_table

    return load_table(ctx.spark, ctx.data_dir, name)


def _batch(ctx: Context, residue: int, bump: float) -> DataFrame:
    """Orders whose key has ``residue``, with the price raised by ``bump``."""
    return _table(ctx, "orders").where(F.col("o_orderkey") % KEY_MODULUS == residue).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(bump)
    )


def _path(ctx: Context, name: str) -> str:
    return os.path.join(ctx.out_dir, name)


def _write_segmented(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    ctx.written.append(
        sinks.write_segmented(
            _table(ctx, "lineitem"),
            _path(ctx, "segmented"),
            "l_returnflag",
            fmt="csv",
            timestamp="run",
        )
    )


def _mor_init(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    ctx.written.append(sinks.mor_init(_table(ctx, "orders"), _path(ctx, "mor")))


def _mor_upsert(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    sinks.mor_upsert(_batch(ctx, ctx.mor_residue, MOR_BUMP), _path(ctx, "mor"))


def _mor_read(ctx: Context) -> DataFrame:
    from etl_npl_pipeline_spark import sinks

    return sinks.mor_read(ctx.spark, _path(ctx, "mor"), ["o_orderkey"])


def _mor_compact(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    sinks.mor_compact(ctx.spark, _path(ctx, "mor"), ["o_orderkey"])


def _partition_write(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    ctx.written.append(
        sinks.upsert_by_partition(_table(ctx, "orders"), _path(ctx, "merge"), "o_orderstatus")
    )


def _merge_upsert(ctx: Context) -> None:
    from etl_npl_pipeline_spark import sinks

    sinks.merge_upsert(
        ctx.spark,
        _path(ctx, "merge"),
        _batch(ctx, ctx.merge_residue, MERGE_BUMP),
        ["o_orderkey"],
        "o_orderstatus",
    )


def load_stage() -> list[Op]:
    """The paper's load stage through ``sinks``, in its only valid order:
    a segmented csv write, a merge-on-read table with one upsert and a
    read, compaction and a read of the compacted table, then a
    partitioned copy-on-write table and one merge."""
    return [
        Op("sinks_write_segmented", "sinks", _write_segmented),
        Op("sinks_mor_init", "sinks", _mor_init),
        Op("sinks_mor_upsert", "sinks", _mor_upsert),
        Op("sinks_mor_read", "sinks", _mor_read),
        Op("sinks_mor_compact", "sinks", _mor_compact),
        Op("sinks_mor_read_compacted", "sinks", _mor_read),
        Op("sinks_partition_write", "sinks", _partition_write),
        Op("sinks_merge_upsert", "sinks", _merge_upsert),
    ]


def blocks(workload: str) -> list[list[Op]]:
    """The workload as blocks: a steady pass shuffles the blocks, and
    the operations inside a block always run in the order given."""
    if workload == "npl_sql":
        return [[_plan_op(n)] for n in NPL_SQL_PLANS] + [load_stage()]
    if workload == "llm_curate":
        return [[_plan_op(n)] for n in LLM_CURATE_PLANS]
    raise KeyError(workload)


WORKLOADS = ("npl_sql", "llm_curate")


def op_names(workload: str) -> list[str]:
    """Distinct operation names of ``workload`` in declared order."""
    names: list[str] = []
    for block in blocks(workload):
        for op in block:
            if op.name not in names:
                names.append(op.name)
    return names
