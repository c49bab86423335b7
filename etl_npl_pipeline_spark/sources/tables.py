"""Parquet table catalog for the synthetic test data.

Reference parity: the reference loads each source into a named
frame (``raw_npls``, ``raw_gdp`` ... src/ETL-NPL-Pipeline.py:464+);
here every table is a lazily-planned parquet scan so Catalyst can
prune columns and push filters into the scan — at 100 TB the
difference between reading 2 columns and 11 is the whole game.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Opt-in hot-table pins (cache_table): load_table returns the pinned
# plan when one exists so every consumer shares ONE materialized scan.
# Nothing is pinned unless a harness (bench.py's events tier) asks —
# tests and the driver always measure the raw scan path.
_PINNED: dict[tuple[str, str], DataFrame] = {}

# Inferred parquet schemas, per process (see read_parquet). Only
# schemas are kept, never DataFrames: a shared DataFrame would hand
# both sides of a self-join the same expression ids.
_SCHEMAS: dict[tuple, StructType] = {}

# the confs that change what parquet schema inference returns for the
# same files (nanos as bigint, timestamp[us] as TIMESTAMP_NTZ)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def fingerprint(path: str) -> str:
    """Cheap content identity of the parquet data at ``path`` (a file
    or a directory tree): (relpath, size, mtime_ns) of every parquet
    file, md5'd. Data rewritten at the same path gets a new
    fingerprint."""
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(("", st.st_size, st.st_mtime_ns))
    else:
        for dirpath, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, f))
                    entries.append(
                        (
                            os.path.relpath(os.path.join(dirpath, f), path),
                            st.st_size,
                            st.st_mtime_ns,
                        )
                    )
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()[:16]


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each input's schema
    once per process. Schema inference launches one Spark job per
    read (a footer merge), even for a single file; a repeat read of
    unchanged files reuses the inferred schema and launches none.
    The memo key holds the paths, their fingerprints and the
    inference confs, so a rewrite at the same path (a drifted
    physical type) or a conf change infers again. Paths that are not
    local files (URIs, globs) are always inferred. Meant for input
    files that rarely change; data the package rewrites between
    calls reads through ``spark.read.parquet``."""
    if not all(os.path.exists(p) for p in paths):
        return spark.read.parquet(*paths)
    key = (
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
        tuple((p, fingerprint(p)) for p in paths),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    _SCHEMAS[key] = df.schema
    return df


# Canonical logical schema per table — the catalog contract every
# query plans against. A 100 TB lake is written by many producers
# over years: key columns arrive as int32 in one vintage and int64
# in another, money as double or decimal-physical, floats at
# either width, columns reordered, stray producer columns appended.
# load_table normalizes all of that AT THE SCAN (schema-on-read):
# casts differing physical types up to the canonical type, restores
# canonical column order, and drops unknown columns — so every
# downstream plan sees ONE schema regardless of file vintage.
# Numeric widening (int32→int64, float32→float64 promotion,
# decimal(≤12,2)→double for the money columns) is value-preserving,
# which keeps the DuckDB oracle exact: both engines promote the
# same stored value to the same double.
CANONICAL: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def cache_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Pin one table in executor memory (spill-to-disk) and register
    it so subsequent load_table calls reuse the materialized scan —
    the production pattern for a hot dimension/fact every query in a
    workload touches. Returns the pinned DataFrame after forcing
    materialization."""
    from pyspark import StorageLevel

    df = load_table(spark, sf_dir, name).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    df.count()
    _PINNED[(sf_dir.rstrip("/"), name)] = df
    return df


def _adapt_timestamps(name: str, df: DataFrame) -> DataFrame:
    """Per-vintage timestamp physical adaptations, applied before
    the canonical cast."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ts is TIMESTAMP(NANOS) on disk, read as a nanos long via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros
        # (same as DuckDB's ns→us handling) and restore the type.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # timestamp[us] without isAdjustedToUTC reads as TIMESTAMP_NTZ; the
    # session tz is pinned UTC, so casting to TIMESTAMP is value-identical
    # and keeps every downstream plan (and the driver's schema compare) on
    # the single timestamp type this engine has always produced.
    for col_name, col_type in df.dtypes:
        if col_type == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Cast/reorder/prune one homogeneous frame to the catalog
    contract (no-op when it already matches)."""
    canon = CANONICAL[name]
    if df.dtypes == canon:
        return df
    have = dict(df.dtypes)
    missing = [c for c, _ in canon if c not in have]
    if missing:
        raise ValueError(
            f"{name}: file is missing catalog columns {missing}"
        )
    # Narrowing casts (a vintage that wrote bigint where the catalog
    # says int) are safe here because the engine runs Spark 4's
    # default ANSI mode: an out-of-range value raises CAST_OVERFLOW
    # at scan time instead of silently wrapping. Widening casts are
    # value-preserving by construction.
    return df.select(
        *[
            F.col(c).cast(t).alias(c) if have[c] != t else F.col(c)
            for c, t in canon
        ]
    )


def _read_mixed_vintage(
    spark: SparkSession, name: str, path: str
) -> DataFrame | None:
    """Directory tables written by several producers over time can
    hold parquet files with DIFFERENT physical schemas — and Spark
    can neither mergeSchema int32/int64 footers nor scan a
    decimal-physical file through a double read schema. Group the
    part files by footer schema, normalize each homogeneous group
    to the catalog contract, and union.

    Returns None when the directory is schema-homogeneous (the
    common case — one footer read per file, driver-side, then the
    ordinary single-scan path). A production lake at 100 TB should
    carry schema in table-format metadata (Delta/Iceberg) instead
    of footers; this path is the plain-parquet fallback."""
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if len(files) < 2:
        return None
    groups: dict[tuple, list[str]] = {}
    for f in files:
        key = tuple(read_parquet(spark, f).dtypes)
        groups.setdefault(key, []).append(f)
    if len(groups) < 2:
        return None
    from functools import reduce

    parts = [
        _normalize(name, _adapt_timestamps(name, read_parquet(spark, *fs)))
        for fs in groups.values()
    ]
    return reduce(DataFrame.unionByName, parts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. No cache, no collect — a pure plan
    (unless the table was explicitly pinned via cache_table)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    pinned = _PINNED.get((sf_dir.rstrip("/"), name))
    if pinned is not None:
        return pinned
    # Self-sufficient under ANY SparkSession (not just session.get_spark()):
    # some generations of events.parquet store TIMESTAMP(NANOS), which Spark
    # only reads with nanosAsLong; timestamp literals in downstream plans
    # assume UTC. Both confs are runtime-settable, so pin them at read time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        mixed = _read_mixed_vintage(spark, name, path)
        if mixed is not None:
            return mixed
    # schema-on-read normalization against the catalog contract (see
    # CANONICAL): no-op when the file already matches — the common
    # case stays a bare scan with full pushdown; a drifted vintage
    # pays one value-preserving Project. int32→bigint compares are
    # still pushed to parquet (UnwrapCastInBinaryComparison).
    return _normalize(name, _adapt_timestamps(name, read_parquet(spark, path)))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables as a dict of plans."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
