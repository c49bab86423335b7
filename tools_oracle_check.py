#!/usr/bin/env python
"""DuckDB-oracle check of the driver contract at one scale factor.

Each query (every query when none is named) runs on Spark. One with
an oracle_sql() twin is compared against DuckDB the way the tests
compare (tests/oracle.py: column names, then the order-insensitive
value canon with columns sorted by name), plus the pandas dtypes the
driver's stricter hasher sees: integer widths and timestamp units are
tolerated, decimal-vs-int and date-vs-timestamp are not. A query
without an oracle reports its row count (rows-only). Directory tables
(mixed-vintage builds) read through the same DuckDB views as the tests.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
       python tools_oracle_check.py [<query> ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark  # noqa: E402
from tests.oracle import _canon, duck_con  # noqa: E402


def _dtypes(pdf) -> list[str]:
    """Column dtypes in column-name order, at the hasher's tolerance."""
    out = []
    for c in sorted(pdf.columns):
        s = str(pdf[c].dtype)
        if s.startswith(("int", "uint")):
            s = "int"
        elif s.startswith("datetime64"):
            s = "ts"
        out.append(s)
    return out


def _check(spark, con, fn, sql, sf) -> tuple[bool | None, str]:
    """(verdict, report): verdict None for a rows-only query."""
    sdf = fn(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        return None, f"rows={len(srows)} (rows-only)"
    o = con.execute(sql)
    ocols = [d[0] for d in o.description]
    scols = sdf.columns
    ok = sorted(scols) == sorted(ocols) and (
        _canon(srows, scols) == _canon(o.fetchall(), ocols)
    )
    report = f"rows={len(srows)} match={ok}"
    if ok:
        dt_s = _dtypes(sdf.toPandas())
        dt_o = _dtypes(con.execute(sql).fetchdf())
        if dt_s != dt_o:
            ok, report = False, f"{report} dtypes spark={dt_s} oracle={dt_o}"
    return ok, report


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("oracle-check")
    con = duck_con(sf)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_match = n_rows_only = 0
    failed = []
    for name in sys.argv[1:] or queries:
        t0 = time.time()
        try:
            ok, report = _check(spark, con, queries[name], oracles.get(name), sf)
        except Exception as ex:  # report it and keep sweeping
            ok, report = False, f"ERR {type(ex).__name__}: {str(ex)[:200]}"
        print(f"{name}: {report} {time.time() - t0:.1f}s", flush=True)
        if ok is None:
            n_rows_only += 1
        elif ok:
            n_match += 1
        else:
            failed.append(name)
    print(f"{n_match} match + {n_rows_only} rows-only, {len(failed)} failed",
          flush=True)
    if failed:
        print("FAILED: " + ",".join(failed), flush=True)
        sys.exit(1)
    print("ALL_MATCH", flush=True)


if __name__ == "__main__":
    main()
