"""Output checks, run once per run after the timed passes.

Every operation's rows come from the cold pass, which collects them.
- Operations with a DuckDB oracle in ``__spark_entry__.oracle_sql()``
  must match it as an order-insensitive multiset of normalized rows
  (floats to 6 decimals, columns matched by name).
- ``ann_ivf`` and ``ann_pq`` have no oracle; their recall@5 against
  the exact top-5 of the ``ann_topk`` oracle must reach
  ``workloads.RECALL_FLOORS``.
- The load stage must round-trip: the merge-on-read reads before and
  after compaction each equal the last-writer-wins view DuckDB
  computes from the same upsert batch, the merged table equals the
  orders with the merge batch applied, and the segmented write holds
  every input row.
"""

from __future__ import annotations

import math
import os

from etl_npl_pipeline_spark.sources.tables import TABLES
from perfbench import workloads as wl


def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows re-ordered to match and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    return canonical(cols_a, rows_a) == canonical(cols_b, rows_b)


def recall_at_5(exact: list[tuple], cols_e: list[str],
                approx: list[tuple], cols_a: list[str]) -> float:
    """Mean over queries of |approx top-5 ∩ exact top-5| / 5."""
    def top(rows, cols):
        q, n, r = cols.index("query_id"), cols.index("neighbor_id"), cols.index("rank")
        out: dict[int, set] = {}
        for row in rows:
            if row[r] <= 5:
                out.setdefault(row[q], set()).add(row[n])
        return out

    want, got = top(exact, cols_e), top(approx, cols_a)
    if not want:
        return 0.0
    return sum(len(want[q] & got.get(q, set())) / 5.0 for q in want) / len(want)


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _query(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _bumped_orders(residue: int, bump: float) -> str:
    """Orders with o_totalprice raised by ``bump`` where the key has
    ``residue``."""
    price = (
        f"CASE WHEN o_orderkey % {wl.KEY_MODULUS} = {residue} "
        f"THEN o_totalprice + CAST({bump} AS DOUBLE) ELSE o_totalprice END"
    )
    return (
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        f"{price} AS o_totalprice, o_orderdate, o_orderpriority FROM orders"
    )


def check_run(spark, data_dir: str, runner) -> list[dict]:
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = _duckdb(data_dir)
    cold = runner.passes[0]
    results = {o["name"]: o for o in cold["ops"] if o.get("rows") is not None}
    verdicts: list[dict] = []

    def verdict(name: str, ok: bool, detail: str = "", **extra) -> None:
        verdicts.append({"name": name, "ok": bool(ok), "detail": detail, **extra})

    for name, rec in results.items():
        if name in oracles:
            cols, rows = _query(con, oracles[name])
            ok = same_rows(rec["cols"], rec["rows"], cols, rows)
            verdict(name, ok, f"spark {len(rec['rows'])} rows, oracle {len(rows)} rows")

    exact = None
    for name, floor in wl.RECALL_FLOORS.items():
        if name in results:
            exact = exact or _query(con, oracles["ann_topk"])
            r = recall_at_5(exact[1], exact[0], results[name]["rows"], results[name]["cols"])
            verdict(name, r >= floor, f"recall@5 {r:.3f} (floor {floor})", recall=r)

    ctx = runner.ctx
    read = results.get("sinks_mor_read")
    if read is not None:
        cols, rows = _query(con, _bumped_orders(ctx.mor_residue, wl.MOR_BUMP))
        verdict("sinks_mor_read", same_rows(read["cols"], read["rows"], cols, rows),
                "after one upsert")
        comp = results.get("sinks_mor_read_compacted")
        verdict("sinks_mor_read_compacted",
                comp is not None and same_rows(comp["cols"], comp["rows"], cols, rows),
                "compacted read equals the reconciled view")
    out = os.path.join(os.getcwd(), "out", "pass0")
    if "sinks_merge_upsert" in wl.op_names(runner.args.workload):
        cols, rows = _query(con, _bumped_orders(ctx.merge_residue, wl.MERGE_BUMP))
        merged = spark.read.parquet(os.path.join(out, "merge"))
        ok = same_rows(merged.columns, [tuple(r) for r in merged.collect()], cols, rows)
        verdict("sinks_merge_upsert", ok, "last writer wins per key")
    if "sinks_write_segmented" in wl.op_names(runner.args.workload):
        path = os.path.join(out, "segmented", "run")
        n = spark.read.option("header", "true").csv(path).count()
        want = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
        verdict("sinks_write_segmented", n == want, f"{n} rows written, {want} expected")
    con.close()
    return verdicts
