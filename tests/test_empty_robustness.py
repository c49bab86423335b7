"""Oracle parity on EMPTY inputs: 0-row (schema-complete)
documents / events / embeddings tables, plus the vanished-category
build (a whole event_type / language / order-quarter removed).

The r7 adversarial sweep (tools_adversarial_sweep.py empty_tables)
caught six crashes on the 0-row build — none on the vanished-
category build — all of the same species: driver-side scalars
derived from the data (watermark anchors, query-vector matrices,
token totals) silently assumed ≥1 row.

Contract pinned here: an empty input flows through every operator
as the empty relation (or the single global-agg row with NULL
ratios), never a crash —
- watermark anchors collect NULL max(ts) -> the cutoff literal is
  CAST to timestamp so the stream filter type-checks and keeps
  nothing (plans/extras.py ST8/ST10/ST11),
- the ST9 two-sided anchor uses min(..., default=None) instead of
  min() over an empty collect,
- brute-force ANN returns the empty relation when the query set is
  empty instead of np.stack([]) on the driver,
- vocab_coverage emits its global-agg row with NULL coverages via
  try_divide (oracle: NULLIF divisor) instead of an ANSI
  divide-by-zero abort.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.oracle import assert_matches_oracle

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()

# the six r7 sweep finds + neighbors on the same code paths
SENSITIVE_EMPTY_TABLES = [
    "ann_topk",
    "ann_rp_topk",
    # index lifecycle on a 0-row corpus: the empty-build publish, the
    # lineage-only refresh commit and the compaction of empty segments
    "ann_index_build",
    "ann_index_refresh",
    "ann_compacted_query",
    "ann_rp_rerank",
    "search_hybrid_rrf",
    "data_stratified_sample",
    "snapshot_diff",
    "stream_agg_incremental",
    # empty documents / embeddings reach staged_stream's backfill:
    # every slice drains as an empty batch
    "stream_quality_probe",
    "stream_drift_monitor",
    "stream_index_refresh",
    "events_cep_pattern",
    "events_markov_transitions",
    "graph_label_prop",
    "graph_label_prop_indexed",
    "emb_pca",
    "emb_drift_report",
    "text_pii_audit",
    "events_attribution",
    "events_ohlc_bars",
    "stream_ohlc_bars",
    "ann_filtered_topk",
    "ann_filtered_pq",
    "search_mmr",
    "text_quality_probe",
    "text_quality_probe_incremental",
    "dedup_containment_bottomk",
    "events_ab_test",
    "text_line_boilerplate",
    "dedup_containment",
    "vocab_bpe_encode",
    "vocab_coverage",
    "stream_session_window",
    "stream_stream_left_join",
    "stream_windowed_topk",
    "stream_anomaly_alerts",
    "stream_events_window",
    "dedup_exact",
    "text_tfidf",
    "search_bm25",
    "data_token_budget",
    "doc_length_hist",
]

# group-vanishes build: anti-join / NOT-IN / groupBy shapes
SENSITIVE_EMPTY_SLICES = [
    "events_funnel",
    "events_retention",
    "events_gapfill",
    "q21_waiting_suppliers",
    "q22_global_sales",
    "dedup_cross_source",
    "text_lang_id",
]


@pytest.fixture(scope="module")
def empty_tables_dir(tmp_path_factory, sf_dir):
    out = str(tmp_path_factory.mktemp("empty_tables"))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    for t in ("documents", "events", "embeddings"):
        con.execute(
            f"""COPY (SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')
                 WHERE 1 = 0)
                TO '{out}/{t}.parquet' (FORMAT PARQUET)"""
        )
    return out


@pytest.fixture(scope="module")
def empty_slices_dir(tmp_path_factory, sf_dir):
    out = str(tmp_path_factory.mktemp("empty_slices"))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "lineitem", "embeddings"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{sf_dir}/events.parquet')
             WHERE event_type != 'click')
            TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet')
             WHERE lang != 'de')
            TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{sf_dir}/orders.parquet')
             WHERE NOT (o_orderdate >= DATE '1996-01-01'
                        AND o_orderdate < DATE '1996-04-01'))
            TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    return out


@pytest.mark.parametrize("name", SENSITIVE_EMPTY_TABLES)
def test_empty_tables_parity(name, spark, empty_tables_dir):
    df = QUERIES[name](spark, empty_tables_dir)
    assert_matches_oracle(df, ORACLES[name], empty_tables_dir)


@pytest.mark.parametrize("name", SENSITIVE_EMPTY_SLICES)
def test_empty_slices_parity(name, spark, empty_slices_dir):
    df = QUERIES[name](spark, empty_slices_dir)
    assert_matches_oracle(df, ORACLES[name], empty_slices_dir)


def test_snapshot_diff_empty_orders(spark, tmp_path, sf_dir):
    # 0-row orders: the manifest diff sees no partitions at all and
    # the differ must return the typed empty relation rather than
    # fail schema inference on a partitionless parquet dir
    out = str(tmp_path)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{sf_dir}/orders.parquet')
             WHERE 1 = 0) TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    assert_matches_oracle(
        QUERIES["snapshot_diff"](spark, out), ORACLES["snapshot_diff"], out
    )
