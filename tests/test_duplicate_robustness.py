"""Oracle parity on ADVERSARIAL duplicate data: a 2-replica
key-shifted build of sf0.001 (tools_make_scale.py sf1) where
supplier/customer/part NAMES, document TEXTS, and event TIMESTAMPS
all occur twice. This is the input class that exposed the r6 q21 bug
(Spark grouped waiting counts by suppkey, the TPC-H oracle by
s_name — identical on unique names, divergent on duplicates).

The slice is every oracle-backed query whose semantics hinge on
grouping/ranking by a non-key natural attribute or on ties: name
groupings, rank/top-k cutoffs, tied-timestamp windows, duplicate
texts through dedup. A full-150 duplicate sweep ran green in r6;
this test keeps the sensitive core under regression.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
import tools_make_scale
from tests.oracle import assert_matches_oracle

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()

SENSITIVE = [
    # name-grouped / name-output TPC-H shapes
    "q2_min_cost_supplier",
    "q15_top_supplier",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "q_top_parts_per_brand",
    "q13_order_distribution",
    "q_rollup_region",
    "q_cube_status_priority",
    # tied timestamps through windows / sessions / medians / top-k
    # (r11: CEP sequences and Markov transitions order by (sec,
    # event_id) — the duplicated-timestamp build exercises exactly
    # that tie-break; hybrid RRF exercises rank ties on duplicate
    # texts; stratified sampling exercises doubled strata)
    "events_cep_pattern",
    "events_markov_transitions",
    "search_hybrid_rrf",
    "data_stratified_sample",
    "events_sessionize",
    "events_median",
    "events_windowed_topk",
    "events_funnel",
    "events_asof_join",
    # duplicate texts through dedup / fingerprints / retrieval
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_chunks",
    "dedup_spans",
    "dedup_survivors",
    "text_winnow",
    "text_commonness",
    "vocab_top_ngrams",
    "search_bm25",
    "search_phrase",
    "data_cap_domains",
    "doc_length_hist",
]


@pytest.fixture(scope="module")
def rep2_dir(tmp_path_factory, sf_dir):
    out = str(tmp_path_factory.mktemp("rep2"))
    tools_make_scale.build("sf1", sf_dir, out, 2)
    return out


@pytest.mark.parametrize("name", SENSITIVE)
def test_duplicate_data_parity(name, spark, rep2_dir):
    df = QUERIES[name](spark, rep2_dir)
    assert_matches_oracle(df, ORACLES[name], rep2_dir)
