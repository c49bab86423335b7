"""Invariants of the scale builds (tools_make_scale.py): the scale
points in sf1_top30.json / sf10_top10.json / sf1_skewed.json /
sf1_correctness.json are only meaningful if each build keeps FK
integrity within replicas, scales fact cardinalities exactly by the
replica count, keeps fixed dims fixed, actually decorrelates document
text across replicas, and (skewed build) really plants its hot keys.
Pure-DuckDB checks on tiny builds of the test scale factor — no Spark
session needed."""

from __future__ import annotations

import duckdb
import pytest

import tools_make_scale as gen
from tests.conftest import SF_DIR

BUILDS = list(gen.BUILDS)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "events")


@pytest.fixture(scope="module", params=BUILDS)
def build(request, tmp_path_factory):
    out = str(tmp_path_factory.mktemp(request.param))
    gen.build(request.param, SF_DIR, out, 2)
    return request.param, out


def _con(out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
        con.execute(
            f"CREATE VIEW src_{t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def test_cardinalities_scale_and_dims_stay_fixed(build):
    con = _con(build[1])
    for t in ("customer", "orders", "lineitem", "documents", "events"):
        n1 = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        n0 = con.execute(f"SELECT COUNT(*) FROM src_{t}").fetchone()[0]
        assert n1 == 2 * n0, t
    for t in ("region", "nation"):
        n1 = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        n0 = con.execute(f"SELECT COUNT(*) FROM src_{t}").fetchone()[0]
        assert n1 == n0, t


def _orphans(con, child, fk, parent, key):
    return con.execute(
        f"SELECT COUNT(*) FROM {child} c LEFT JOIN {parent} p "
        f"ON c.{fk} = p.{key} WHERE p.{key} IS NULL"
    ).fetchone()[0]


def test_fk_integrity_within_replicas(build):
    con = _con(build[1])
    assert _orphans(con, "orders", "o_custkey", "customer", "c_custkey") == 0
    assert _orphans(con, "lineitem", "l_orderkey", "orders", "o_orderkey") == 0
    # the skewed build re-points these at its hot supplier and part
    assert _orphans(con, "lineitem", "l_suppkey", "supplier", "s_suppkey") == 0
    assert _orphans(con, "lineitem", "l_partkey", "part", "p_partkey") == 0


def test_keys_unique_across_replicas(build):
    con = _con(build[1])
    for t, k in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                 ("documents", "doc_id"), ("events", "event_id")):
        n, nd = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT {k}) FROM {t}"
        ).fetchone()
        assert n == nd, t


def _text_decorrelated(con, replica):
    """Replica ``replica``'s text differs from replica 0's (cipher
    applied) and n_chars stays truthful (the cipher is
    length-preserving)."""
    same = con.execute(
        "SELECT COUNT(*) FROM documents a JOIN documents b "
        f"ON b.doc_id = a.doc_id + {replica} * 1000000 AND b.text = a.text "
        "WHERE a.doc_id < 1000000 AND length(a.text) > 0"
    ).fetchone()[0]
    total = con.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id < 1000000 "
        "AND length(text) > 0"
    ).fetchone()[0]
    assert same < total * 0.05, (same, total)
    bad = con.execute(
        "SELECT COUNT(*) FROM documents WHERE length(text) <> n_chars"
    ).fetchone()[0]
    base_bad = con.execute(
        "SELECT COUNT(*) FROM src_documents WHERE length(text) <> n_chars"
    ).fetchone()[0]
    return bad, base_bad


def test_documents_decorrelated_but_length_preserved(build):
    bad, base_bad = _text_decorrelated(_con(build[1]), 1)
    assert bad == 2 * base_bad  # no new length drift introduced


@pytest.mark.parametrize("build", ["sf1_skewed"], indirect=True)
def test_skewed_hot_keys_take_their_planted_shares(build):
    """Every row a skew rule selects carries the one hot key, and that
    key's share is at least the rule's share of the table."""
    con = _con(build[1])
    rules = [
        ("orders", "o_custkey", "o_orderkey % 5 = 0", 0.2),
        ("lineitem", "l_suppkey", "l_orderkey % 10 = 3", 0.1),
        ("lineitem", "l_partkey", "l_orderkey % 10 = 7", 0.1),
        ("events", "user_id", "event_id % 10000000 % 7 = 0", 1 / 7),
    ]
    for table, col, rule, planted in rules:
        hot, n_hot_vals = con.execute(
            f"SELECT MIN({col}), COUNT(DISTINCT {col}) FROM {table} "
            f"WHERE {rule}"
        ).fetchone()
        assert n_hot_vals == 1, (table, col)
        share = con.execute(
            f"SELECT AVG(CAST({col} = {hot} AS DOUBLE)) FROM {table}"
        ).fetchone()[0]
        assert share >= 0.9 * planted, (table, col, share)


def test_sf10_cipher_past_26_replicas_is_not_a_rotation(tmp_path):
    """Replica 26 is the first whose affine cipher has a != 1: its
    text must still differ from replica 0's, keep its length, and its
    letter map must be no rotation of the alphabet. Below 26 the
    cipher is the sf1 rotation by 7i."""
    out = str(tmp_path / "sf10_27")
    gen.build("sf10", SF_DIR, out, 27)
    con = _con(out)
    n = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    n0 = con.execute("SELECT COUNT(*) FROM src_documents").fetchone()[0]
    assert n == 27 * n0
    bad, base_bad = _text_decorrelated(con, 26)
    assert bad == 27 * base_bad
    src_a, dst_a = gen.cipher(26)
    rotations = {gen.ALPHA[k:] + gen.ALPHA[:k] for k in range(26)}
    assert dst_a[:26] not in rotations
    assert sorted(dst_a[:26]) == sorted(gen.ALPHA)  # still a bijection
    for i in range(26):
        k = (i * 7) % 26
        rot = gen.ALPHA[k:] + gen.ALPHA[:k]
        assert gen.cipher(i) == (gen.ALPHA + gen.ALPHA.upper(),
                                 rot + rot.upper())


@pytest.mark.parametrize("name", BUILDS)
def test_key_shift_guard_rejects_colliding_source(name, tmp_path):
    """A source key at or above its shift stride would collide across
    replicas: every build refuses it before writing anything."""
    src = tmp_path / "src"
    src.mkdir()
    con = duckdb.connect()
    for t in (*TABLES, "embeddings"):
        sel = "*"
        if t == "orders":
            sel = "* REPLACE (o_orderkey + 10000000 AS o_orderkey)"
        con.execute(
            f"COPY (SELECT {sel} FROM '{SF_DIR}/{t}.parquet') "
            f"TO '{src}/{t}.parquet' (FORMAT PARQUET)"
        )
    out = tmp_path / "out"
    with pytest.raises(SystemExit, match="orders.o_orderkey .* collide"):
        gen.build(name, str(src), str(out), 2)
    assert not list(out.glob("*.parquet"))
