"""Runs every queries() entry that has an oracle against DuckDB at
sf0.001 — the same comparison the driver performs at sf0.01."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle import assert_matches_oracle

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ORACLES[name], sf_dir)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
