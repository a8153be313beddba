"""Smoke: every catalog query runs at sf0.001 and returns a stable schema;
entry() works. Full value parity vs DuckDB runs in tools/check_oracle.py
(and in the driver's t2 gate at sf0.01)."""

from __future__ import annotations

import pytest

from data_pipelines_examples_spark import queries as catalog

from conftest import SF_SMOKE


@pytest.mark.parametrize("name", sorted(catalog.queries()))
def test_query_runs(spark, name):
    fn = catalog.queries()[name]
    df = fn(spark, SF_SMOKE)
    assert df.columns  # schema resolves
    assert df.count() >= 0


def test_every_oracle_has_query():
    qs, os_ = catalog.queries(), catalog.oracle_sql()
    assert set(os_) <= set(qs)


# Catalog entries that legitimately carry no oracle: engine-specific
# (xxhash64) by design — DuckDB lacks the hash, so their portable md5
# twins q33/q34 are the oracle-checked surface.
NO_ORACLE_ALLOWED = {
    "q87_minhash_fast_path",
    "q88_simhash_fast_path",
}


def test_every_catalog_entry_has_oracle_unless_allowed():
    names = set(catalog.queries())
    oracles = set(catalog.oracle_sql())
    missing = names - oracles - NO_ORACLE_ALLOWED
    assert not missing, f"entries without oracle or allowlist reason: {missing}"
    stale = NO_ORACLE_ALLOWED - names
    assert not stale, f"allowlist names unknown entries: {stale}"


def test_entry(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
