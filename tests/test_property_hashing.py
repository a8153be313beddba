"""Property-based test: the portable 60-bit hash is bit-identical between
Spark and DuckDB over arbitrary unicode strings — the invariant every
full-replication oracle (minhash/simhash/fingerprint) rests on."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from data_pipelines_examples_spark.functions.hashing import (
    hash64,
    hash64_sql,
    portable_hash64,
    sql_hash64,
)

# Printable-ish unicode without surrogates (parquet/arrow-safe); includes
# multibyte, quotes, whitespace, empty string.
texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        max_size=40,
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(strings=texts)
def test_portable_hash_matches_duckdb(spark, strings):
    import duckdb

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got_spark = [r.h for r in df.select(portable_hash64(F.col("s")).alias("h")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {sql_hash64('?')}".replace("md5(?)", "md5(CAST(? AS VARCHAR))"), [s]).fetchone()[0]
        for s in strings
    ]
    assert got_spark == got_duck


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(strings=texts)
def test_hash64_sql_text_matches_column_form(spark, strings):
    """The Spark SQL text of ``hash64`` (what the MinHash operators parse)
    computes the Column form's values on both hash paths, seeded or not."""
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    forms = [(how, seed) for how in ("xxhash64", "portable") for seed in (None, 0, 7)]
    cols, exprs = [], []
    for i, (how, seed) in enumerate(forms):
        cols.append(hash64(F.col("s"), seed=seed, how=how).alias(f"c{i}"))
        exprs.append(F.expr(hash64_sql("s", seed, how)).alias(f"e{i}"))
    for r in df.select(*cols, *exprs).collect():
        assert [r[f"c{i}"] for i in range(len(forms))] == [
            r[f"e{i}"] for i in range(len(forms))
        ]
