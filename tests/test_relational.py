"""Unit tests for join helpers: hot-key equi join, wildcard rules,
rank pick, outer-merge-coalesce, band join."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_examples_spark.operators.relational import (
    band_join,
    equi_join,
    outer_merge_coalesce,
    rank_pick,
    wildcard_rule_join,
)


# Confs that make a small fixture look skewed to adaptive execution: no
# broadcast (the join must shuffle), and a partition counts as skewed at
# 2× the median and 1 KB instead of 5× and 256 MB.
_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
}


def test_equi_join_hot_key_uses_aqe_skew_join(spark):
    """The reference's manual salt (sas_conversion_with_manual_salt_skewed_join.sql)
    is a plain ``equi_join`` here: one key holds 60% of the fact rows,
    the join shuffles, and adaptive execution's skew join splits the hot
    partition at run time. Rows (inner, and left with unmatched fact
    keys) equal a driver-side reference."""
    n, hot = 20_000, 12_000
    fact = spark.range(n).selectExpr(
        f"CASE WHEN id < {hot} THEN 0 ELSE id % 1000 END AS k", "id AS v"
    )
    dim = spark.range(1000).filter("id % 7 != 3").selectExpr(
        "id AS k", "concat('n', CAST(id AS STRING)) AS name"
    )
    names = {k: f"n{k}" for k in range(1000) if k % 7 != 3}
    keys = [0 if v < hot else v % 1000 for v in range(n)]
    assert keys.count(0) / n >= 0.5
    expected = {
        "inner": sorted((k, v, names[k]) for v, k in enumerate(keys) if k in names),
        "left": sorted((k, v, names.get(k)) for v, k in enumerate(keys)),
    }
    saved = {key: spark.conf.get(key, None) for key in _SKEW_CONFS}
    try:
        for key, value in _SKEW_CONFS.items():
            spark.conf.set(key, value)
        for how in ("inner", "left"):
            out = equi_join(fact, dim, "k", how=how)
            got = sorted((r.k, r.v, r.name) for r in out.collect())
            assert got == expected[how], how
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, plan
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def test_wildcard_rule_join_priority(spark):
    fact = spark.createDataFrame(
        [(1, "A", "X"), (2, "B", "Y"), (3, "C", "Z")], "id int, f1 string, f2 string"
    )
    rules = spark.createDataFrame(
        [(10, "A", "*", "r1"), (20, "*", "Y", "r2"), (99, "*", "*", "fallback")],
        "priority int, r1 string, r2 string, tag string",
    )
    out = wildcard_rule_join(
        fact, rules, {"r1": "f1", "r2": "f2"}, priority_col="priority", pick_per=["id"]
    )
    got = {(r.id, r.tag) for r in out.collect()}
    assert got == {(1, "r1"), (2, "r2"), (3, "fallback")}


def test_wildcard_rule_join_null_safe(spark):
    fact = spark.createDataFrame([(1, None)], "id int, f1 string")
    rules = spark.createDataFrame(
        [(1, None, "null-rule"), (2, "*", "star-rule")],
        "priority int, r1 string, tag string",
    )
    out = wildcard_rule_join(
        fact, rules, {"r1": "f1"}, priority_col="priority", pick_per=["id"]
    )
    assert [r.tag for r in out.collect()] == ["null-rule"]


def test_rank_pick_row_number(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 5.0)], "k string, id int, v double"
    )
    out = rank_pick(df, "k", [F.col("v").desc()], use_row_number=True)
    assert {(r.k, r.id) for r in out.collect()} == {("a", 2), ("b", 3)}


def test_outer_merge_coalesce_prefers_new(spark):
    old = spark.createDataFrame([(1, "old1", "x"), (2, "old2", "y")], "k int, a string, b string")
    new = spark.createDataFrame([(2, "new2", None), (3, "new3", "z")], "k int, a string, b string")
    out = outer_merge_coalesce(old, new, ["k"])
    got = {(r.k, r.a, r.b) for r in out.collect()}
    assert got == {(1, "old1", "x"), (2, "new2", "y"), (3, "new3", "z")}


def test_band_join(spark):
    vals = spark.createDataFrame([(5,), (20,), (99,)], "v int")
    bands = spark.createDataFrame(
        [("lo", 0, 9), ("mid", 10, 50)], "band string, lo int, hi int"
    )
    out = band_join(vals, bands, "v", "lo", "hi", how="left")
    got = {(r.v, r.band) for r in out.collect()}
    assert got == {(5, "lo"), (20, "mid"), (99, None)}


def test_snapshot_diff_statuses(spark):
    from data_pipelines_examples_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, name string, bal double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 21.0), (3, "c", 30.0), (5, "e", 50.0)],
        "k int, name string, bal double",
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, "k").collect()}
    assert set(out) == {2, 3, 4, 5}  # k=1 unchanged -> dropped
    assert out[2]["diff_status"] == "changed"
    assert sorted(out[2]["changed_cols"]) == ["bal", "name"]
    assert out[3]["diff_status"] == "changed"  # NULL -> value is a change
    assert out[3]["changed_cols"] == ["bal"]
    assert out[4]["diff_status"] == "removed" and out[4]["changed_cols"] == []
    assert out[5]["diff_status"] == "added" and out[5]["changed_cols"] == []
    full = snapshot_diff(old, new, "k", include_unchanged=True)
    assert {r["k"]: r["diff_status"] for r in full.collect()}[1] == "unchanged"


def test_snapshot_diff_roundtrip_with_cdc(spark):
    """apply_cdc then snapshot_diff reconciles exactly to the log."""
    from data_pipelines_examples_spark.operators.dedup import apply_cdc
    from data_pipelines_examples_spark.operators.relational import snapshot_diff

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    changes = spark.createDataFrame(
        [(2, "b2", "U", 1), (3, "c", "I", 1), (1, "a", "D", 1)],
        "k int, v string, op string, ver int",
    )
    new = apply_cdc(base, changes, "k", "op", "ver")
    diff = {r["k"]: r["diff_status"] for r in snapshot_diff(base, new, "k").collect()}
    assert diff == {1: "removed", 2: "changed", 3: "added"}


def test_fuzzy_join_matches_bruteforce(spark):
    """Length-band blocking is lossless: result equals the all-pairs
    Levenshtein filter."""
    from data_pipelines_examples_spark.operators.relational import fuzzy_join

    left = spark.createDataFrame(
        [(1, "Kitten"), (2, "apple"), (3, "spark")], "lid int, name string"
    )
    right = spark.createDataFrame(
        [(10, "sitting"), (11, "aple"), (12, "sparc"), (13, "zzzzzzzzz")],
        "rid int, label string",
    )
    out = fuzzy_join(left, right, "name", "label", max_distance=2)
    got = {(r["lid"], r["rid"], r["edit_distance"]) for r in out.collect()}

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def rec(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                rec(i - 1, j) + 1,
                rec(i, j - 1) + 1,
                rec(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return rec(len(a), len(b))

    expected = set()
    for lid, a in [(1, "kitten"), (2, "apple"), (3, "spark")]:
        for rid, b in [(10, "sitting"), (11, "aple"), (12, "sparc"), (13, "zzzzzzzzz")]:
            if lev(a, b) <= 2:
                expected.add((lid, rid, lev(a, b)))
    assert got == expected
    assert (2, 11, 1) in got and (3, 12, 1) in got  # apple~aple, spark~sparc


def test_fuzzy_join_prefix_block_drops_initial_typos(spark):
    from data_pipelines_examples_spark.operators.relational import fuzzy_join

    left = spark.createDataFrame([(1, "kitten")], "lid int, name string")
    right = spark.createDataFrame([(10, "sitten")], "rid int, label string")
    # one edit apart, but first chars differ -> prefix blocking loses it
    assert fuzzy_join(left, right, "name", "label", 2).count() == 1
    assert fuzzy_join(left, right, "name", "label", 2, block="prefix").count() == 0
