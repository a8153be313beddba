"""Round-10 fixes, pinned.

1. cache.py's last documented race is closed (r9 review item 6): the arm
   (persist + registry append) and every release (equal-plan check +
   unpersist) are mutually exclusive critical sections under the one
   registry lock, so a cached-but-unregistered frame can no longer lose
   its shared cache entry to a concurrent drain. Pinned as a LOCK
   INVARIANT (persist/unpersist only run while the registry lock is
   owned) plus a cross-thread behavioral check.
2. The itemsets unguarded null-basket fix is pinned in
   tests/test_property_funnel.py. (The round also pinned salted_join's
   parallelism-aware default; the operator has since been deleted in
   favour of a plain join under AQE skew handling.)
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

try:  # PySpark 4: concrete instances are the classic DataFrame
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover — PySpark 3 fallback
    from pyspark.sql import DataFrame


def test_arm_and_release_hold_registry_lock(spark, monkeypatch):
    """The race-freedom argument is exactly this invariant: persist()
    inside persist_internal and unpersist() inside both drains run while
    the registry lock is OWNED, so an arm is either fully visible to a
    release's equal-plan check or strictly after the unpersist (where it
    re-creates the cache entry). Wrap the JVM calls and assert lock
    ownership at each call site."""
    from data_pipelines_examples_spark import cache

    cache.release_cached()
    calls = {"persist": 0, "unpersist": 0}
    real_persist = DataFrame.persist
    real_unpersist = DataFrame.unpersist

    def pinned_persist(self, *a, **kw):
        assert cache._LOCK._is_owned(), "persist() outside the registry lock"
        calls["persist"] += 1
        return real_persist(self, *a, **kw)

    def pinned_unpersist(self, *a, **kw):
        assert cache._LOCK._is_owned(), "unpersist() outside the registry lock"
        calls["unpersist"] += 1
        return real_unpersist(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", pinned_persist)
    monkeypatch.setattr(DataFrame, "unpersist", pinned_unpersist)

    df = cache.persist_internal(spark.range(20).select((F.col("id") * 7).alias("v")))
    df.count()
    assert calls["persist"] == 1
    # scope-exit path
    with cache.internal_persist_scope():
        cache.persist_internal(spark.range(5).select((F.col("id") + 99).alias("w"))).count()
    # global-drain path
    assert cache.release_cached() >= 1
    assert calls["unpersist"] >= 2


def test_concurrent_arm_survives_global_drain(spark, monkeypatch):
    """Cross-thread behavioral form of the closed race: an equal-plan
    arm that starts DURING release_cached's unpersist must either be
    deferred to (still-registered check) or serialized strictly after
    the unpersist, re-creating the cache entry — in both orderings the
    armer ends up with a CACHED frame, never the silent-recompute state
    the old window allowed. The unpersist is slowed under the lock to
    force the overlap deterministically."""
    import time

    from data_pipelines_examples_spark import cache

    cache.release_cached()
    plan = spark.range(100).select((F.col("id") * 11).alias("v"))
    first = cache.persist_internal(plan.filter("v > 22"))
    first.count()

    real_unpersist = DataFrame.unpersist
    in_unpersist = threading.Event()

    def slow_unpersist(self, *a, **kw):
        in_unpersist.set()
        time.sleep(0.4)  # widen the window the arm must NOT slip into
        return real_unpersist(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "unpersist", slow_unpersist)

    holder = {}

    def late_arm():
        in_unpersist.wait(timeout=10)
        # blocks on the registry lock until the drain's critical
        # section completes, then persists — re-creating the entry
        holder["df"] = cache.persist_internal(plan.filter("v > 22"))

    t = threading.Thread(target=late_arm)
    t.start()
    cache.release_cached(blocking=True)
    t.join(timeout=30)
    assert not t.is_alive()
    assert cache._is_cached(holder["df"]), (
        "equal-plan arm overlapping a global drain lost its cache entry"
    )
    monkeypatch.setattr(DataFrame, "unpersist", real_unpersist)
    assert cache.release_cached() >= 1


def test_replicate_past_caesar_wrap(tmp_path):
    """r10 (r9 review item 4): --replicate=K now supports K in (26, 100]
    for the 100x rung. Pins for the 26+ regime: (a) every pair of
    replica char tables agrees on at most _MAX_LETTER_AGREEMENT
    lowercase letters (full pairwise derangement is pigeonhole-
    impossible past 26 tables; the bound keeps any real text from
    colliding across replicas and caps cross-replica shared grams),
    (b) embedding transforms are pairwise distinct orthogonal maps (no
    exact cross-replica vector dups), and (c) the core dataset
    invariants (K x rows, constant per-key multiplicity, linear join
    workload) hold across the wrap."""
    import os
    import sys

    import duckdb

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from resample_testdata import _MAX_LETTER_AGREEMENT, _char_tables, replicate

    # (a) bounded pairwise agreement, across the Caesar/permutation
    # boundary included; replicas 0-25 stay full derangements (Caesar)
    tables = _char_tables(30)
    lo = "abcdefghijklmnopqrstuvwxyz"
    for i in range(len(tables)):
        for j in range(i + 1, len(tables)):
            a, b = lo.translate(tables[i]), lo.translate(tables[j])
            agree = sum(a[n] == b[n] for n in range(26))
            cap = 0 if j < 26 else _MAX_LETTER_AGREEMENT
            assert agree <= cap, (i, j, agree)
    # determinism: same k -> same tables
    assert _char_tables(30) == tables

    dst = str(tmp_path / "repl28")
    counts = replicate("/root/testdata/sf0.001", dst, 28)
    con = duckdb.connect()
    for tbl in ("orders", "lineitem", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {tbl}_s AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{tbl}.parquet'"
        )
        con.execute(
            f"CREATE VIEW {tbl}_r AS SELECT * FROM '{dst}/{tbl}.parquet'"
        )
    one = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
    # (c) rows grow exactly 28x; multiplicity constant; join linear
    assert counts["orders.parquet"] == 28 * one("SELECT count(*) FROM orders_s")
    q = "SELECT max(n) FROM (SELECT count(*) n FROM {v} GROUP BY l_orderkey)"
    assert one(q.format(v="lineitem_s")) == one(q.format(v="lineitem_r"))
    jq = "SELECT count(*) FROM {l} l JOIN {o} o ON l.l_orderkey = o.o_orderkey"
    assert one(jq.format(l="lineitem_r", o="orders_r")) == 28 * one(
        jq.format(l="lineitem_s", o="orders_s")
    )
    # (a') no text dup group larger than the source's largest
    assert 0 == one(
        "SELECT count(*) FROM (SELECT text FROM documents_r GROUP BY text "
        "HAVING count(*) > (SELECT max(c) FROM "
        "(SELECT count(*) c FROM documents_s GROUP BY text)))"
    )
    assert 0 == one(
        "SELECT count(*) FROM documents_r WHERE n_chars <> length(text)"
    )
    # (b) embeddings: no exact cross-replica vector dups beyond the
    # source's own dup structure, and norms preserved (orthogonal maps)
    assert 0 == one(
        "SELECT count(*) FROM (SELECT embedding FROM embeddings_r "
        "GROUP BY embedding HAVING count(*) > (SELECT max(c) FROM "
        "(SELECT count(*) c FROM embeddings_s GROUP BY embedding)))"
    )
    src_norms = one(
        "SELECT round(sum(sqrt(list_sum(list_transform(embedding, x -> x*x)))), 2) "
        "FROM embeddings_s"
    )
    rep_norms = one(
        "SELECT round(sum(sqrt(list_sum(list_transform(embedding, x -> x*x)))), 2) "
        "FROM embeddings_r"
    )
    assert abs(rep_norms - 28 * src_norms) < max(1e-4 * abs(rep_norms), 0.5), (
        rep_norms,
        src_norms,
    )


def test_local_profile_sets_periodic_gc():
    """The 100x replica sweep OOMed a shared 8g local JVM once ~16 queries
    of executed broadcast relations accumulated (ContextCleaner frees a
    broadcast only after a JVM GC proves it unreachable; the 30min default
    periodic GC outlasts a whole bench run). The local profile pins a 2min
    periodic GC — empirically the difference between OOM-at-q24 and a
    zero-OOM 34-query session on the 100x rung (BENCH_SF1_REPLICA100.json)."""
    from data_pipelines_examples_spark.session import PROFILES

    assert PROFILES["local"]["spark.cleaner.periodicGC.interval"] == "2min"


def test_pq_adc_topk_avoids_global_window(spark):
    """pq_adc_topk must compile its global top-k to TakeOrderedAndProject
    (per-partition heaps), never an unpartitioned row_number window over
    every scored row — at billion-vector scale an IVF probe's candidate
    set is still millions of codes, and a global window single-partitions
    all of them (the bm25_topk pattern, ranking.py)."""
    from pyspark.sql import functions as F

    from data_pipelines_examples_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = pq_train(emb, m=4, k=4)
    out = pq_adc_topk(pq_encode(emb, books), emb.first()["embedding"], books, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_global_cumulative_sum_matches_single_window(spark):
    """global_cumulative_sum (range-partitioned distributed prefix sum)
    must be row-identical to the naive unpartitioned-window form on exact
    types — including NULL handling (NULL until the first non-null value
    in the total order) and all-NULL leading prefixes."""
    import decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_pipelines_examples_spark.operators.windows import (
        cumulative_sum,
        global_cumulative_sum,
    )

    rows = []
    for i in range(500):
        # leading NULLs in the total order (k sorts ascending): k 0..9 null
        v = None if i < 10 else decimal.Decimal(f"{(i * 37) % 100}.{i % 10:01d}")
        rows.append((i, v))
    df = spark.createDataFrame(
        rows, T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DecimalType(18, 4)),
        ]),
    ).repartition(7)

    naive = cumulative_sum(df, "v", "k").select("k", F.col("v_cum").alias("cum"))
    dist = global_cumulative_sum(df, "v", "k", out_col="cum", num_partitions=8).select(
        "k", F.col("cum").cast("decimal(28,4)").alias("cum")
    )
    n = naive.collect()
    d = dist.collect()
    assert sorted((r["k"], r["cum"]) for r in n) == sorted(
        (r["k"], r["cum"]) for r in d
    )


def test_global_cumulative_sum_rejects_float():
    from data_pipelines_examples_spark.operators.windows import global_cumulative_sum
    import pytest as _pytest
    from data_pipelines_examples_spark.session import get_session

    spark = get_session("test")
    df = spark.createDataFrame([(1, 1.5)], "k long, v double")
    with _pytest.raises(ValueError, match="exact value type"):
        global_cumulative_sum(df, "v", "k")


def test_q106_plan_has_no_unpartitioned_data_window(spark):
    """q106's customer-dimension cumsum must range-partition, not funnel
    the dimension through one WindowExec partition; the only unpartitioned
    window allowed is the per-range-partition offsets table (one row per
    shuffle partition, bounded by construction). Checks node-by-node, not
    just that a range exchange exists somewhere: a regression that
    reintroduces the global window ALONGSIDE the range shuffle must trip."""
    import re

    import __spark_entry__ as mod

    df = mod.queries()["q106_abc_customer_classes"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace("_", ""), plan[:2000]
    window_lines = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    # exactly the two windows of the distributed prefix sum: the per-range-
    # partition running sum and the bounded offsets prefix (one row per
    # shuffle partition)
    assert len(window_lines) == 2, "\n".join(window_lines)
    # every window whose spec touches the customer-dimension total order
    # (revenue/c_custkey) must be PARTITIONED by the range-partition id —
    # i.e. the toString carries a non-empty partition-spec bracket group
    # [__pid#N] between the expressions and the order spec
    dim_windows = [ln for ln in window_lines if "revenue#" in ln]
    assert dim_windows, "\n".join(window_lines)
    for ln in dim_windows:
        assert re.search(r"\], \[__pid#\d+\], \[", ln), ln
    # and the one window that IS allowed to run unpartitioned is the
    # offsets prefix over per-partition totals, never dimension rows
    for ln in window_lines:
        if not re.search(r"\], \[[^\]]+\], \[", ln):  # two bracket groups only
            assert "__t#" in ln and "revenue#" not in ln, ln
