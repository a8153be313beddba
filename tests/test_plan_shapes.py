"""Plan-shape assertions: the physical plans we designed for actually
materialize — broadcasts broadcast, filters push down to parquet, window
stacks reuse one sort. Row-equality tests can't catch 100 TB regressions;
these can."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from data_pipelines_examples_spark.operators.windows import lag_features
from data_pipelines_examples_spark.plans.inspect import (
    count_shuffles,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
)


def test_dim_join_broadcasts(spark):
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert has_broadcast_join(joined)


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert "l_quantity" in pf, f"no pushed filter found: {pf!r}"


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    q = li.select("l_orderkey")
    plan = physical_plan(q)
    # the scan should read only the projected column
    assert "l_extendedprice" not in plan


def test_lag_cascade_single_shuffle(spark):
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    df = lag_features(o, "o_totalprice", "o_orderdate", [1, 2, 3, 5, 10], partition_by="o_custkey")
    # N lags over one window spec = one exchange, not N
    assert count_shuffles(df) == 1


def test_interval_collapse_single_shuffle(spark):
    """The whole collapse is ONE exchange on the key: no pre-distinct
    shuffle, and the final group-by reuses the window's partitioning."""
    from data_pipelines_examples_spark.operators.intervals import collapse_intervals

    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").selectExpr(
        "o_custkey as memnum",
        "cast(o_orderdate as date) as begindt",
        "date_add(cast(o_orderdate as date), 30) as enddt",
    )
    assert count_shuffles(collapse_intervals(df, "memnum")) == 1


def test_asof_join_single_shuffle(spark):
    """The union+last_value as-of formulation costs ONE exchange on the
    key — never a theta-join cross product and never a per-side sort+merge
    pair (the naive range-join formulation shuffles both inputs and
    explodes candidates at scale)."""
    from data_pipelines_examples_spark.operators.relational import asof_join

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "user_id", "cast(ts as timestamp) as ts", "value"
    )
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").selectExpr(
        "o_custkey as user_id", "cast(o_orderdate as timestamp) as ots", "o_orderkey"
    )
    out = asof_join(o, e, key="user_id", left_ts="ots", right_ts="ts", value_cols=["value"])
    assert count_shuffles(out) == 1


def test_minhash_lsh_shuffles_bounded(spark):
    """Signature agg + band-bucket join: the only exchanges are the
    signature groupBy and the band join/distinct — document BODIES are
    dropped before the first exchange (the shuffle carries 8-byte mins),
    so shuffle volume is O(docs × num_hashes), not O(corpus bytes)."""
    from data_pipelines_examples_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = minhash_lsh_pairs(d, num_hashes=8, bands=2)
    assert count_shuffles(pairs) <= 3


def test_embedding_dedup_lsh_no_crossjoin(spark):
    """The LSH dedup path must never degenerate into a cartesian product —
    candidates come from bucket-equality joins only."""
    from data_pipelines_examples_spark.operators.similarity import (
        embedding_dedup_pairs_lsh,
    )
    from data_pipelines_examples_spark.oracles import gauss_plane_tables

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    tables = gauss_plane_tables(n_tables=2, n_planes=4, dim=64, seed=1)
    plan = physical_plan(embedding_dedup_pairs_lsh(emb, tables, threshold=0.4))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_wildcard_rule_join_broadcasts(spark):
    from data_pipelines_examples_spark.operators.relational import wildcard_rule_join

    fact = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    rules = spark.createDataFrame(
        [(1, "BUILDING", "gold"), (9, "*", "bronze")],
        "priority int, seg string, tier string",
    )
    out = wildcard_rule_join(
        fact, rules, {"seg": "c_mktsegment"}, priority_col="priority",
        pick_per=["c_custkey"],
    )
    assert has_broadcast_join(out)


def test_chunk_documents_zero_shuffles(spark):
    """Chunking is a pure narrow pipeline: array exprs + explode fuse into
    the scan — chunking 100 TB costs one pass, no exchange."""
    from data_pipelines_examples_spark.operators.packing import chunk_documents

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert count_shuffles(chunk_documents(d, max_tokens=32, overlap=8)) == 0


def test_pack_offsets_single_shuffle_ids_only(spark):
    """The packing manifest costs exactly one exchange (window cumsum on
    shard), and token counting happens BEFORE it — the shuffle carries
    (doc_id, count, shard), never text bodies."""
    from data_pipelines_examples_spark.operators.packing import pack_offsets

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = pack_offsets(d, budget=256, shards=8)
    assert count_shuffles(df) == 1
    plan = physical_plan(df)
    # the projection below the exchange already dropped the text column:
    # 'text' appears only in the FileScan read schema, not above the window
    above_scan = plan[: plan.index("FileScan")]
    assert "text#" not in above_scan.replace("split(lower(trim(text#", "")


def test_cap_per_group_two_exchanges_only(spark):
    """The salted two-stage cap costs exactly two exchanges (local
    (group, salt) window, then group window) — no extra join or
    distinct shuffles sneak in."""
    from data_pipelines_examples_spark.operators.sampling import cap_per_group

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "source")
    out = cap_per_group(d, "source", "doc_id", cap=5)
    assert count_shuffles(out) == 2


def test_length_bucketed_batches_single_exchange(spark):
    """Batch assembly is ONE exchange on (bucket, shard)."""
    from data_pipelines_examples_spark.operators.packing import (
        length_bucketed_batches,
    )
    from data_pipelines_examples_spark.operators.text import token_count

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )
    out = length_bucketed_batches(d, len_col="n_tokens")
    assert count_shuffles(out) == 1


def test_heavy_hitters_broadcasts_total(spark):
    """The 1-row total joins by broadcast; the per-key agg is the only
    exchange pair (partial+final)."""
    from data_pipelines_examples_spark.operators.profiling import heavy_hitters

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("source")
    out = heavy_hitters(d, "source", k=10)
    assert has_broadcast_join(out) or "BroadcastNestedLoopJoin" in physical_plan(out)
    assert count_shuffles(out) <= 2


def test_bm25_filters_terms_before_shuffle(spark):
    """The query-term filter sits below the tf exchange: the exploded
    token stream is pruned before any wide operation."""
    from data_pipelines_examples_spark.operators.ranking import bm25_topk

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = physical_plan(bm25_topk(d, ["table", "merge"], k=5))
    # the isin filter must appear in the plan (pre-shuffle projection side)
    assert "__t" in plan and ("table" in plan and "merge" in plan)


def test_scd2_single_shuffle(spark):
    """Change-detect lag and valid_to lead share one (keys x ts) sort:
    exactly one exchange for the whole Type-2 build."""
    from data_pipelines_examples_spark.operators.dedup import scd2_history

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    df = scd2_history(ev, "user_id", "ts", ["event_type"])
    assert count_shuffles(df) == 1


def test_duplicate_spans_shuffle_budget(spark):
    """Window-hash frequency agg + join-back + islands window: three
    exchanges, none carrying document bodies (the plan projects only
    ids, positions, and 8-byte hashes past the scan)."""
    from data_pipelines_examples_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = duplicate_spans(docs, k=8)
    assert count_shuffles(df) <= 3
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_fuzzy_join_is_equi_not_cartesian(spark):
    """Length-band blocking must plan as an equi join (hash/sort-merge),
    never a cartesian/broadcast-nested-loop over all pairs."""
    from data_pipelines_examples_spark.operators.relational import fuzzy_join

    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    left = n.selectExpr("n_nationkey as key_a", "n_name as name_a")
    right = n.selectExpr("n_nationkey as key_b", "n_name as name_b")
    plan = physical_plan(fuzzy_join(left, right, "name_a", "name_b", 4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temporal_join_shuffle_budget(spark):
    """As-of union-window formulation: the whole facts x SCD2 containment
    join costs ONE exchange (the window by key), not a per-key cross
    product."""
    from data_pipelines_examples_spark.operators.relational import temporal_join

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    hist = ev.selectExpr(
        "user_id", "ts as valid_from",
        "cast(null as timestamp) as valid_to", "event_type",
    )
    df = temporal_join(ev.select("event_id", "user_id", "ts"), hist, "user_id", "ts")
    assert count_shuffles(df) == 1
    assert "CartesianProduct" not in physical_plan(df)


def test_bm25_batch_no_cartesian_and_term_filter_early(spark):
    from data_pipelines_examples_spark.operators.ranking import bm25_topk_batch

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "hash merge"), (2, "scan table")], "query_id int, query_text string"
    )
    plan = physical_plan(bm25_topk_batch(docs, queries, k=5))
    assert "CartesianProduct" not in plan


def _dup_source_scans(df, table: str) -> int:
    """Count uncached parquet scans of one table in the physical plan
    (cached-plan text inside InMemoryRelation repeats per consumer, so
    split it out first — only top-level scans cost I/O at runtime)."""
    import re

    plan = physical_plan(df)
    return len(re.findall(rf"Scan parquet[^\n]*?{table}\.parquet", plan))


def test_surprisal_single_tokenization(spark):
    """Round-5 scan audit pin: the token/bigram streams persist, so the
    document source appears in the plan only via the cache — without the
    persist each consumer re-tokenized the corpus (4 scans measured)."""
    from data_pipelines_examples_spark.operators.text import (
        bigram_surprisal,
        unigram_surprisal,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    uni = unigram_surprisal(docs)
    assert physical_plan(uni).count("InMemoryTableScan") >= 1
    bi = bigram_surprisal(docs)
    assert physical_plan(bi).count("InMemoryTableScan") >= 1


def test_strip_spans_single_tokenization(spark):
    from data_pipelines_examples_spark.operators.dedup import strip_duplicate_spans

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = physical_plan(strip_duplicate_spans(docs))
    assert plan.count("InMemoryTableScan") >= 2  # ws and wins both cached


def test_funnel_single_scan(spark):
    from data_pipelines_examples_spark.operators.funnel import funnel_steps

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    plan = physical_plan(
        funnel_steps(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])
    )
    assert plan.count("InMemoryTableScan") >= 2


def test_retention_one_scan_two_exchanges(spark):
    from data_pipelines_examples_spark.operators.funnel import retention_cohorts

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    df = retention_cohorts(ev, "user_id", "ts")
    assert _dup_source_scans(df, "events") == 1
    assert count_shuffles(df) <= 2


def test_winnowing_materializes_before_window_min(spark):
    """The O(len²·w) guard at the plan level: the projected gram-hash
    column must exist as its own attribute, and the window-min transform
    must reference it, not rebuild the hash expression inline."""
    from data_pipelines_examples_spark.operators.text import winnowing_fingerprints

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = winnowing_fingerprints(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "__winnow_h" in plan


def test_sessionize_tie_collapse_single_exchange(spark):
    """q11/q22's r6 tie-collapse must stay FREE: the explicit user_id
    repartition satisfies both the (user, ts[, ...]) collapse aggregation
    and the downstream windows, so the whole pipeline is ONE exchange —
    a second exchange means someone dropped the repartition or broke
    subset-partitioning reuse."""
    from data_pipelines_examples_spark.queries import _QUERIES, _load_all

    _load_all()
    for name in ("q11_sessionize_events", "q22_user_value_streaks"):
        df = _QUERIES[name](spark, SF_SMOKE)
        assert count_shuffles(df) == 1, f"{name} grew a second exchange"


def test_binned_overlap_join_pins_cell_parallelism(spark):
    """The binned interval join's scale contract (r9): its (key, bin)
    distribution is pinned via a NUMBERED repartition — the one shuffle
    origin AQE neither coalesces nor broadcast-converts away. Without
    it, byte-based planning ran a composed-density hot key's ~10¹⁰ pair
    iterations inside one map task (measured: >35 min unfinished vs
    31 s pinned). Also pin that no BroadcastNestedLoop appears and the
    shared explode+guard subtree is built once (ReusedExchange)."""
    import datetime as dt

    from data_pipelines_examples_spark.operators.intervals import (
        overlap_self_join,
    )

    rows = [
        (
            f"k{i % 5}",
            i,
            dt.date(2023, 1, 1 + i % 27),
            dt.date(2023, 2, 1 + i % 27),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, id int, s date, e date")
    out = overlap_self_join(df, "k", "s", "e", binned=True, bin_days=30)
    out.collect()  # executed plan — AQE decisions only exist at runtime
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan


def test_lsh_pair_selfjoins_consume_one_cached_frame(spark):
    """r9: the minhash/simhash/embedding pair generators self-join a
    derived signature frame, and Spark does NOT collapse the two
    identical subtrees (ReuseExchange keys on canonicalized exchanges,
    which the alias split defeats) — measured: the full signature
    pipeline ran TWICE per query before the persist. Pin that BOTH
    join sides read the persisted frame (>= 2 InMemoryTableScan), so a
    refactor that drops the persist fails here, not in the bench.

    Once consumed, the minhash and simhash signature frames hold the
    partitions their rows need (AQE coalesces a cached plan's shuffle),
    not one per shuffle partition. The embedding frame has no shuffle to
    coalesce: ``ensure_parallelism`` spreads it on purpose."""
    from data_pipelines_examples_spark import cache
    from data_pipelines_examples_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from data_pipelines_examples_spark.operators.similarity import (
        embedding_dedup_pairs_lsh,
    )
    from data_pipelines_examples_spark.oracles import gauss_plane_tables

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    tables = gauss_plane_tables(n_tables=2, n_planes=4, dim=64, seed=1)
    for make, coalesced in (
        (lambda: minhash_lsh_pairs(d, num_hashes=8, bands=2), True),
        (lambda: simhash_pairs(d, max_hamming=3, bands=4, num_bits=64), True),
        (lambda: embedding_dedup_pairs_lsh(emb, tables, threshold=0.4), False),
    ):
        armed_before = len(cache._TRACKED)
        df = make()
        armed = [e[0] for e in cache._TRACKED[armed_before:]]
        plan = physical_plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        if coalesced:
            df.collect()
            parts = [f.rdd.getNumPartitions() for f in armed]
            assert parts == [1], parts


def test_cooccurrence_pairs_no_basket_selfjoin(spark):
    """r9: pair generation is a per-basket combination explode, not an
    a-b self-join on the basket key — each unordered pair is emitted
    once (k(k-1)/2 structs) with ONE exchange where the join shuffled
    both sides and emitted k^2 rows. Pin the cached items frame feeding
    both consumers and the shuffle budget."""
    from data_pipelines_examples_spark.operators.itemsets import (
        cooccurrence_pairs,
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_support=2)
    plan = physical_plan(pairs)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # pair structs come from the sorted-array explode, not a join
    # filter — match tolerant of attribute ids (item_a#735L < item_b#736L),
    # the r9 form's literal-substring check could never fire
    assert not re.search(r"item_a#\d+L?\s*<\s*item_b#\d+", plan), plan
    # and no self-join on the basket key at all: one Generate (explode)
    # per pair column, zero SortMergeJoin/ShuffledHashJoin operators
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert count_shuffles(pairs) <= 7, physical_plan(pairs)


def _py4j_calls(monkeypatch, build) -> int:
    """py4j round trips (``ClientServerConnection.send_command``) that
    ``build`` makes. Nothing is executed: this is the driver-side cost of
    building a plan."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    real = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls[0] += 1
        return real(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        build()
    return calls[0]


def test_operator_builds_stay_few_py4j_calls(spark, monkeypatch):
    """q15 (cosine top-k), q33 (MinHash LSH pairs) and the ingest drain's
    band frame build their projections from SQL text: one parsed
    expression per projection, not one py4j call per Column node and
    lambda. On these tables the Column-builder forms cost 682 / 1,032 /
    1,200 calls per build and the SQL-text forms 81 / 123 / 93. Each
    build may cost at most 1.5× the SQL-text count."""
    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.operators.dedup import (
        _band_buckets,
        minhash_signatures,
    )
    from data_pipelines_examples_spark.queries import queries

    fns = queries()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def band_frame():
        return _band_buckets(
            minhash_signatures(docs, "doc_id", "text", 32, 3, "xxhash64"),
            "doc_id", 32, 8, "xxhash64",
        ).select("doc_id", "band", "bh")

    builds = {
        "q15_embedding_topk": lambda: fns["q15_embedding_topk"](spark, SF_SMOKE),
        "q33_minhash_candidates": lambda: fns["q33_minhash_candidates"](spark, SF_SMOKE),
        "band_frame": band_frame,
    }
    measured = {"q15_embedding_topk": 81, "q33_minhash_candidates": 123, "band_frame": 93}
    try:
        for name, build in builds.items():
            build()  # the first build opens the tables (memoized)
            calls = _py4j_calls(monkeypatch, build)
            assert 0 < calls <= 1.5 * measured[name], (name, calls)
    finally:
        release_cached()
