"""Round-8 regression pins (r7 ADVICE items).

1. internal_persist_scope anchors STRONG references to the pre-scope
   registry for its whole lifetime: a release_cached() call (or the
   self-prune sweep) inside the scope empties the registry, and without
   the anchor a collected pre-scope wrapper's id could be recycled by a
   frame persisted inside the scope — which the exit drain would then
   keep instead of draining (a deferred release / leak).

2. Frames persisted inside the scope AFTER an inner release_cached()
   are still drained at exit (the snapshot is taken at entry, not
   against the registry's mutable state).
"""

from __future__ import annotations

import gc
import weakref

from pyspark.sql import functions as F


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk or lvl.useOffHeap


def test_scope_anchors_pre_scope_wrappers_against_gc(spark):
    """The pre-scope snapshot's members must stay alive (hence their ids
    un-recyclable) until scope exit even if release_cached() drops the
    registry's own references inside the scope."""
    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import (
        internal_persist_scope,
        persist_internal,
    )

    release_cached()
    outside = persist_internal(spark.range(64).withColumn("k", F.col("id") % 3))
    outside.count()
    ref = weakref.ref(outside)
    del outside  # registry (then the scope's anchor) holds the only ref

    with internal_persist_scope():
        release_cached()  # empties the registry inside the scope
        gc.collect()
        # the anchor must keep the pre-scope wrapper alive: its id being
        # recycled by a frame persisted below would corrupt the drain
        assert ref() is not None
        inside = persist_internal(
            spark.range(32).withColumn("x", F.col("id") * 2)
        )
        inside.count()
        assert _is_cached(inside)
    # armed inside (after the inner release_cached) -> drained at exit
    assert not _is_cached(inside)


def test_scope_exit_releases_anchor(spark):
    """After the scope exits the anchor is dropped — pre-scope wrappers
    already released inside the scope become collectable again (no
    permanent pinning)."""
    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import (
        internal_persist_scope,
        persist_internal,
    )

    release_cached()
    outside = persist_internal(spark.range(16).withColumn("k", F.col("id")))
    outside.count()
    ref = weakref.ref(outside)
    del outside

    with internal_persist_scope():
        release_cached()
    gc.collect()
    assert ref() is None


def test_ingest_batch_drains_internal_persists(spark, tmp_path):
    """ingest_batch is terminal (both writes happen before return), so
    the persist it arms (the deduplicated batch) must be scope-drained
    on exit — a long-running stream would otherwise leak one cached
    frame PER MICRO-BATCH. A caller's pre-armed persist must survive."""
    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import persist_internal
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    release_cached()
    callers = persist_internal(spark.range(10).withColumn("k", F.col("id")))
    callers.count()

    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today"),
         (2, "completely different content about spark and parquet files")],
        "doc_id bigint, text string",
    )
    ingest_batch(spark, b0, 0, str(tmp_path / "corpus"), str(tmp_path / "bands"))

    assert _is_cached(callers)  # pre-armed persist untouched
    # everything the batch armed is gone: draining the registry now
    # releases exactly the caller's one frame
    assert release_cached() == 1


def test_scope_never_drains_another_threads_mid_scope_persist(spark):
    """foreachBatch bodies run on Spark's micro-batch threads, so two
    streams' scopes overlap in NORMAL use: a persist armed by thread B
    while thread A's scope is open must survive A's exit (draining it
    would force a silent full recompute inside B's writes). B's own
    scope (or release_cached) still reclaims it."""
    import threading

    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import (
        internal_persist_scope,
        persist_internal,
    )

    release_cached()
    b_frame = {}

    def arm_on_b():
        df = persist_internal(spark.range(48).withColumn("y", F.col("id") + 1))
        df.count()
        b_frame["df"] = df

    with internal_persist_scope():
        a_inside = persist_internal(
            spark.range(24).withColumn("z", F.col("id") * 3)
        )
        a_inside.count()
        t = threading.Thread(target=arm_on_b)
        t.start()
        t.join()
        assert _is_cached(b_frame["df"])
    # A's exit drained A's own arm, not B's
    assert not _is_cached(a_inside)
    assert _is_cached(b_frame["df"])
    assert release_cached() == 1  # B's frame drains globally


def test_two_concurrent_streams_drain_cleanly(spark, tmp_path):
    """The cross-thread scenario behind the r8 registry fix, end to end:
    TWO ingest streams run concurrently (each foreachBatch body on its
    own micro-batch thread, each scope-draining per batch). After both
    finish: every stream's output is correct, and the registry holds
    ZERO leaked frames — under the old thread-blind scope a concurrent
    arm could be drained mid-consumption or lost from the registry."""
    import json as _json
    import os

    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.streaming.ingest import stream_ingest_dedup

    release_cached()
    schema = "doc_id bigint, text string"
    queries = []
    for s in (1, 2):
        src = str(tmp_path / f"src{s}")
        os.makedirs(src, exist_ok=True)
        for f in range(3):
            with open(f"{src}/f{f}.json", "w") as fh:
                for d in range(2):
                    # every doc's word multiset is DISJOINT from every
                    # other's, or the ingest minhash dedup (correctly)
                    # kills the near-dups and the count assert below lies
                    k = s * 100 + f * 10 + d
                    words = " ".join(f"w{k}x{i}" for i in range(12))
                    fh.write(_json.dumps({
                        "doc_id": s * 1000 + f * 10 + d,
                        "text": words,
                    }) + "\n")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        queries.append(
            stream_ingest_dedup(
                stream,
                str(tmp_path / f"corpus{s}"),
                str(tmp_path / f"bands{s}"),
                str(tmp_path / f"ckpt{s}"),
            )
        )
    for q in queries:
        q.awaitTermination(180)

    for s in (1, 2):
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / f"corpus{s}")).collect()
        )
        assert got == [s * 1000 + f * 10 + d for f in range(3) for d in range(2)]
    # every micro-batch scope-drained its own arms; nothing leaked
    assert release_cached() == 0


def test_registry_concurrent_arm_release_stress(spark):
    """Registry consistency under true contention: N threads hammer
    persist_internal / release_cached / scopes concurrently. The lock
    must prevent lost arms — after quiescence, one global drain leaves
    ZERO cached library frames (the old unlocked read-modify-write
    could drop a concurrent arm from the registry while its frame
    stayed cached forever)."""
    import threading

    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import (
        internal_persist_scope,
        persist_internal,
    )

    release_cached()
    frames = []
    frames_lock = threading.Lock()
    errors = []

    def worker(wid: int):
        try:
            for i in range(6):
                if i % 3 == 2:
                    with internal_persist_scope():
                        df = persist_internal(
                            spark.range(8 + wid).withColumn("w", F.lit(wid))
                        )
                        df.count()
                    # scope drained its own arm
                else:
                    df = persist_internal(
                        spark.range(16 + wid * 7 + i).withColumn("w", F.lit(i))
                    )
                    df.count()
                    with frames_lock:
                        frames.append(df)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # every non-scope arm is still registered (none lost to a race):
    # the global drain releases exactly those still-cached frames
    still_cached = sum(1 for df in frames if _is_cached(df))
    assert release_cached() == still_cached
    # and nothing the library persisted remains cached anywhere
    assert all(not _is_cached(df) for df in frames)


def test_scope_defers_unpersist_of_equal_plan_arms(spark):
    """Spark caches are PLAN-keyed: unpersisting one arm evicts the
    entry an equal-plan arm (another request, same operator, same
    input) still depends on. Scope exit must defer to the surviving
    owner's drain instead of evicting the shared entry."""
    import threading

    from data_pipelines_examples_spark import release_cached
    from data_pipelines_examples_spark.cache import (
        internal_persist_scope,
        persist_internal,
    )

    release_cached()

    def make():
        # IDENTICAL plan both times — shares one CacheManager entry
        return spark.range(77).withColumn("v", F.col("id") % 5)

    other = {}

    def arm_other_thread():
        df = persist_internal(make())
        df.count()
        other["df"] = df

    with internal_persist_scope():
        mine = persist_internal(make())
        mine.count()
        t = threading.Thread(target=arm_other_thread)
        t.start()
        t.join()
    # scope exit must NOT have evicted the shared plan-keyed entry
    assert _is_cached(other["df"]), (
        "scope exit evicted a cache entry an equal-plan arm still owns"
    )
    assert release_cached() >= 1
    assert not _is_cached(other["df"])


def test_overlap_self_join_reserved_prefix_via_suffix_raises(spark):
    """A non-key column whose SUFFIXED name lands in the reserved
    namespace must also refuse (c='__self_join', suffix='_dup_x')."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipelines_examples_spark.operators.intervals import overlap_self_join

    df = spark.createDataFrame(
        [(1, "k1", "2023-01-01", "2023-01-09")],
        "id bigint, k string, start string, end string",
    ).select(
        "id", "k",
        F.col("start").cast("date"), F.col("end").cast("date"),
        F.col("id").alias("__self_join"),
    )
    with pytest.raises(ValueError, match="reserved"):
        overlap_self_join(df, "k", "start", "end", suffix="_dup_x")
