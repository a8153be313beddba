"""Continuous crawl ingestion with incremental near-dup dedup.

The streaming twin of ``operators.dedup.dedup_against_corpus``: new
documents arrive as a stream; each micro-batch is deduped WITHIN itself
(canonical-per-cluster) and AGAINST everything previously ingested, then
survivors append to the corpus and their LSH band buckets append to a
persistent band-table artifact — exactly the "materialize-once band
table" contract that operator's docstring prescribes for the 100 TB
incremental path. Old-corpus signatures are NEVER recomputed: each batch
probes the stored (band, bh) rows only, keyed by its own buckets.

One micro-batch computes each thing once (``ingest_batch``):

1. ONE band frame ``(id, band, bh)`` — MinHash signatures banded once
   and persisted; every later step reads it. AQE sizes the persisted
   frame to its rows (``canChangeCachedPlanOutputPartitioning`` in
   ``session._COMMON``), so a micro-batch appends ONE band file, not
   one per shuffle partition.
2. Within-batch clusters as STAR edges: each LSH bucket's members link
   to the bucket's minimum id (a window ``min`` over ``(band, bh)``).
   The components equal those of the bucket's full pair clique, but a
   bucket of k members yields k − 1 edges instead of k(k − 1)/2, so the
   edge count is at most rows × bands however hot a bucket runs.
3. Corpus hits: the band table semi-joins a BROADCAST of the batch's
   distinct ``(band, bh)`` — the table is only scanned, never shuffled
   or ``distinct``-ed, and what survives the probe is bounded by the
   batch; the matched keys map back to the batch ids that carry them.
4. The edges and the hit ids come back to the driver in ONE collect, and
   a union-find (``dedup._min_components``) resolves the components. The
   drop set is every non-canonical cluster member plus every hit id —
   at most rows × bands edges plus the hit ids per micro-batch, bounded
   by the stream's trigger options (``maxFilesPerTrigger`` and kin).
5. Both sinks broadcast-anti-join that one drop set: the corpus from
   the batch, the band rows from the persisted band frame. The drop set
   is built from an Arrow table — a JVM-side ``LocalRelation``, no
   Python worker — and persisted, so both writes read one copy.

Exactly-once on replay: Structured Streaming re-runs a micro-batch after
failure, so both sinks partition by ``__batch_id`` and write with
dynamic partition OVERWRITE — replaying batch N rewrites partition N
instead of duplicating it (idempotency pinned by test).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..cache import internal_persist_scope, persist_internal
from ..operators.dedup import (
    _band_buckets,
    _id,
    _min_components,
    minhash_signatures,
)
from ..sources.writers import _path_exists


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    bands_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_how: str = "xxhash64",
) -> None:
    """One micro-batch of the ingest-dedup pipeline (public so replay
    semantics are directly testable; the foreachBatch closure below is a
    thin wrapper).

    Steps (module docstring has the why): (1) band the batch's MinHash
    signatures once into a persisted ``(id, band, bh)`` frame; (2) link
    every LSH bucket's members to the bucket's minimum id (star edges);
    (3) probe the PERSISTED band table with a broadcast of the batch's
    own ``(band, bh)`` keys; (4) collect the edges and the hit ids in
    one action and resolve the components on the driver — the drop set
    is the non-canonical members plus the hits; (5) anti-join that drop
    set into the corpus (from the batch) and the band table (from the
    band frame), both into partition ``__batch_id = batch_id`` with
    dynamic overwrite so a replayed batch rewrites instead of
    duplicating. Outputs equal the pair-list composition
    (``minhash_lsh_pairs`` → ``dedup_keep_canonical`` → a semi-join
    against the whole band table; pinned by test) at a job count that
    does not depend on how the duplicates chain.

    Driver memory: the collected rows are at most rows × bands edges
    plus the hit ids of ONE micro-batch; the stream's trigger options
    (``maxFilesPerTrigger``, ``maxBytesPerTrigger``) bound that. Null
    ids never link or drop (a null equals nothing), and their buckets
    are not appended to the band table.

    TERMINAL pipeline (everything is consumed by the two writes before
    return), so the band frame's and the drop set's internal persists
    are scope-drained on exit — without this, a long-running stream
    leaks cached frames PER MICRO-BATCH (the r7-verdict drain-audit's
    one real gap).

    ``bands`` is deliberately a FIXED int (no "auto"): every batch's
    band buckets must be comparable with the PERSISTED band table at
    ``bands_path``, whose band count was baked in by the first batch —
    a corpus-derived band count would drift as the stream grows and
    silently stop matching the artifact. Re-band the corpus offline to
    change it (same contract as ``dedup_against_corpus``)."""
    with internal_persist_scope():
        _ingest_batch_inner(
            spark, batch, batch_id, out_path, bands_path,
            id_col, text_col, num_hashes, bands, shingle_n, hash_how,
        )


def _ingest_batch_inner(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    bands_path: str,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    hash_how: str,
) -> None:
    batch = batch.dropDuplicates([id_col])
    doc = _id(id_col)
    nb = (
        _band_buckets(
            minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n, hash_how),
            id_col,
            num_hashes,
            bands,
            hash_how,
        )
        .select(doc, "band", "bh")
        .transform(persist_internal)
    )
    keyed = nb.filter(doc.isNotNull())

    # (id, root, hit): star edges to each bucket's minimum id, then the
    # ids whose buckets the band table already holds
    found = keyed.select(
        doc.alias("__id"),
        F.min(doc).over(Window.partitionBy("band", "bh")).alias("__root"),
        F.lit(False).alias("__hit"),
    ).filter(F.col("__id") != F.col("__root"))
    if _path_exists(spark, bands_path):
        keys = nb.select("band", "bh").distinct()
        # the band frame's own key types: no schema-inference job per batch
        probe = (
            spark.read.schema(StructType([nb.schema["band"], nb.schema["bh"]]))
            .parquet(bands_path)
            .join(F.broadcast(keys), ["band", "bh"], "left_semi")
        )
        hits = keyed.join(F.broadcast(probe), ["band", "bh"], "left_semi").select(
            doc.alias("__id"), doc.alias("__root"), F.lit(True).alias("__hit")
        )
        found = found.unionByName(hits)

    rows = found.collect()
    canon = _min_components((i, root) for i, root, hit in rows if not hit)
    drop_ids = {i for i, c in canon.items() if i != c}
    drop_ids.update(i for i, _root, hit in rows if hit)
    # From Arrow: a LocalRelation the JVM decodes, so no sink write runs a
    # Python worker. Persisted: a bare LocalRelation costs each sink its
    # own broadcast job when non-empty; the cache serves both.
    drop = spark.createDataFrame(
        pa.table({id_col: list(drop_ids)}),
        StructType([StructField(id_col, batch.schema[id_col].dataType)]),
    ).transform(persist_internal)

    for frame, path in ((batch, out_path), (keyed, bands_path)):
        (
            frame.join(F.broadcast(drop), id_col, "left_anti")
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("__batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )


def stream_ingest_dedup(
    stream: DataFrame,
    out_path: str,
    bands_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_how: str = "xxhash64",
):
    """Wire ``ingest_batch`` behind foreachBatch. Returns the started
    StreamingQuery; drive with ``processAllAvailable()`` (no stateful
    timers here, so the drain is livelock-safe)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch.sparkSession,
            batch,
            batch_id,
            out_path,
            bands_path,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_how=hash_how,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
