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

1. The deduplicated batch is persisted, and its MinHash signatures are
   banded once into ``(id, band, bh)`` rows that come back to the driver
   in ONE collect — at most rows × bands of them.
2. Within-batch clusters as STAR edges, on the driver: each LSH bucket's
   members link to the bucket's minimum id. The components equal those
   of the bucket's full pair clique, but a bucket of k members yields
   k − 1 edges instead of k(k − 1)/2, and a union-find
   (``dedup._min_components``) resolves them with no Spark job however
   the duplicates chain.
3. Corpus hits: the band table semi-joins a BROADCAST of the batch's
   distinct ``(band, bh)`` keys (an Arrow-built ``LocalRelation``) — the
   table is only scanned, never shuffled or ``distinct``-ed — and only
   the matched keys are collected; they map back to the batch ids that
   carry them.
4. The drop set is every non-canonical cluster member plus every hit id.
   The driver holds the band rows plus the matched keys of ONE
   micro-batch, bounded by the stream's trigger options
   (``maxFilesPerTrigger`` and kin).
5. The corpus broadcast-anti-joins the drop set (an Arrow-built
   ``LocalRelation``: the JVM decodes it, no Python worker) from the
   persisted batch. The band sink is the kept band rows themselves, an
   Arrow-built ``LocalRelation`` coalesced to one partition, so a
   micro-batch appends ONE band file.

Exactly-once on replay: Structured Streaming re-runs a micro-batch after
failure, so both sinks partition by ``__batch_id`` and write with
dynamic partition OVERWRITE — replaying batch N rewrites partition N
instead of duplicating it (idempotency pinned by test).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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

    Steps (module docstring has the why): (1) persist the deduplicated
    batch and collect its banded MinHash rows ``(id, band, bh)`` once;
    (2) link every LSH bucket's members to the bucket's minimum id (star
    edges) and resolve the components on the driver; (3) probe the
    PERSISTED band table with a broadcast of the batch's own
    ``(band, bh)`` keys and collect the matched keys — the drop set is
    the non-canonical members plus the ids carrying a matched key;
    (4) anti-join that drop set into the corpus (from the batch) and
    write the kept band rows, both into partition ``__batch_id =
    batch_id`` with dynamic overwrite so a replayed batch rewrites
    instead of duplicating. Outputs equal the pair-list composition
    (``minhash_lsh_pairs`` → ``dedup_keep_canonical`` → a semi-join
    against the whole band table; pinned by test) at a job count that
    does not depend on how the duplicates chain.

    Driver memory: the band rows of ONE micro-batch (at most rows ×
    bands) plus its matched band-table keys; the stream's trigger
    options (``maxFilesPerTrigger``, ``maxBytesPerTrigger``) bound both.
    Null ids never link or drop (a null equals nothing), and their
    buckets are not appended to the band table.

    TERMINAL pipeline (everything is consumed by the two writes before
    return), so the persisted batch is scope-drained on exit — without
    this, a long-running stream leaks cached frames PER MICRO-BATCH (the
    r7-verdict drain-audit's one real gap).

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
    batch = batch.dropDuplicates([id_col]).transform(persist_internal)
    doc = _id(id_col)
    nb = _band_buckets(
        minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n, hash_how),
        id_col,
        num_hashes,
        bands,
        hash_how,
    ).select(doc, "band", "bh")
    rows = nb.filter(doc.isNotNull()).collect()

    # star edges: every bucket member links to the bucket's minimum id
    roots: dict = {}
    for i, band, bh in rows:
        root = roots.get((band, bh))
        if root is None or i < root:
            roots[(band, bh)] = i
    canon = _min_components(
        (i, roots[(band, bh)]) for i, band, bh in rows if i != roots[(band, bh)]
    )
    drop_ids = {i for i, c in canon.items() if i != c}
    if roots and _path_exists(spark, bands_path):
        # the band rows' own key types: no schema-inference job per batch
        key_schema = StructType([nb.schema["band"], nb.schema["bh"]])
        band_keys, bh_keys = zip(*roots)
        keys = spark.createDataFrame(
            pa.table({"band": band_keys, "bh": bh_keys}), key_schema
        )
        matched = {
            tuple(r)
            for r in spark.read.schema(key_schema)
            .parquet(bands_path)
            .join(F.broadcast(keys), ["band", "bh"], "left_semi")
            .select("band", "bh")
            .collect()
        }
        drop_ids.update(i for i, band, bh in rows if (band, bh) in matched)

    # From Arrow: a LocalRelation the JVM decodes, so the corpus write
    # runs no Python worker.
    drop = spark.createDataFrame(
        pa.table({id_col: list(drop_ids)}),
        StructType([StructField(id_col, batch.schema[id_col].dataType)]),
    )
    kept = [r for r in rows if r[0] not in drop_ids]
    band_rows = spark.createDataFrame(
        pa.table(
            {f.name: [r[k] for r in kept] for k, f in enumerate(nb.schema.fields)}
        ),
        nb.schema,
    ).coalesce(1)

    for frame, path in (
        (batch.join(F.broadcast(drop), id_col, "left_anti"), out_path),
        (band_rows, bands_path),
    ):
        (
            frame.withColumn("__batch_id", F.lit(batch_id))
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
