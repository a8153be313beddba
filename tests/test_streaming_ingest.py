"""Continuous-crawl ingest with incremental dedup: batch semantics,
replay idempotency, and a real file-source stream end-to-end."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

BASE = "the quick brown fox jumps over the lazy dog again and again today"
OTHER = "completely different content about spark engines and parquet files here"
THIRD = "a third unrelated document mentioning benchmarks oracles and hash gates"


def _write_json(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_ingest_batch_dedups_within_and_across(spark, tmp_path):
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    out, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")

    b0 = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id bigint, text string"
    )
    ingest_batch(spark, b0, 0, out, bands)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2]

    # batch 1: near-dup of doc 1 (killed vs corpus), a new doc (kept),
    # and an in-batch near-dup pair (canonical kept)
    b1 = spark.createDataFrame(
        [
            (10, BASE + " extra"),          # near-dup of ingested doc 1
            (11, THIRD),                    # genuinely new → kept
            (12, THIRD + " tail"),          # in-batch near-dup of 11 → killed
        ],
        "doc_id bigint, text string",
    )
    ingest_batch(spark, b1, 1, out, bands)
    survivors = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert survivors == [1, 2, 11]

    # batch 2: near-dup of batch-1 survivor → killed via the band artifact
    b2 = spark.createDataFrame(
        [(20, THIRD + " coda"), (21, "entirely novel text about nothing shared")],
        "doc_id bigint, text string",
    )
    ingest_batch(spark, b2, 2, out, bands)
    survivors = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert survivors == [1, 2, 11, 21]


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    out, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
    b0 = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id bigint, text string")
    ingest_batch(spark, b0, 0, out, bands)
    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    n_bands = spark.read.parquet(bands).count()

    # failure-replay of the SAME batch id: partitions rewritten, not doubled
    ingest_batch(spark, b0, 0, out, bands)
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before
    assert spark.read.parquet(bands).count() == n_bands


def test_stream_ingest_dedup_end_to_end(spark, tmp_path):
    from data_pipelines_examples_spark.streaming.ingest import stream_ingest_dedup

    src = str(tmp_path / "src")
    out, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")

    _write_json(f"{src}/f0.json", [
        {"doc_id": 1, "text": BASE},
        {"doc_id": 2, "text": OTHER},
    ])

    schema = "doc_id bigint, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = stream_ingest_dedup(stream, out, bands, ckpt)
    q.awaitTermination(120)

    _write_json(f"{src}/f1.json", [
        {"doc_id": 10, "text": BASE + " extra"},   # near-dup → killed
        {"doc_id": 11, "text": THIRD},             # new → kept
    ])
    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q2 = stream_ingest_dedup(q2, out, bands, ckpt)
    q2.awaitTermination(120)

    survivors = sorted(
        r["doc_id"]
        for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert survivors == [1, 2, 11]
    # the band artifact only carries survivor buckets
    assert (
        spark.read.parquet(bands)
        .filter(F.col("doc_id") == 10)
        .count()
        == 0
    )


def test_progress_collector_records_microbatches(spark, tmp_path):
    import json

    from data_pipelines_examples_spark.streaming.pipeline import (
        attach_progress_collector,
    )

    src = tmp_path / "src"
    src.mkdir()
    for b in range(2):
        (src / f"b{b}.json").write_text(
            "\n".join(json.dumps({"k": i, "b": b}) for i in range(5))
        )
    collector = attach_progress_collector(spark)
    try:
        stream = (
            spark.readStream.schema("k int, b int")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("progress_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener delivery is async; drain
        import time

        for _ in range(50):
            if sum(r["num_input_rows"] for r in collector.records) >= 10:
                break
            time.sleep(0.2)
        data_batches = [r for r in collector.records if r["num_input_rows"] > 0]
        assert sum(r["num_input_rows"] for r in data_batches) == 10
        assert len(data_batches) == 2  # maxFilesPerTrigger=1 -> one per file
        assert all("triggerExecution" in r["duration_ms"] for r in data_batches)
    finally:
        collector.detach()


# ---------------------------------------------------------------------------
# ingest_batch against the pair-list composition it replaced
# ---------------------------------------------------------------------------


def _reference_ingest(spark, batch, batch_id, out_path, bands_path, id_col):
    """The pair-list composition ``ingest_batch`` must reproduce:
    ``minhash_lsh_pairs`` → ``dedup_keep_canonical`` → the survivors'
    band buckets semi-joined against the whole band table."""
    from data_pipelines_examples_spark.cache import internal_persist_scope
    from data_pipelines_examples_spark.operators.dedup import (
        _band_buckets,
        dedup_keep_canonical,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from data_pipelines_examples_spark.sources.writers import _path_exists

    with internal_persist_scope():
        batch = batch.dropDuplicates([id_col])
        pairs = minhash_lsh_pairs(batch, id_col, "text", 32, 8, 3, "xxhash64")
        batch_dd = dedup_keep_canonical(batch, pairs, id_col)
        nb = _band_buckets(
            minhash_signatures(batch_dd, id_col, "text", 32, 3, "xxhash64"),
            id_col, 32, 8, "xxhash64",
        )
        survivors = batch_dd
        if _path_exists(spark, bands_path):
            existing = spark.read.parquet(bands_path).select("band", "bh").distinct()
            kill = (
                nb.join(existing, ["band", "bh"], "left_semi").select(id_col).distinct()
            )
            survivors = batch_dd.join(kill, id_col, "left_anti")
        survivors.withColumn("__batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).partitionBy("__batch_id").option("partitionOverwriteMode", "dynamic").parquet(
            out_path
        )
        nb.join(survivors.select(id_col), id_col, "left_semi").select(
            id_col, "band", "bh"
        ).withColumn("__batch_id", F.lit(batch_id)).write.mode("overwrite").partitionBy(
            "__batch_id"
        ).option("partitionOverwriteMode", "dynamic").parquet(bands_path)


def _words(rng, n):
    return [f"w{rng.randrange(20000)}" for _ in range(n)]


def _chain(rng, start, length=64):
    """``length`` documents sliding 4 words at a time along one 40-word
    window: neighbours are near-duplicates, the two ends share nothing."""
    stream = _words(rng, 4 * length + 40)
    return [(start + i, " ".join(stream[4 * i : 4 * i + 40])) for i in range(length)]


def _seeded_batches(seed):
    """Two landing batches over int ids. Batch 0: random documents,
    planted near-duplicates, a hot bucket of 50 identical documents, a
    64-long duplicate chain, a null id and a repeated id. Batch 1 repeats
    every shape and adds copies and near-copies of batch-0 documents."""
    import random

    rng = random.Random(seed)
    docs0 = [(i, " ".join(_words(rng, 30))) for i in range(40)]
    b0 = list(docs0)
    b0 += [(100 + i, docs0[i][1] + " tail") for i in range(0, 40, 5)]
    hot0 = " ".join(_words(rng, 30))
    b0 += [(200 + i, hot0) for i in range(50)]
    b0 += _chain(rng, 300)
    b0 += [(None, docs0[1][1]), (3, docs0[3][1]), (400, " ".join(_words(rng, 30)))]

    docs1 = [(1000 + i, " ".join(_words(rng, 30))) for i in range(30)]
    b1 = list(docs1)
    b1 += [(1100 + i, docs1[i][1] + " coda") for i in range(0, 30, 6)]
    b1 += [(1200 + i, docs0[i][1]) for i in range(0, 40, 4)]  # corpus copies
    b1 += [(1300 + i, hot0 + " again") for i in range(50)]  # hot bucket vs corpus
    b1 += [(1400 + i, " ".join(_words(rng, 6)) + " " + docs0[i][1]) for i in (2, 7)]
    b1 += _chain(rng, 1500)
    b1 += [(None, docs1[0][1]), (1000, docs1[0][1])]
    return [b0, b1]


def _sink_rows(spark, out_path, bands_path, id_col):
    key = lambda v: (v is None, v)  # noqa: E731
    ids = sorted((r[0] for r in spark.read.parquet(out_path).select(id_col).collect()), key=key)
    bands = sorted(
        (tuple(r) for r in spark.read.parquet(bands_path).select(
            id_col, "band", "bh", "__batch_id").collect()),
        key=lambda t: (key(t[0]),) + t[1:],
    )
    return ids, bands


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_ingest_batch_matches_pair_list_composition(spark, tmp_path, id_type):
    """Star edges + a driver union-find + a batch-keyed band probe give
    the same corpus ids and band rows as the pair-list composition, batch
    after batch, on planted near-duplicates, a 50-document hot bucket, a
    64-long chain, a null and a repeated id, with int and string ids (the
    string ids order differently from the ints: "d10" < "d9")."""
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    def as_id(v):
        return v if v is None or id_type == "bigint" else f"d{v}"

    got = {k: str(tmp_path / k) for k in ("corpus", "bands", "ref_corpus", "ref_bands")}
    for b, rows in enumerate(_seeded_batches(seed=11)):
        df = spark.createDataFrame(
            [(as_id(i), t) for i, t in rows], f"doc_id {id_type}, text string"
        )
        ingest_batch(spark, df, b, got["corpus"], got["bands"])
        _reference_ingest(spark, df, b, got["ref_corpus"], got["ref_bands"], "doc_id")
        ids, bands = _sink_rows(spark, got["corpus"], got["bands"], "doc_id")
        ref_ids, ref_bands = _sink_rows(spark, got["ref_corpus"], got["ref_bands"], "doc_id")
        assert ids == ref_ids
        assert bands == ref_bands

        batch_ids = {as_id(i) for i, _ in rows}
        kept = batch_ids & set(ids)
        assert None in kept  # a null id never links, never drops
        if b == 0:
            hot = {as_id(200 + i) for i in range(50)}
            assert kept & hot == {min(hot)}
            chain = {as_id(300 + i) for i in range(64)}
            assert len(kept & chain) < 8
        else:
            # every copy of a batch-0 document is a corpus hit
            assert not kept & {as_id(1200 + i) for i in range(0, 40, 4)}
            assert not kept & {as_id(1300 + i) for i in range(50)}
    assert None not in {r[0] for r in bands}  # null-id buckets are not appended


def test_backtick_id_column_is_an_identifier(spark, tmp_path):
    """An id column whose name holds a backtick or a dot is quoted, not
    parsed: signatures, fingerprints, the pair operators and the ingest
    sinks carry it unchanged."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from data_pipelines_examples_spark.cache import internal_persist_scope
    from data_pipelines_examples_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash_fingerprints,
        simhash_pairs,
    )
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    def simhash_8_bands(df, id_col):
        # docs 1 and 2 sit 7 bits apart: 8 bands of 8 bits catch them
        return simhash_pairs(df, id_col, max_hamming=7, bands=8)

    rows = [(1, BASE), (2, BASE + " extra"), (3, OTHER)]
    plain = spark.createDataFrame(rows, "doc_id bigint, text string")
    with internal_persist_scope():
        want_pairs = {
            op: sorted(map(tuple, op(plain, "doc_id").collect()))
            for op in (minhash_lsh_pairs, simhash_8_bands, ngram_jaccard_pairs)
        }
    assert all([w[:2] for w in want] == [(1, 2)] for want in want_pairs.values())

    for name in ("doc`id", "doc.id"):
        odd = spark.createDataFrame(
            rows,
            StructType([StructField(name, LongType()), StructField("text", StringType())]),
        )
        for op, val in ((minhash_signatures, "__sig"), (simhash_fingerprints, "__fp")):
            out = op(odd, name)
            assert out.columns == [name, val]
            assert sorted(map(tuple, out.collect())) == sorted(
                map(tuple, op(plain, "doc_id").collect())
            )

        with internal_persist_scope():
            for op, want in want_pairs.items():
                assert sorted(map(tuple, op(odd, name).collect())) == want, (name, op)

        out, bands = str(tmp_path / name / "corpus"), str(tmp_path / name / "bands")
        ingest_batch(spark, odd, 0, out, bands, id_col=name)
        assert sorted(r[0] for r in spark.read.parquet(out).collect()) == [1, 3]
        assert spark.read.parquet(bands).columns == [name, "band", "bh", "__batch_id"]


def _ingest_jobs(spark, rows, root, group):
    from data_pipelines_examples_spark.streaming.ingest import ingest_batch

    sc = spark.sparkContext
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sc.setJobGroup(group, "ingest_batch job count")
    try:
        ingest_batch(spark, df, 0, f"{root}/corpus", f"{root}/bands")
    finally:
        sc.setJobGroup(None, None)
    kept = spark.read.parquet(f"{root}/corpus").count()
    return len(sc.statusTracker().getJobIdsForGroup(group)), kept


def test_ingest_batch_jobs_do_not_grow_with_duplicate_chains(spark, tmp_path):
    """Components resolve on the driver, so a 64-long duplicate chain
    launches no more jobs than a batch without duplicates: no job runs
    per fixpoint round."""
    import random

    rng = random.Random(5)
    unique = [(i, " ".join(_words(rng, 40))) for i in range(96)]
    chained = unique[:32] + _chain(rng, 500)
    jobs_unique, kept_unique = _ingest_jobs(spark, unique, str(tmp_path / "u"), "ingest-unique")
    jobs_chain, kept_chain = _ingest_jobs(spark, chained, str(tmp_path / "c"), "ingest-chain")
    assert kept_unique == 96 and kept_chain < 32 + 8  # the chain collapsed
    assert abs(jobs_chain - jobs_unique) <= 1, (jobs_unique, jobs_chain)


def test_ingest_batch_appends_one_band_file(spark, tmp_path):
    """The kept band rows are written as one partition, so a 96-document
    micro-batch appends one band file, not one per shuffle partition."""
    import random

    rng = random.Random(5)
    rows = [(i, " ".join(_words(rng, 40))) for i in range(96)]
    _ingest_jobs(spark, rows, str(tmp_path), "ingest-band-files")
    part = tmp_path / "bands" / "__batch_id=0"
    assert len(list(part.glob("part-*.parquet"))) == 1
