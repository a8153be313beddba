"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload exposes ``setup`` (inputs ready, warm-up pass done), ``run_pass``
(one pass of operations, returning their records) and ``check`` (reference
comparison after measurement). Every call into the library goes through
``ctx.tracer.span`` so a traced run attributes time and Spark work to it.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from checks import (
    duckdb_with_tables,
    fingerprint,
    fingerprint_expr,
    reference_fingerprint,
    tables_read,
)

# One reference-cluster analytics query (salted skew join) and two
# LLM-corpus curation queries: embedding top-k, and MinHash candidates,
# which do per-row hashing, explode and self-join and arm the cache layer's
# internal persist. An odd count keeps the median operation inside one
# query's latencies.
QUERIES = [
    "q07_salted_join_priority_volume",
    "q15_embedding_topk",
    "q33_minhash_candidates",
]


@dataclass
class Op:
    """One measured operation."""

    name: str
    latency: float
    ok: bool
    landed: int = 0  # input bytes the operation took in
    written: int = 0  # bytes it wrote to storage
    progress: list = field(default_factory=list)  # its stream drain's progress records


def _storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class ReadWorkload:
    """Catalog queries over the generated tables. One operation = one
    catalog call plus a consume that folds every output column into the
    fingerprint, so no projection is pruned."""

    def __init__(self, name: str, queries: list[str], scale: float = 1.0):
        self.name = name
        self.queries = queries
        self.scale = scale
        self.cache_arms = 0
        self.storage_mb_peak = 0.0
        self.writer_bytes: dict[str, int] = {}  # no writers: stays empty
        self.writer_files: dict[str, int] = {}
        self.seen: dict[str, set] = {}
        self.schemas: dict = {}  # output schema per query

    def generate(self, ctx) -> None:
        ctx.inputs = datagen.generate(ctx.data_dir, ctx.seed, self.scale)

    def setup(self, ctx) -> None:
        from data_pipelines_examples_spark import queries as catalog

        self.ctx = ctx
        self.fns = catalog.queries()
        self.oracles = catalog.oracle_sql()
        rows = {t: v["rows"] for t, v in ctx.inputs.items()}
        self.input_rows = sum(
            rows[t] for q in self.queries for t in tables_read(self.oracles[q])
        )
        self.run_pass()  # warm-up: compiles every plan shape once

    def _op(self, q: str) -> Op:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span(q, "op"):
            t0 = time.perf_counter()
            with tr.span(f"{q}.build", "queries"):
                df = self.fns[q](ctx.spark, ctx.data_dir)
            with tr.span(f"{q}.exec", "exec"):
                row = fingerprint_expr(df).first()
            latency = time.perf_counter() - t0
        fp = (row["n"], row["h"])
        self.schemas.setdefault(q, df.schema)
        if tr.enabled:
            self.storage_mb_peak = max(self.storage_mb_peak, _storage_mb(ctx.sc))
        self.seen.setdefault(q, set()).add(fp)
        return Op(q, latency, len(self.seen[q]) == 1)

    def prepare(self) -> None:
        pass

    def finish_pass(self, ops: list[Op]) -> None:
        pass

    def run_pass(self) -> list[Op]:
        from data_pipelines_examples_spark import release_cached

        ops = []
        for q in self.queries:
            try:
                ops.append(self._op(q))
            except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
                self.ctx.log(f"{q}: {type(e).__name__}: {e}")
                ops.append(Op(q, 0.0, False))
            self.cache_arms += release_cached()
            self.ctx.spark.catalog.clearCache()
            gc.collect()
        return ops

    def rows_per_pass(self) -> int:
        return self.input_rows

    def check(self) -> set[str]:
        """Names of queries whose fingerprint differs between passes or
        from the DuckDB oracle on the same inputs."""
        con = duckdb_with_tables(self.ctx.data_dir)
        bad = {q for q, fps in self.seen.items() if len(fps) != 1}
        for q in self.queries:
            if q in bad or q not in self.seen:
                bad.add(q)
                continue
            try:
                ref = reference_fingerprint(
                    self.ctx.spark, con.execute(self.oracles[q]).arrow(), self.schemas[q]
                )
            except Exception as e:  # noqa: BLE001
                self.ctx.log(f"{q}: reference failed: {type(e).__name__}: {e}")
                bad.add(q)
                continue
            if ref not in self.seen[q]:
                self.ctx.log(f"{q}: fingerprint {self.seen[q]} != reference {ref}")
                bad.add(q)
        con.close()
        return bad


EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
FALSE_KILL_SHARE = 0.02
# Landing-batch size. The basis is an earlier prototype ingest loop over
# this library: the sf0.1 events table (100,000 rows) landed in 12 batches,
# 8,333 events each. The sf0.1 documents table (5,000) lands in
# the same 12 batches, 417 documents each, and the events' users come from
# the sf0.1 user domain (15,000 customers, one user per ten).
SF01_EVENTS, SF01_DOCS, SF01_USERS, SF01_BATCHES = 100_000, 5_000, 1_500, 12


def near_duplicates(docs: list[tuple[int, str]], threshold: float = 0.5) -> set[int]:
    """Ids of documents with a near-duplicate of smaller id: word-3-shingle
    Jaccard >= ``threshold``. Only pairs that share a shingle are compared."""
    shingles: dict[int, set[str]] = {}
    by_shingle: dict[str, list[int]] = {}
    for i, text in docs:
        w = re.split(r"\s+", text.lower())
        shingles[i] = {" ".join(w[j : j + 3]) for j in range(max(len(w) - 2, 1))}
        for sh in shingles[i]:
            by_shingle.setdefault(sh, []).append(i)
    dups = set()
    for a in shingles:
        for b in {b for sh in shingles[a] for b in by_shingle[sh] if b > a} - dups:
            sa, sb = shingles[a], shingles[b]
            if len(sa & sb) >= threshold * len(sa | sb):
                dups.add(b)
    return dups


class IngestWorkload:
    """API-to-table ingestion. One operation takes one landed batch (events
    and documents as JSON lines) to a committed, validated state: shred the
    JSON payload, append the events partitioned by date with count
    validation, upsert per-user state, compact the events table, and drain
    the document stream through the incremental near-dup dedup against the
    band table. A pass is one batch.

    The warm-up lands batch 0 onto empty tables. Every measured pass lands
    batch 1 onto a fresh copy of the tables batch 0 left (events, user
    state, corpus, band table and stream checkpoint), so every measured
    operation does the same work, however many a run measures."""

    def __init__(self, name: str, scale: float = 1.0):
        self.name = name
        self.batch_events = max(1, round(SF01_EVENTS / SF01_BATCHES * scale))
        self.batch_docs = max(1, round(SF01_DOCS / SF01_BATCHES * scale))
        self.users = max(1, round(SF01_USERS * scale))
        self.validated: list[tuple[int, int]] = []  # (batch, validated rows)
        self.writer_bytes: dict[str, int] = {}
        self.writer_files: dict[str, int] = {}
        self.cache_arms = 0
        self.storage_mb_peak = 0.0
        self.passes = 0

    def generate(self, ctx) -> None:
        """Write both landing batches as JSON lines under ``incoming/``."""
        self.incoming = os.path.join(ctx.work_dir, "incoming")
        self.land = os.path.join(ctx.work_dir, "landing")
        rng = np.random.RandomState(ctx.seed)
        events = datagen.events_table(rng, 2 * self.batch_events, self.users).to_pylist()
        docs = datagen.documents_table(rng, 2 * self.batch_docs).to_pylist()
        self.landed = {}
        for b in (0, 1):
            ev = events[b * self.batch_events : (b + 1) * self.batch_events]
            dc = docs[b * self.batch_docs : (b + 1) * self.batch_docs]
            self.landed[b] = 0
            for sub, rows in (("events", ev), ("docs", dc)):
                os.makedirs(os.path.join(self.incoming, sub), exist_ok=True)
                path = os.path.join(self.incoming, sub, f"batch-{b:05d}.json")
                with open(path, "w") as f:
                    for r in rows:
                        if "ts" in r:
                            r = {**r, "ts": r["ts"].isoformat()}
                        f.write(json.dumps(r) + "\n")
                self.landed[b] += os.path.getsize(path)
        ctx.inputs = {
            "events": {"rows_per_batch": self.batch_events, "users": self.users},
            "documents": {"rows_per_batch": self.batch_docs},
            "bytes_landed_per_batch": self.landed[1],
        }

    def setup(self, ctx) -> None:
        from data_pipelines_examples_spark.streaming.pipeline import (
            attach_progress_collector,
        )

        self.ctx = ctx
        self.collector = attach_progress_collector(ctx.spark)
        self.input_rows = self.batch_events + self.batch_docs
        self.saved = os.path.join(ctx.work_dir, "tables-0")
        self._use_tables(self.saved)
        self._land(0)
        self.before = {}
        # warm-up: compiles every step. Finishing it waits for its drain's
        # progress record, which must not count for the first measured drain.
        self._finish(self._op(0))
        self._land(1)

    def _use_tables(self, root: str) -> None:
        self.out = root
        self.paths = {
            k: os.path.join(root, k)
            for k in ("events", "users", "corpus", "bands", "checkpoint")
        }

    def _land(self, b: int) -> None:
        for sub in ("events", "docs"):
            os.makedirs(os.path.join(self.land, sub), exist_ok=True)
            name = os.path.join(sub, f"batch-{b:05d}.json")
            shutil.copyfile(
                os.path.join(self.incoming, name), os.path.join(self.land, name)
            )

    def _snapshot(self) -> dict[str, tuple[int, int]]:
        snap = {}
        for dirpath, _, files in os.walk(self.out):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
        return snap

    def _written(self, before, after) -> tuple[int, int]:
        new = [p for p, v in after.items() if before.get(p) != v]
        return sum(after[p][0] for p in new), len(new)

    def prepare(self) -> None:
        """Untimed: a fresh copy of the post-warm-up tables under a new
        path (no listing Spark cached for an old path applies to it)."""
        if self.out != self.saved:
            shutil.rmtree(self.out)
        self.passes += 1
        fresh = os.path.join(self.ctx.work_dir, f"tables-{self.passes}")
        shutil.copytree(self.saved, fresh)
        self._use_tables(fresh)
        self.before = self._snapshot()

    def finish_pass(self, ops: list[Op]) -> None:
        for op in ops:
            if op.ok:
                self._finish(op)

    def _finish(self, op: Op, timeout: float = 10.0) -> None:
        """Untimed: bytes the operation wrote, and its drain's progress
        records once the listener has delivered them."""
        op.written, _ = self._written(self.before, self._snapshot())
        want = self._records0 + self._drain_batches
        deadline = time.time() + timeout
        while len(self.collector.records) < want and time.time() < deadline:
            time.sleep(0.05)
        op.progress = self.collector.records[self._records0 : want]

    def _writer(self, name: str, fn):
        """Run one writer call under its span; in a traced run, attribute
        the bytes and files it wrote."""
        tr = self.ctx.tracer
        before = self._snapshot() if tr.enabled else None
        with tr.span(name, "writers"):
            result = fn()
        if tr.enabled:
            nbytes, nfiles = self._written(before, self._snapshot())
            self.writer_bytes[name] = self.writer_bytes.get(name, 0) + nbytes
            self.writer_files[name] = self.writer_files.get(name, 0) + nfiles
        return result

    def _op(self, b: int) -> Op:
        from pyspark.sql import functions as F

        from data_pipelines_examples_spark import release_cached
        from data_pipelines_examples_spark.operators.json_ops import shred_json
        from data_pipelines_examples_spark.sources.writers import (
            compact_path,
            upsert_by_key,
            write_validated,
        )
        from data_pipelines_examples_spark.streaming.ingest import (
            stream_ingest_dedup,
        )

        ctx, tr, p = self.ctx, self.ctx.tracer, self.paths
        spark = ctx.spark
        ev_file = os.path.join(self.land, "events", f"batch-{b:05d}.json")
        self._records0 = len(self.collector.records)
        with tr.span(f"batch-{b}", "op"):
            t0 = time.perf_counter()
            with tr.span("shred_json", "queries"):
                raw = spark.read.schema(EVENT_SCHEMA).json(ev_file)
                shredded = shred_json(raw, "props", {"k": ("$.k", "bigint")}).withColumn(
                    "dt", F.to_date("ts")
                )
            n = self._writer(
                "write_validated",
                lambda: write_validated(
                    shredded, p["events"], mode="append", partition_by="dt"
                ),
            )
            updates = (
                shredded.groupBy("user_id")
                .agg(
                    F.max("ts").alias("last_ts"),
                    F.count(F.lit(1)).alias("batch_events"),
                )
                .withColumn("batch_id", F.lit(b))
            )
            self._writer(
                "upsert_by_key",
                lambda: upsert_by_key(updates, p["users"], "user_id", "batch_id"),
            )
            self._writer(
                "compact_path",
                lambda: compact_path(spark, p["events"], partition_by="dt"),
            )
            with tr.span("stream_drain", "streaming") as sp:
                stream = spark.readStream.schema(DOC_SCHEMA).json(
                    os.path.join(self.land, "docs")
                )
                q = stream_ingest_dedup(stream, p["corpus"], p["bands"], p["checkpoint"])
                if sp is not None:
                    sp.group = str(q.runId)
                q.awaitTermination()
            latency = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream drain failed: {q.exception()}")
        self._drain_batches = len(q.recentProgress)
        self.validated.append((b, n))
        self.cache_arms += release_cached()
        return Op(f"batch-{b}", latency, True, self.landed[b])

    def run_pass(self) -> list[Op]:
        try:
            return [self._op(1)]
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            self.ctx.log(f"ingest batch 1: {type(e).__name__}: {e}")
            return [Op("batch-1", 0.0, False)]

    def rows_per_pass(self) -> int:
        return self.input_rows

    def check(self) -> set[str]:
        """Batches whose validated count or committed state disagrees with
        a DuckDB reference over the landing files. A table-level mismatch
        fails every batch."""
        import duckdb

        spark, land = self.ctx.spark, self.land
        con = duckdb.connect()
        ev_cols = (
            "{'event_id':'BIGINT','ts':'TIMESTAMP','user_id':'BIGINT',"
            "'event_type':'VARCHAR','value':'DOUBLE','props':'VARCHAR'}"
        )
        events = (
            f"read_json('{land}/events/*.json', format='newline_delimited', "
            f"columns={ev_cols}, filename=true)"
        )
        bad: set[str] = set()
        per_file = dict(
            con.execute(f"SELECT filename, count(*) FROM {events} GROUP BY 1").fetchall()
        )
        for b, n in self.validated:
            path = os.path.join(land, "events", f"batch-{b:05d}.json")
            if per_file.get(path) != n:
                self.ctx.log(f"batch {b}: validated {n} rows, landed {per_file.get(path)}")
                bad.add(f"batch-{b}")
        tables_ok = True
        ev_ref = con.execute(
            f"""SELECT event_id, ts, user_id, event_type, value, props,
                       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                       CAST(ts AS DATE) AS dt
                FROM {events}"""
        ).arrow()
        ev_df = spark.read.parquet(self.paths["events"]).select(*ev_ref.column_names)
        users_ref = con.execute(
            f"""WITH b AS (
                  SELECT user_id, CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS BIGINT) AS batch_id,
                         max(ts) AS last_ts, count(*) AS batch_events
                  FROM {events} GROUP BY ALL)
                SELECT user_id, last_ts, batch_events, batch_id FROM b
                QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY batch_id DESC) = 1"""
        ).arrow()
        users_df = spark.read.parquet(self.paths["users"]).select(*users_ref.column_names)
        for label, ref, df in (("events", ev_ref, ev_df), ("users", users_ref, users_df)):
            got, want = fingerprint(df), reference_fingerprint(spark, ref, df.schema)
            if got != want:
                self.ctx.log(f"{label} table fingerprint {got} != reference {want}")
                tables_ok = False
        # corpus: banded MinHash is approximate, so the reference is exact
        # word-3-shingle Jaccard. Every landed document with a near-duplicate
        # (Jaccard >= 0.5) of smaller id must be gone, every other one kept,
        # except that one document, or FALSE_KILL_SHARE of them if more, may
        # be dropped by a spurious band collision.
        docs = con.execute(
            f"SELECT doc_id, text FROM read_json('{land}/docs/*.json', "
            "format='newline_delimited', columns={'doc_id':'BIGINT','text':'VARCHAR'})"
        ).fetchall()
        dups = near_duplicates(docs)
        kept = [
            r[0] for r in spark.read.parquet(self.paths["corpus"]).select("doc_id").collect()
        ]
        landed = {i for i, _ in docs}
        false_kills = landed - dups - set(kept)
        if (
            len(kept) != len(set(kept))
            or not set(kept) <= landed - dups
            or len(false_kills) > max(1, FALSE_KILL_SHARE * len(landed))
        ):
            self.ctx.log(
                f"corpus: {len(kept)} kept of {len(landed)} landed, {len(dups)} "
                f"near-duplicates, {len(false_kills)} dropped without one"
            )
            tables_ok = False
        con.close()
        if not tables_ok:
            bad.update(f"batch-{b}" for b, _ in self.validated)
        return bad


WORKLOADS = {
    "batch_queries": lambda scale: ReadWorkload("batch_queries", QUERIES, scale),
    "incremental_ingest": lambda scale: IngestWorkload("incremental_ingest", scale),
}
