"""Streaming residency soak — the micro-batch mirror of the r8 batch
residency soak (3 full-catalog passes, zero cache accumulation).

Runs TWO concurrent file-source ingest streams (`stream_ingest_dedup`
— each micro-batch runs minhash LSH dedup against the accumulated
corpus inside foreachBatch on its own micro-batch thread, the exact
shape that leaked one persisted-frame set per micro-batch before the
r8 scope-drain fix) for N micro-batches each, and samples after every
batch:

- the library cache registry size (must return to a constant baseline
  — arms are drained by each batch's own scope exit),
- the JVM's storage-memory used (must stay flat — a leak here is an
  executor OOM at production residency even if the registry looks
  clean),
- cumulative batch counts per stream.

It also prints each micro-batch's ``addBatch`` time (the foreachBatch
body, from ``attach_progress_collector``) per stream, and compares the
median of the first decile of batches with the last: the band table
grows by every batch, so a flat ratio shows the per-batch cost tracks
the batch, not the table. Beside it, each stream reports its Spark jobs
per micro-batch (every job that ran under the stream's run-id job
group, divided by its data batches), and its band table reports its
data-file count and files per micro-batch (1 expected: each micro-batch
writes its band rows as one file). All three are reported, not gated.

Exit code 0 iff: both streams processed all their files, the registry
is EMPTY after the streams stop, and max storage memory across the
soak stays under `--storage-ceiling-mb` (default 64 MB — the steady
state measured on this workload is <8 MB; the pre-fix leak grew
~linearly per batch).

Usage:
    python tools/soak_streaming.py [--batches=150] [--docs-per-batch=4]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> int:
    n_batches = next(
        (int(a.split("=", 1)[1]) for a in sys.argv if a.startswith("--batches=")),
        150,
    )
    docs_per_batch = next(
        (
            int(a.split("=", 1)[1])
            for a in sys.argv
            if a.startswith("--docs-per-batch=")
        ),
        4,
    )
    ceiling_mb = next(
        (
            float(a.split("=", 1)[1])
            for a in sys.argv
            if a.startswith("--storage-ceiling-mb=")
        ),
        64.0,
    )

    from data_pipelines_examples_spark import cache
    from data_pipelines_examples_spark.session import get_session
    from data_pipelines_examples_spark.streaming.ingest import stream_ingest_dedup
    from data_pipelines_examples_spark.streaming.pipeline import (
        attach_progress_collector,
    )

    spark = get_session("streaming-soak")
    sc = spark.sparkContext

    def storage_used_mb() -> float:
        # sum of memoryUsed across block-manager statuses (driver +
        # local executors) — the number that grows when unpersists leak
        statuses = sc._jsc.sc().getExecutorMemoryStatus()
        it = statuses.iterator()
        total_free = 0
        total_max = 0
        while it.hasNext():
            kv = it.next()
            total_max += kv._2()._1()
            total_free += kv._2()._2()
        return (total_max - total_free) / (1024 * 1024)

    root = tempfile.mkdtemp(prefix="soak_")
    collector = attach_progress_collector(spark)
    try:
        # stage all input files up front; maxFilesPerTrigger=1 makes
        # each file one micro-batch
        for s in (1, 2):
            src = os.path.join(root, f"src{s}")
            os.makedirs(src)
            for b in range(n_batches):
                with open(os.path.join(src, f"b{b:05d}.json"), "w") as fh:
                    for d in range(docs_per_batch):
                        k = (s * n_batches + b) * docs_per_batch + d
                        words = " ".join(f"w{k}x{i}" for i in range(12))
                        fh.write(
                            json.dumps(
                                {"doc_id": k, "text": words}
                            )
                            + "\n"
                        )
        schema = "doc_id bigint, text string"
        queries = []
        for s in (1, 2):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(os.path.join(root, f"src{s}"))
            )
            queries.append(
                stream_ingest_dedup(
                    stream,
                    os.path.join(root, f"corpus{s}"),
                    os.path.join(root, f"bands{s}"),
                    os.path.join(root, f"ckpt{s}"),
                )
            )
        samples = []
        # Structured Streaming runs every job of a stream under its run
        # id's job group. Collected while the soak runs: the status
        # tracker keeps only the most recent jobs.
        groups = [str(q.runId) for q in queries]
        job_ids: list[set] = [set() for _ in queries]

        def collect_jobs() -> None:
            for ids, group in zip(job_ids, groups):
                ids.update(sc.statusTracker().getJobIdsForGroup(group))

        t0 = time.time()
        # a healthy file-source stream never self-terminates, and a
        # failed one never reaches the last batch id — both need a
        # deadline or the loop spins forever on `isActive`
        deadline = t0 + next(
            (
                float(a.split("=", 1)[1])
                for a in sys.argv
                if a.startswith("--deadline-sec=")
            ),
            45 * 60,
        )
        while any(q.isActive for q in queries) and time.time() < deadline:
            if any(q.exception() is not None for q in queries):
                break  # a dead stream can never finish its batches
            done = all(
                not q.status["isDataAvailable"]
                and not q.status["isTriggerActive"]
                for q in queries
            )
            collect_jobs()
            with cache._LOCK:
                reg = len(cache._TRACKED)
            samples.append(
                {
                    "t": round(time.time() - t0, 1),
                    "registry": reg,
                    "storage_mb": round(storage_used_mb(), 2),
                    "batches": [
                        q.lastProgress["batchId"] if q.lastProgress else -1
                        for q in queries
                    ],
                }
            )
            if done and all(
                q.lastProgress and q.lastProgress["batchId"] >= n_batches - 1
                for q in queries
            ):
                break
            time.sleep(2.0)
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(60)
        collect_jobs()

        with cache._LOCK:
            reg_after = len(cache._TRACKED)
        errs = [str(q.exception())[:200] for q in queries if q.exception()]
        if not samples or errs:
            # streams died before/ during the soak — emit a clean
            # failing verdict instead of crashing the report path
            print(
                json.dumps(
                    {
                        "soak": "streaming-ingest",
                        "ok": False,
                        "errors": errs or ["no samples collected"],
                        "wall_sec": round(time.time() - t0, 1),
                    }
                )
            )
            return 1
        rows = [
            spark.read.parquet(os.path.join(root, f"corpus{s}")).count()
            for s in (1, 2)
        ]
        add_batch = _add_batch_ms(collector, [str(q.id) for q in queries], n_batches)
        band_files = [_band_files(os.path.join(root, f"bands{s}")) for s in (1, 2)]
        peak_mb = max(x["storage_mb"] for x in samples)
        last_batches = samples[-1]["batches"]
        ok = (
            reg_after == 0
            and all(r == n_batches * docs_per_batch for r in rows)
            and peak_mb <= ceiling_mb
        )
        print(
            json.dumps(
                {
                    "soak": "streaming-ingest",
                    "streams": 2,
                    "micro_batches_per_stream": n_batches,
                    "rows_per_stream": rows,
                    "registry_after": reg_after,
                    "registry_max_seen": max(x["registry"] for x in samples),
                    "storage_mb_peak": peak_mb,
                    "storage_mb_last": samples[-1]["storage_mb"],
                    "last_batch_ids": last_batches,
                    "add_batch_ms": add_batch,
                    "jobs_per_micro_batch": [
                        round(len(ids) / len(a["per_batch"]), 2) if a["per_batch"] else None
                        for ids, a in zip(job_ids, add_batch)
                    ],
                    "band_files": band_files,
                    "wall_sec": round(time.time() - t0, 1),
                    "ok": ok,
                }
            )
        )
        return 0 if ok else 1
    finally:
        collector.detach()
        shutil.rmtree(root, ignore_errors=True)


def _band_files(bands_path: str) -> dict:
    """Data files in one band table, and per ``__batch_id`` partition."""
    parts = [d for d in os.listdir(bands_path) if d.startswith("__batch_id=")]
    files = sum(
        f.startswith("part-") and f.endswith(".parquet")
        for d in parts
        for f in os.listdir(os.path.join(bands_path, d))
    )
    return {
        "data_files": files,
        "micro_batches": len(parts),
        "files_per_micro_batch": round(files / len(parts), 2) if parts else None,
    }


def _add_batch_ms(collector, query_ids: list[str], n_batches: int) -> list[dict]:
    """Per stream: every data batch's ``addBatch`` ms in batch order, and
    the median of the first decile of batches against the last decile's.
    Listener delivery is asynchronous, so wait briefly for the records."""
    import statistics

    def per_query():
        recs = [r for r in collector.records if r["num_input_rows"] > 0]
        return {
            q: sorted(
                (r["batch_id"], r["duration_ms"].get("addBatch", 0))
                for r in recs
                if r["query_id"] == q
            )
            for q in query_ids
        }

    for _ in range(50):
        got = per_query()
        if all(len(v) >= n_batches for v in got.values()):
            break
        time.sleep(0.2)
    out = []
    for ms in ([m for _b, m in v] for v in got.values()):
        k = max(1, len(ms) // 10)
        first, last = statistics.median(ms[:k]), statistics.median(ms[-k:])
        out.append(
            {
                "per_batch": ms,
                "first_decile_median": first,
                "last_decile_median": last,
                "last_over_first": round(last / first, 2) if first else None,
            }
        )
    return out


if __name__ == "__main__":
    raise SystemExit(main())
