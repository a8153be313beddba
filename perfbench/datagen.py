"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as parquet with the same
schemas, key domains and value distributions as the catalog's reference
testdata, at ``scale`` times the sf0.01 row counts. The same seed always
gives byte-identical tables; different seeds give different rows with the
same row counts, so timings stay comparable across seeds.

The perturbation helpers in ``tools/resample_testdata.py`` transform an
existing dataset; the benchmark may only read its own checkout, so it
generates the base tables here from the seed alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the reference testdata
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
NEAR_DUP_RATE = 0.05


def row_counts(scale: float) -> dict[str, int]:
    return {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng, start: dt.date, days: int, n: int) -> pa.Array:
    epoch_days = (start - dt.date(1970, 1, 1)).days + rng.randint(0, days, n)
    return pa.array(epoch_days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _documents(rng, n: int) -> list[str]:
    """Random word documents; ~5% are one-token edits (``dup`` appended or
    the last token dropped) of an earlier original of at least 40 tokens.
    Such a pair has word-3-shingle Jaccard >= 0.95 and unrelated documents
    share almost no shingles, so every near-dedup method finds exactly the
    planted pairs."""
    texts: list[str] = []
    sources: list[str] = []
    for _ in range(n):
        if sources and rng.rand() < NEAR_DUP_RATE:
            src = sources[rng.randint(0, len(sources))]
            texts.append(src + " dup" if rng.rand() < 0.5 else src.rsplit(" ", 1)[0])
        else:
            words = rng.choice(VOCAB, size=rng.randint(10, 100))
            texts.append(" ".join(words))
            if len(words) >= 40:
                sources.append(texts[-1])
    return texts


def events_table(rng, n: int, n_users: int) -> pa.Table:
    """Events sorted by time over 30 days, users in the custkey domain."""
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.randint(0, span_us, n))
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start_us + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.randint(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n)]),
        }
    )


def documents_table(rng, n: int, first_id: int = 0) -> pa.Table:
    texts = _documents(rng, n)
    ids = np.arange(first_id, first_id + n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(dst: str, seed: int, scale: float = 1.0) -> dict[str, dict[str, int]]:
    """Write every table under ``dst``; return {table: {rows, bytes}}."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.RandomState(seed)
    n = row_counts(scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.randint(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.randint(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    np_ = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array(rng.choice(names, np_)),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, np_)]),
            "p_type": pa.array(rng.choice(PART_TYPES, np_)),
            "p_size": pa.array(rng.randint(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)
            ),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.randint(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _midnights(rng, dt.date(1995, 1, 1), 2400, no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    nl = n["lineitem"]
    qty = rng.randint(1, 51, nl).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.randint(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.randint(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.randint(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.randint(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
            "l_discount": pa.array(rng.randint(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.randint(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _midnights(rng, dt.date(1995, 1, 2), 2500, nl),
        }
    )
    # one user per ten customers, as in the reference events table
    tables["events"] = events_table(rng, n["events"], max(1, nc // 10))
    tables["documents"] = documents_table(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, ne), pa.int32()),
        }
    )
    out = {}
    for name, t in tables.items():
        path = os.path.join(dst, f"{name}.parquet")
        pq.write_table(t, path)
        out[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return out
