"""Similarity-search tests: brute force vs IVF invariants, LSH shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from data_pipelines_examples_spark.operators.similarity import (
    brute_force_topk,
    embedding_dedup_pairs,
    embedding_dedup_pairs_lsh,
    ivf_topk,
    kmeans_centroids,
    lsh_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .cache()
    )


def _queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """Probing every bucket must reproduce exact brute force — the
    correctness invariant that pins the IVF plumbing."""
    centroids = kmeans_centroids(emb, k=4)
    exact = brute_force_topk(emb, _queries(emb), k=5)
    ivf = ivf_topk(emb, _queries(emb), centroids, n_probe=4, k=5)
    e = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    a = {(r.query_id, r.vec_id, r.rank) for r in ivf.collect()}
    assert e == a


def test_ivf_partial_probe_subset(spark, emb):
    centroids = kmeans_centroids(emb, k=4)
    ivf = ivf_topk(emb, _queries(emb), centroids, n_probe=1, k=5)
    rows = ivf.collect()
    # ≤ k results per query, ranks contiguous from 1
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_lsh_results_subset_of_brute_force_universe(spark, emb):
    import random

    dim = len(emb.first().embedding)
    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    out = lsh_topk(emb, _queries(emb), planes, k=5)
    ids = {r.vec_id for r in out.collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert ids <= all_ids and out.count() > 0


def test_embedding_dedup_lsh_subset_of_exact(spark, emb):
    """The LSH dedup path has zero false positives (exact in-bucket
    verification): its pairs are a non-empty subset of the all-pairs
    baseline at the same threshold, with identical cosines."""
    from data_pipelines_examples_spark.oracles import gauss_plane_tables

    dim = len(emb.first().embedding)
    tables = gauss_plane_tables(n_tables=8, n_planes=4, dim=dim, seed=3)
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_dedup_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_dedup_pairs_lsh(emb, tables, threshold=0.4).collect()
    }
    assert lsh and set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]


def test_arrow_buckets_bit_identical_to_expression_fold(spark):
    """The Arrow signature path must produce EXACTLY the buckets of the
    HOF expression fold — same left-associative float64 sequence — or the
    DuckDB full-replication oracle (q42) silently diverges. Adversarial
    vectors: tiny/huge magnitudes, sign cancellations, zeros."""
    import random

    from pyspark.sql import functions as F

    from data_pipelines_examples_spark.operators.similarity import (
        hyperplane_bucket,
        hyperplane_buckets_arrow,
    )
    from data_pipelines_examples_spark.oracles import gauss_plane_tables

    rng = random.Random(13)
    dim = 16
    rows = []
    for i in range(300):
        scale = 10.0 ** rng.randint(-6, 6)
        rows.append((i, [rng.uniform(-1, 1) * scale for _ in range(dim)]))
    rows += [(300, [0.0] * dim), (301, [1e-300] * dim), (302, [-0.0] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tables = gauss_plane_tables(n_tables=4, n_planes=7, dim=dim, seed=99)

    expr_cols = [
        hyperplane_bucket("embedding", p).alias(f"b{t}")
        for t, p in enumerate(tables)
    ]
    expr = {
        r.vec_id: tuple(r[f"b{t}"] for t in range(len(tables)))
        for r in df.select("vec_id", *expr_cols).collect()
    }
    arrow = {
        r.vec_id: tuple(r.bkts)
        for r in df.select(
            "vec_id", hyperplane_buckets_arrow(tables)(F.col("embedding")).alias("bkts")
        ).collect()
    }
    assert expr == arrow


def test_recall_at_k_exact_vs_itself_and_lsh(spark):
    from data_pipelines_examples_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        recall_at_k,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = (
        emb.limit(5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    exact = brute_force_topk(emb, queries, k=10)
    # exact vs itself: recall == 1.0 for every query
    self_r = recall_at_k(exact, exact).collect()
    assert len(self_r) == 5
    assert all(r["recall"] == 1.0 for r in self_r)
    # LSH vs exact: recall is measurable and bounded [0, 1]; n_exact = k
    from data_pipelines_examples_spark.oracles import gauss_planes

    approx = lsh_topk(emb, queries, gauss_planes(n_planes=4, dim=64, seed=7), k=10)
    rows = recall_at_k(approx, exact).collect()
    assert len(rows) == 5
    assert all(0.0 <= r["recall"] <= 1.0 and r["n_exact"] == 10 for r in rows)


def test_recall_at_k_counts_misses(spark):
    from data_pipelines_examples_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id int, vec_id int, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (2, 98, 1), (2, 97, 2)],
        "query_id int, vec_id int, rank int",
    )
    got = {r["query_id"]: r for r in recall_at_k(approx, exact).collect()}
    assert got[1]["n_hit"] == 1 and got[1]["recall"] == 0.5
    assert got[2]["n_hit"] == 0 and got[2]["recall"] == 0.0


def test_pca_reduce_preserves_neighborhoods(spark):
    """On data WITH low-rank structure (clusters in a subspace), reduced-
    space top-1 neighbors keep the query's cluster. (The parquet corpus
    is isotropic — unit-norm, ~0 mean, top-16 PCs explain only ~38% —
    so no dimension reduction can preserve ITS neighborhoods; structure
    in, structure out.)"""
    import random

    from data_pipelines_examples_spark.operators.similarity import (
        brute_force_topk,
        pca_reduce,
    )

    rng = random.Random(5)
    dim, n_per = 64, 30
    centers = []
    for c_i in range(3):
        v = [0.0] * dim
        v[c_i] = 10.0  # clusters live in a 3-dim subspace
        centers.append(v)
    rows = []
    for c_i, ctr in enumerate(centers):
        for j in range(n_per):
            rows.append(
                (
                    c_i * n_per + j,
                    c_i,
                    [x + rng.gauss(0, 0.5) for x in ctr],
                )
            )
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    reduced, bundle = pca_reduce(df, k=4)
    assert len(reduced.first()["embedding_pca"]) == 4
    ev = list(bundle["model"].explainedVariance)
    assert ev == sorted(ev, reverse=True)
    corpus = reduced.select("vec_id", F.col("embedding_pca").alias("embedding"))
    queries = corpus.limit(15).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top1 = brute_force_topk(corpus, queries, k=1)
    label_of = {r["vec_id"]: r["label"] for r in df.select("vec_id", "label").collect()}
    for r in top1.collect():
        assert label_of[r["query_id"]] == label_of[r["vec_id"]]


def test_pca_projection_matches_numpy_geometry(spark):
    """The projected Gram matrix (pairwise dots) must match numpy's
    centered-SVD projection — rotation/sign-invariant equivalence, so
    the pin survives eigenvector sign flips."""
    import numpy as np

    from conftest import SF_SMOKE
    from data_pipelines_examples_spark.operators.similarity import pca_reduce

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").orderBy("vec_id").limit(50)
    reduced, _ = pca_reduce(emb, k=8)
    rows = reduced.orderBy("vec_id").select("vec_id", "embedding_pca", "embedding").collect()
    P = np.array([list(r["embedding_pca"]) for r in rows], dtype=np.float64)
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    _, _, Vt = np.linalg.svd(Xc, full_matrices=False)
    Q = Xc @ Vt[:8].T
    assert np.allclose(P @ P.T, Q @ Q.T, atol=1e-3)


def test_pca_transform_is_deterministic_per_model(spark):
    from data_pipelines_examples_spark.operators.similarity import (
        pca_reduce,
        pca_transform,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(50)
    _, model = pca_reduce(emb, k=4)
    a = pca_transform(model, emb).select("vec_id", "embedding_pca").collect()
    b = pca_transform(model, emb).select("vec_id", "embedding_pca").collect()
    assert {r["vec_id"]: list(r["embedding_pca"]) for r in a} == {
        r["vec_id"]: list(r["embedding_pca"]) for r in b
    }
