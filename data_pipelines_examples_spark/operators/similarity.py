"""Similarity search over embedding columns (array<float>).

LLM-pipeline extension (BASELINE.json north star): brute-force cosine
top-k as the exact baseline, plus an LSH-bucketed variant as the scale
path. Embeddings are plain ``array<float>`` columns. Pairwise scoring
uses built-in higher-order functions (``zip_with`` + ``aggregate``) —
JVM-side, no per-row Python. The one deliberate exception is the LSH
SIGNATURE stage (``hyperplane_buckets_arrow``): Spark HOFs evaluate
interpreted (never codegen), so 48 plane-dots/vector pay ~3k lambda
calls each; the Arrow-batched numpy twin runs the same float64 sequence
bit-identically at vector speed. That is exactly the documented rule:
built-ins first, Arrow-batched Pandas UDFs where built-ins genuinely
can't express the computation efficiently — never row-at-a-time.

Scale notes:
- brute-force: query set is broadcast (it is small by construction); the
  corpus is scanned once, scored narrowly, then top-k per query via a
  window over (query_id) — one shuffle keyed by query_id.
- random-hyperplane LSH: each vector maps to a bucket signature; candidate
  pairs/lookups only join within buckets, turning O(N·Q) into
  O(N·Q/buckets) at a recall cost controlled by (n_planes, n_tables).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_internal
from .dedup import _ident


def _rebalance(df: DataFrame) -> DataFrame:
    """Under-parallelism guard for the map-side scoring stages: a corpus
    arriving in fewer splits than the cluster's parallelism would score
    on those few cores. RDD-free, no-op at production scale (see
    ``balance.ensure_parallelism``)."""
    from .balance import ensure_parallelism

    return ensure_parallelism(df)


# The vector math is Spark SQL text over SQL expressions (quote a column
# name with ``_ident``), so a caller parses its whole projection in one
# py4j call; a Column-builder tree costs one per node and per lambda.
# Each is a left-to-right fold starting at 0.0, the order the DuckDB
# oracles replay.


def dot(a: str, b: str) -> str:
    """Dot product of two array<float/double> expressions, JVM-side."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"


def cosine(a: str, b: str) -> str:
    return f"{dot(a, b)} / ({norm(a)} * {norm(b)})"


def _scored(
    pairs: DataFrame, id_col: str, vec_col: str, query_id_col: str, query_vec_col: str
) -> DataFrame:
    """(query_id, id, cosine_sim) of the joined (query, corpus) rows; the
    norms ``__cn``/``__qn`` were computed once per vector before the join."""
    qid, cid = _ident(query_id_col), _ident(id_col)
    dots = dot(_ident(vec_col), _ident(query_vec_col))
    return pairs.selectExpr(qid, cid, f"{dots} / (__cn * __qn) AS cosine_sim")


def _top_k(scored: DataFrame, k: int, id_col: str, query_id_col: str) -> DataFrame:
    """Rank 1..k per query, by cosine desc with ties broken by corpus id."""
    qid, cid = _ident(query_id_col), _ident(id_col)
    return scored.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {qid} ORDER BY cosine_sim DESC, {cid}) AS `rank`",
    ).filter(f"`rank` <= {int(k)}")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    Returns (query_id, vec_id, cosine_sim, rank) with rank 1..k per query.
    Queries are broadcast; ties broken by corpus id for determinism.
    """
    # Norms factor out of the pair loop: corpus-side once per vector,
    # query-side once per query before the broadcast. Same expressions →
    # bit-identical cosine values, 1 HOF fold per scored pair instead of 3.
    c = _rebalance(corpus).selectExpr("*", f"{norm(_ident(vec_col))} AS __cn")
    q = queries.selectExpr("*", f"{norm(_ident(query_vec_col))} AS __qn")
    scored = _scored(c.crossJoin(F.broadcast(q)), id_col, vec_col, query_id_col, query_vec_col)
    if exclude_self:
        scored = scored.filter(f"{_ident(query_id_col)} != {_ident(id_col)}")
    return _top_k(scored, k, id_col, query_id_col)


def _sql_double_array(values: list[float]) -> str:
    """Double-array literal as Spark SQL text, parsed in ONE call. The
    ``F.array(*[F.lit(float(x)) ...])`` form costs a py4j round trip per
    element — for 64-dim planes that is ~65 JVM calls per literal and was
    the dominant driver-side build cost of ``lsh_topk`` (measured ~0.5 s
    per query build). ``repr(float)`` round-trips exactly and the ``D``
    suffix is Spark's double-literal syntax, so the folded values are
    bit-identical to the ``F.lit`` form. Non-finite elements are
    rejected loudly: ``repr(nan)``/``repr(inf)`` do not parse as SQL
    double literals, and a plane/centroid containing them is a caller
    bug that deserves a named error, not an opaque ParseException."""
    import math

    bad = [x for x in values if not math.isfinite(float(x))]
    if bad:
        raise ValueError(
            f"_sql_double_array: non-finite element(s) {bad[:3]} — planes/"
            "centroids must be finite floats"
        )
    return "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"


def hyperplane_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id of the array column named
    ``vec_col``: bit i = sign(vec · plane_i).

    ``planes`` are driver-side constants (seeded), embedded as array
    literals — the signature computation is a pure projection, parsed
    from one SQL string.

    Why the HOF ``dot`` and not an unrolled codegen sum: a fully unrolled
    ``vec[0]·p0 + vec[1]·p1 + …`` chain for 48 planes × 64 dims lands a
    3k-term expression in one generate_doConsume method, exceeds janino's
    64 KB method limit, and falls back to INTERPRETED expression mode —
    measured 10× slower than the HOF fold (51 s vs 5 s on the sf0.1
    dedup). The aggregate/zip_with fold pays a fixed per-element lambda
    cost but stays bounded, partition-local, and bit-identical to the
    DuckDB oracle's replay of the same left-associative sequence.
    """
    v = _ident(vec_col)
    bucket = "CAST(0 AS BIGINT)"
    for plane in planes:
        bit = f"CAST({dot(v, _sql_double_array(plane))} > 0 AS BIGINT)"
        bucket = f"shiftleft({bucket}, 1) + {bit}"
    return F.expr(bucket)


def hyperplane_buckets_arrow(
    planes_tables: list[list[list[float]]],
) -> "Column":
    """Arrow-vectorized twin of ``hyperplane_bucket`` over EVERY table at
    once: a pandas UDF returning the per-table bucket array for each
    vector. This is the signature-stage scale path — the expression
    version pays an interpreted lambda call per (plane × element) because
    Spark's higher-order functions never enter codegen; the Arrow batch
    runs the same math as numpy array ops. Measured median-of-5 on the
    sf0.1 embedding dedup end-to-end: 1.7× (3.0 s → 1.7 s). (Don't trust
    a bare ``count()`` over the signature projection as a benchmark:
    explode cardinality is value-independent, so Catalyst prunes the
    bucket computation out of a count-only plan.)

    BIT-IDENTITY guarantee (this is what lets the DuckDB oracle keep
    hash-verifying the LSH output): the HOF fold computes
    ((0 + v0·p0) + v1·p1) + … sequentially in float64. Here each product
    row is accumulated with ``np.cumsum``, whose every intermediate is an
    output value — forcing the same left-associative float64 sequence
    (pairwise summation is impossible for a cumulative result), and the
    float32→float64 element promotion is exact in both engines. A
    property test pins expression/Arrow equality on random vectors.

    Returns a callable: ``col -> Column(array<long>)`` (one bucket per
    table; pair with ``posexplode`` for the (t, bkt) long table).
    """
    from pyspark.sql.types import ArrayType, LongType

    mats = [np.asarray(p, dtype=np.float64) for p in planes_tables]  # t × (planes, dim)

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(s: pd.Series) -> pd.Series:
        vals = s.to_numpy()
        mask = np.array([v is not None for v in vals])
        if not mask.any():
            return pd.Series([None] * len(vals))
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vals[mask]])
        out = np.empty((M.shape[0], len(mats)), dtype=np.int64)
        for t, planes in enumerate(mats):
            b = np.zeros(M.shape[0], dtype=np.int64)
            for plane in planes:
                # cumsum = the exact left-assoc fold the HOF/oracle run
                dots = np.cumsum(M * plane[None, :], axis=1)[:, -1]
                b = (b << 1) + (dots > 0).astype(np.int64)
            out[:, t] = b
        res = np.empty(len(vals), dtype=object)
        for j, i in enumerate(np.nonzero(mask)[0]):
            res[i] = out[j]
        return pd.Series(res)

    return _buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. Recall improves with fewer planes (bigger buckets)
    or by unioning multiple plane sets (multi-table LSH)."""
    c = _rebalance(corpus).select(
        "*",
        hyperplane_bucket(vec_col, planes).alias("__bucket"),
        F.expr(norm(_ident(vec_col))).alias("__cn"),
    )
    q = queries.select(
        "*",
        hyperplane_bucket(query_vec_col, planes).alias("__qbucket"),
        F.expr(norm(_ident(query_vec_col))).alias("__qn"),
    )
    pairs = c.join(F.broadcast(q), F.expr("__bucket = __qbucket"))
    scored = _scored(pairs, id_col, vec_col, query_id_col, query_vec_col).filter(
        f"{_ident(query_id_col)} != {_ident(id_col)}"
    )
    return _top_k(scored, k, id_col, query_id_col)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Train IVF centroids with MLlib KMeans (optionally on a sample).

    Training is the only MLlib touchpoint; assignment and search stay in
    pure column expressions.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    vecs = train.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    if vecs.head(1) == []:
        # fail with the real cause, not an opaque MLlib stage failure
        raise ValueError("kmeans_centroids: empty training set")
    model = KMeans(k=k, seed=seed).fit(vecs)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _nearest_centroids(vec_col: Column, centroids: list[list[float]], n: int) -> Column:
    """Array of the ``n`` nearest centroid ids (by squared L2) — pure
    expressions: per-centroid distance structs, array_sort, slice."""
    dists = []
    for i, c in enumerate(centroids):
        cc = F.expr(_sql_double_array(c))
        d2 = F.aggregate(
            F.zip_with(vec_col, cc, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dists.append(F.struct(d2.alias("d"), F.lit(i).alias("cid")))
    ordered = F.array_sort(F.array(*dists))
    return F.transform(F.slice(ordered, 1, n), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid; each query scores only the ``n_probe`` closest buckets.

    With ``n_probe == len(centroids)`` this is EXACTLY brute force (the
    invariant the tests pin); smaller n_probe trades recall for a
    1/(k/n_probe) scan reduction. At 100 TB the corpus assignment is a
    narrow projection computed once and persisted alongside the vectors;
    queries broadcast.
    """
    c = _rebalance(corpus).select(
        "*",
        _nearest_centroids(F.col(vec_col), centroids, 1)[0].alias("__bucket"),
        F.expr(norm(_ident(vec_col))).alias("__cn"),
    )
    q = queries.select(
        "*",
        _nearest_centroids(F.col(query_vec_col), centroids, n_probe).alias("__probes"),
        F.expr(norm(_ident(query_vec_col))).alias("__qn"),
    )
    pairs = c.join(F.broadcast(q), F.expr("array_contains(__probes, __bucket)")).filter(
        f"{_ident(query_id_col)} != {_ident(id_col)}"
    )
    scored = _scored(pairs, id_col, vec_col, query_id_col, query_vec_col)
    return _top_k(scored, k, id_col, query_id_col)


def embedding_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Exact all-pairs — the small-input correctness baseline that pins
    ``embedding_dedup_pairs_lsh``'s verification step in tests. NEVER the
    scale path: the O(n²) crossJoin is quadratic in corpus size. Production
    dedup at 100 TB goes through the LSH variant below.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.expr(cosine("__va", "__vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


#: Expected vectors per (table, bucket) the auto mode holds constant —
#: the 24–39 band tools/bench_lsh_ladder.py measured as the flat-cost
#: operating range across three decades (P=6 at ~2k vectors, 9 at ~20k,
#: 13 at ~200k all land here).
LSH_TARGET_OCCUPANCY = 32


def derive_n_planes(n_vectors: int, target_occupancy: int = LSH_TARGET_OCCUPANCY) -> int:
    """Planes-per-table that holds expected bucket occupancy ~constant.

    Expected occupancy is n / 2^P, so candidate pairs per bucket grow
    ~occupancy² — a FIXED P is not scale-invariant (the r10 ladder's
    measured property: P frozen at 6 under a 100× corpus is ~2.8 B
    candidates). P = round(log2(n / occupancy)) re-derives the ladder's
    manual cells exactly: 2k→6, 20k→9, 200k→13."""
    import math

    if n_vectors <= target_occupancy:
        return 1
    return max(1, round(math.log2(n_vectors / target_occupancy)))


def auto_plane_tables(
    df: DataFrame,
    vec_col: str = "embedding",
    n_tables: int = 8,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Occupancy-scaled hyperplane tables derived from the corpus itself.

    Costs ONE extra cheap aggregate (count + first vector length, a
    single job over the id/size projection — no payload collected); the
    planes then hold expected bucket occupancy at ``target_occupancy``
    regardless of corpus size. Use explicit tables instead when a result
    must be replicated exactly (the q42 oracle pins P=6 for that
    reason).

    The dimension probe skips null embeddings and raises if every
    embedding is null; min/max vector sizes ride the SAME single
    aggregate (r13 — one-job cost), so a corpus with MIXED
    dimensions now raises instead of silently folding short vectors in
    the signature stage. The size guard compares against ``dim > 0``
    rather than NULL so it stays robust under
    ``spark.sql.legacy.sizeOfNull=true`` (where size(NULL) is -1)."""
    from ..oracles import gauss_plane_tables  # local: avoid module cycle

    # size() only ever evaluates on non-null vectors, so the probe is
    # immune to spark.sql.legacy.sizeOfNull=true (size(NULL) = -1).
    valid = F.when(F.col(vec_col).isNotNull(), F.size(F.col(vec_col)))
    row = df.agg(
        F.count("*").alias("n"),
        F.min(valid).alias("dim_min"),
        F.max(valid).alias("dim_max"),
    ).first()
    if not row["n"]:
        raise ValueError("auto_plane_tables: empty corpus — no dimension to read")
    if row["dim_min"] is None:
        raise ValueError(
            f"auto_plane_tables: every {vec_col!r} value is null — "
            "no dimension to derive hyperplanes from"
        )
    if row["dim_min"] != row["dim_max"]:
        raise ValueError(
            f"auto_plane_tables: mixed {vec_col!r} dimensions "
            f"({row['dim_min']}..{row['dim_max']}) — the signature stage "
            "would silently fold short vectors; fix the corpus first"
        )
    if row["dim_min"] <= 0:
        raise ValueError(
            f"auto_plane_tables: every {vec_col!r} value is empty — "
            "no dimension to derive hyperplanes from"
        )
    n_planes = derive_n_planes(row["n"], target_occupancy)
    return gauss_plane_tables(
        n_tables=n_tables, n_planes=n_planes, dim=row["dim_min"], seed=seed
    )


def embedding_dedup_pairs_lsh(
    df: DataFrame,
    planes_tables: list[list[list[float]]] | str = "auto",
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs via multi-table hyperplane LSH — the 100 TB
    dedup path (mirrors ``minhash_lsh_pairs``' bucketed shape).

    Each of the L tables maps every vector to a bucket (sign bits against
    that table's hyperplanes); only bucket-mates within a table become
    candidates. Candidates carry IDS ONLY through the join + distinct —
    vectors join back once per verified pair side, so document-scale
    payloads never multiply by L. Exact cosine verification within
    candidates means zero false positives; recall is controlled by
    (n_tables, planes_per_table).

    Returns (id_a, id_b, cosine_sim) with id_a < id_b, cosine ≥ threshold.

    ``planes_tables="auto"`` (the default API path since r11) derives
    occupancy-scaled tables from the corpus via ``auto_plane_tables`` —
    fixed plane counts are not scale-invariant (candidates ~ n²/2^P).
    ``n_tables`` / ``target_occupancy`` / ``seed`` tune that derivation
    and are ignored when explicit tables are passed. Pass explicit
    tables only for exact replication (oracles, A/B).

    Scan honesty: the auto path runs ONE eager aggregate over the
    un-persisted input AT CALL TIME (count + one vector's size — ids
    and sizes only, no payload) before the lazy signature plan is
    built, i.e. one extra source scan vs explicit tables. Persist the
    input first if its lineage is expensive to recompute.
    """
    # The rebalanced frame feeds only the Arrow signature stage (which
    # wants the cluster's parallelism for its batched numpy work); the
    # verification sides below join FROM the raw input — routing them
    # through the rebalance would shuffle every embedding payload a
    # second time purely to change a partitioning the join immediately
    # discards (r13: removed 2 Exchange nodes carrying vectors).
    raw = df
    df = _rebalance(df)
    if isinstance(planes_tables, str):
        if planes_tables != "auto":
            raise ValueError(f"planes_tables must be a list or 'auto', got {planes_tables!r}")
        planes_tables = auto_plane_tables(
            df,
            vec_col=vec_col,
            n_tables=n_tables,
            target_occupancy=target_occupancy,
            seed=seed,
        )
    # Signature stage: Arrow-vectorized, bit-identical to the expression
    # fold (see hyperplane_buckets_arrow) — 8×6×64 interpreted HOF lambda
    # evals/row was the dominant cost of the whole dedup at sf0.1.
    bucketer = hyperplane_buckets_arrow(planes_tables)
    # Persisted before the self-join: both candidate sides consume this
    # frame and Spark does not collapse the two identical subtrees
    # (ReuseExchange misses them), so without the persist the Arrow
    # signature UDF runs TWICE over every vector. (id, t, bkt) rows only
    # — L ints per vector, ids-only scale.
    sigs = df.select(
        F.col(id_col), F.posexplode(bucketer(F.col(vec_col))).alias("t", "bkt")
    ).transform(persist_internal)
    a = sigs.select(F.col(id_col).alias("id_a"), "t", "bkt")
    b = sigs.select(F.col(id_col).alias("id_b"), "t", "bkt")
    cand = (
        a.join(b, ["t", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: norms are computed ONCE PER VECTOR before the join,
    # not once per candidate pair — per pair only the dot-product fold
    # remains (1 HOF chain instead of 3; measured 0.70× wall on the sf0.1
    # bench). Values are bit-identical: same expressions, the norm just
    # evaluates on the 2k-row base table instead of the 262k-row pair
    # table. (An unrolled codegen dot was also measured — slower: the
    # 64-term expression lands in the join condition twice and blows the
    # codegen method budget.)
    va = raw.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.expr(norm(_ident(vec_col))).alias("__na"),
    )
    vb = raw.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.expr(norm(_ident(vec_col))).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine_sim",
            F.expr(f"{dot('__va', '__vb')} / (__na * __nb)"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and k-means each independently (MLlib, like
    ``kmeans_centroids``). Returns codebooks[m][k][dim/m].

    PQ is the public memory-compression path for billion-vector search
    (the standard IVF companion): a 64-dim float32 vector (256 B)
    becomes ``m`` uint8 codes (8 B at m=8, k<=256) — a 32× footprint
    cut — while asymmetric-distance search stays a table lookup per
    subspace. Training touches a sample; encoding/search are pure
    column expressions.

    Reproducibility: MLlib k-means initialization samples BY PARTITION,
    so the same seed over a differently-partitioned input yields
    different (equally valid) codebooks. Persist the trained codebooks
    as an artifact — encodings are then exactly reproducible, which is
    what a corpus index needs (same contract as the IVF centroids).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    first = train.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_train: empty training set")
    dim = first["d"]
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sub = train.select(
            array_to_vector(
                F.slice(F.col(vec_col), s * dsub + 1, dsub).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s).fit(sub)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``m`` small ints (nearest codebook centroid
    per subspace, squared L2) — pure expressions, zero shuffles; encoding
    100 TB of vectors is one scan."""
    dsub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), s * dsub + 1, dsub)
        codes.append(_nearest_centroids(sub, book, 1)[0])
    return df.withColumn(out_col, F.array(*codes))


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-k for ONE query over PQ codes: the query
    precomputes an m×k lookup table of exact subspace distances
    (driver-side floats, embedded as literal arrays), and every corpus
    row's approximate distance is ``m`` array lookups + adds — no vector
    arithmetic per row at all, which is the point of PQ at scale. Fan
    multiple queries out with a union or a crossJoin against a broadcast
    query-LUT table. Returns (id, approx_dist, rank) ascending.
    """
    dsub = len(codebooks[0][0])
    luts = []
    for s, book in enumerate(codebooks):
        qsub = query_vec[s * dsub : (s + 1) * dsub]
        luts.append(
            [sum((a - b) ** 2 for a, b in zip(qsub, c)) for c in book]
        )
    dist = None
    for s, lut in enumerate(luts):
        lut_col = F.array(*[F.lit(float(x)) for x in lut])
        term = F.element_at(lut_col, F.col(code_col)[s] + 1)
        dist = term if dist is None else dist + term
    scored = encoded.select(F.col(id_col), dist.alias("approx_dist"))
    # Global top-k WITHOUT a global window (same shape as bm25_topk,
    # ranking.py): ranking every scored row with an unpartitioned
    # row_number would single-partition the whole candidate set — at
    # billion-vector scale an IVF probe still holds millions of codes.
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # heaps, k rows to the driver); only those k rows see the window.
    # Identical output: (approx_dist, id) is already a total order.
    top = scored.orderBy(F.col("approx_dist").asc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("approx_dist").asc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def ivf_pq_index(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF+PQ index frame: (id, ivf_bucket, pq_code). One
    narrow pass — at 100 TB this is the write-once corpus index that
    search reads INSTEAD of the vectors (m bytes/vector + a bucket id);
    persist it partitioned by ``ivf_bucket`` so a probe prunes files."""
    bucketed = df.withColumn(
        "ivf_bucket", _nearest_centroids(F.col(vec_col), coarse_centroids, 1)[0]
    )
    return pq_encode(bucketed, codebooks, vec_col).select(
        id_col, "ivf_bucket", "pq_code"
    )


def ivf_pq_topk(
    index: DataFrame,
    query_vec: list[float],
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF+PQ search — the canonical billion-vector layout: route the
    query to its ``n_probe`` nearest coarse buckets (computed driver-side
    from the centroid constants), then ADC-score only those buckets'
    codes (m table lookups per row, no vector math, no vector I/O).
    With ``n_probe == len(coarse_centroids)`` the candidate set equals
    the whole index and the result is exactly ``pq_adc_topk`` (invariant
    pinned by test). Returns (id, approx_dist, rank) ascending.
    """
    dists = [
        (sum((a - b) ** 2 for a, b in zip(query_vec, c)), i)
        for i, c in enumerate(coarse_centroids)
    ]
    probes = [i for _, i in sorted(dists)[:n_probe]]
    cand = index.filter(F.col("ivf_bucket").isin(probes))
    return pq_adc_topk(cand, query_vec, codebooks, k=k, id_col=id_col)


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: assign every vector
    to its nearest centroid (squared L2, ties → lowest centroid id),
    then verify exact cosine only WITHIN each cluster (public method:
    Abbas et al., "SemDeDup", arXiv:2303.09540 — cluster-then-prune).

    Returns (id_a, id_b, cluster, cosine_sim) with id_a < id_b and
    cosine ≥ threshold. Complements ``embedding_dedup_pairs_lsh``: LSH
    buckets by random hyperplanes (recall controlled by table count),
    clustering buckets by data geometry — with trained centroids the
    in-cluster candidate sets track the corpus's actual density.

    Scale shape: the assignment is a narrow projection (k distance
    folds per row, no shuffle); the self-join shuffles on the cluster id
    carrying ids + vectors once per side. At 100 TB the in-cluster join
    is still quadratic per cluster, so k must grow with corpus size
    (SemDeDup uses ~100k clusters for billions of docs) — k is the
    knob, and a giant cluster is the signal to re-train with larger k
    or sub-bucket it with ``embedding_dedup_pairs_lsh`` inside the
    cluster. Centroids arrive as plain Python constants (train via
    ``kmeans_centroids``, or pass pinned literals for cross-engine
    replication — the oracle recomputes the same assignment in SQL).
    """
    assigned = _rebalance(df).select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroids(F.col(vec_col), centroids, 1)[0].alias("cluster"),
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "cluster"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "cluster"
    )
    return (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.expr(cosine("__va", "__vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cluster", "cosine_sim")
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    k: int | None = None,
) -> DataFrame:
    """Per-query recall@k of an approximate neighbor list against the
    exact one — the acceptance gate every ANN index (LSH, IVF, PQ) must
    pass before it replaces brute force in a pipeline. Both inputs are
    (query_id, vec_id[, rank]) top-k tables; with ``k`` the lists are
    first cut to rank <= k.

    Returns (query_id, n_exact, n_hit, recall). Aggregate the mean
    downstream; keeping per-query rows makes the failure mode visible
    (ANN recall is never uniform — it fails on specific queries, and the
    mean hides that).

    Scale shape: one semi-join on (query, neighbor) pairs + one groupBy
    query — ids only, never vectors."""
    if k is not None:
        # Cutting to rank<=k requires a rank column on BOTH sides —
        # fail with a clear message, not an analysis error deep in the
        # plan, when a rank-less list is passed with k.
        for side, name in ((approx, "approx"), (exact, "exact")):
            if "rank" not in side.columns:
                raise ValueError(
                    f"recall_at_k(k={k}) needs a 'rank' column on the "
                    f"{name} side; pass k=None for rank-less lists"
                )
        approx = approx.filter(F.col("rank") <= k)
        exact = exact.filter(F.col("rank") <= k)
    # distinct(): duplicate (query, id) rows would inflate n_exact and
    # deflate recall — neighbor LISTS are sets per query by contract.
    a = approx.select(query_id_col, id_col).distinct()
    e = exact.select(query_id_col, id_col).distinct()
    hits = e.join(a, [query_id_col, id_col], "left_semi")
    n_e = e.groupBy(query_id_col).agg(F.count("*").alias("n_exact"))
    n_h = hits.groupBy(query_id_col).agg(F.count("*").alias("n_hit"))
    return (
        n_e.join(n_h, query_id_col, "left")
        .na.fill({"n_hit": 0})
        .withColumn("recall", F.col("n_hit") / F.col("n_exact"))
    )


def pca_reduce(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    out_col: str = "embedding_pca",
):
    """Project embeddings onto their top-``k`` principal components —
    the standard pre-ANN compression step (a 64-dim corpus searched at
    16 dims is ~4x less dot-product work and a smaller index; PQ
    codebooks and LSH planes both train better in the reduced space).

    Fits MLlib PCA (one distributed covariance pass + a driver-side
    eigendecomposition — the model is a k x dim matrix, broadcast-sized)
    on CENTERED vectors and transforms in place; output stays a plain
    ``array<float>`` so every downstream operator (brute-force/LSH/IVF
    top-k, semantic dedup) consumes it unchanged. Returns (reduced
    DataFrame, bundle {model, mean}) — persist the bundle to project
    queries into the SAME space later; projecting queries through a
    refit (or forgetting the centering mean) is the classic serving bug
    this return shape exists to prevent.

    Deterministic for a fixed input (covariance eigenvectors; no random
    init). Sign of each component is arbitrary ACROSS DIFFERENT INPUTS
    but fixed for a given fit — another reason the fitted model is
    returned and reused.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    # Center explicitly: MLlib's PCA derives components from the
    # covariance (mean-removed) but transform() projects the RAW
    # vectors — the uncentered mean then dominates the projected space
    # and cosine geometry collapses (every vector nearly parallel to
    # the mean's image). W^T(x - mu) is the actual PCA projection; mu
    # rides with the model so queries center identically.
    mean = [
        float(v)
        for v in df.agg(
            *[
                F.avg(F.col(vec_col)[i]).alias(f"m{i}")
                for i in range(len(df.select(vec_col).first()[0]))
            ]
        ).first()
    ]
    centered = df.withColumn("__c", _center(vec_col, mean))
    vecs = centered.withColumn("__v", array_to_vector(F.col("__c")))
    model = PCA(k=k, inputCol="__v", outputCol="__p").fit(vecs)
    bundle = {"model": model, "mean": mean}
    out = pca_transform(bundle, df, vec_col=vec_col, out_col=out_col)
    return out, bundle


def _center(vec_col: str, mean: list[float]) -> Column:
    m = F.array(*[F.lit(float(x)) for x in mean])
    return F.zip_with(F.col(vec_col), m, lambda x, mu: x - mu)


def pca_transform(
    bundle,
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_pca",
) -> DataFrame:
    """Project new vectors (queries, a crawl delta) with an ALREADY
    FITTED ``pca_reduce`` bundle ({model, mean}) so they center and
    rotate into the same space as the corpus."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.withColumn(
        "__v", array_to_vector(_center(vec_col, bundle["mean"]))
    )
    return (
        bundle["model"]
        .transform(vecs)
        .withColumn(out_col, vector_to_array(F.col("__p"), dtype="float32"))
        .drop("__v", "__p")
    )
