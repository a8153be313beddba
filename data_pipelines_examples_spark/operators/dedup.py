"""Deduplication operators — exact, key-based/SCD, and near-duplicate
(MinHash-LSH, SimHash, n-gram Jaccard).

Reference parity (exact/SCD shapes):
- dropDuplicates on a business key —
  notebooks/databricks/sql/sas_conversion_with_manual_salt_skewed_join.sql:255
- prev∪curr latest-row dedup (SCD) —
  dags/dataswm/servicenow_api_extract.py:2328-2350

Near-dup operators extend the engine for LLM-training-data pipelines
(BASELINE.json north star). All are expressed with built-in functions
(xxhash64, transform/aggregate over arrays, explode + groupBy) so the hot
path stays JVM-side; no Python UDFs.

Scale notes:
- exact dedup hashes the full text once and shuffles 1 hash+id pair per
  row, never the document bodies.
- MinHash-LSH: per-doc signature is a narrow map-side computation; the only
  shuffle is the band-bucket groupBy, whose fan-out is bounded by
  (n_docs × n_bands). Candidate verification joins only within buckets.
- SimHash: 64-bit fingerprint per doc; near-dup lookup via banding the
  fingerprint into k chunks (same LSH trick), not via O(n²) pairwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist_internal

from ..functions.hashing import hash64, hash64_sql
from .balance import ensure_parallelism


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, embedded backticks
    doubled: a column name never parses as an expression or a nested
    field path, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def _id(name: str) -> Column:
    """The column literally named ``name`` (see ``_ident``)."""
    return F.col(_ident(name))


def dedup_exact(df: DataFrame, text_col: str = "text", keep: str = "min", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate removal on the hash of ``text_col``: keep one row
    (min or max ``id_col``) per distinct text.

    Hash-groupBy, not ``dropDuplicates(text)``: the shuffle carries a 64-bit
    hash + id instead of full document bodies, then winners join back to
    recover rows. At 100 TB that is the difference between shuffling
    terabytes of text and shuffling a few GB of keys.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    winners = (
        df.select(F.xxhash64(text_col).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """``dropDuplicates(keys)`` — the reference's SAS ``nodupkey`` analog."""
    return df.dropDuplicates(keys)


def scd_latest(
    df: DataFrame,
    keys: str | list[str],
    version_col: str | Column,
    tiebreak: list[str | Column] | None = None,
) -> DataFrame:
    """Keep the latest version per key: prev∪curr snapshots collapsed with
    ``row_number() over (partition by keys order by version desc)`` = 1.

    The union is the caller's job (``prev.unionByName(curr)``); this is the
    collapse step of the reference's SCD dedup template.
    """
    parts = [keys] if isinstance(keys, str) else list(keys)
    order = [F.col(version_col).desc() if isinstance(version_col, str) else version_col.desc()]
    if tiebreak:
        order += [F.col(c).desc() if isinstance(c, str) else c for c in tiebreak]
    w = Window.partitionBy(*parts).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def scd2_history(
    df: DataFrame,
    keys: str | list[str],
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Build SCD Type-2 validity intervals from a change/snapshot stream:
    per key, collapse consecutive rows whose tracked attributes are
    unchanged, then assign ``valid_from`` = the change's timestamp,
    ``valid_to`` = the next change's timestamp (exclusive; NULL while
    current) and ``is_current``. The complement of ``scd_latest`` (which
    keeps only the newest version): this keeps the full history as
    non-overlapping intervals — the reference's SCD dedup template
    (dags/dataswm/servicenow_api_extract.py:2328-2350) extended to the
    warehouse-standard Type-2 shape.

    Change detection is null-safe (``<=>`` against the lagged value), so
    NULL→value and value→NULL transitions open new intervals. Ties on
    ``ts_col`` within a key are broken deterministically by the attribute
    values themselves.

    Scale shape: exactly one shuffle — both windows (change-detect lag
    and valid_to lead) share the same (keys × ts) partitioning/sort, so
    Catalyst plans a single exchange + sort; rows carry only keys,
    timestamp, and the tracked attributes.
    """
    parts = [keys] if isinstance(keys, str) else list(keys)
    order = [F.col(ts_col).asc()] + [F.col(c).asc_nulls_first() for c in attr_cols]
    w = Window.partitionBy(*parts).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(ts_col).over(w).isNull()
    marked = df.select(*parts, ts_col, *attr_cols).withColumn(
        "__chg", first | changed
    )
    kept = marked.filter(F.col("__chg")).drop("__chg")
    w2 = Window.partitionBy(*parts).orderBy(*order)
    return (
        kept.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: str | list[str],
    op_col: str,
    version_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Apply an insert/update/delete change log to a base snapshot — the
    CDC-merge every incremental ingestion pipeline runs (the reference's
    exactly-once upsert, servicenow_api_extract.py:2328-2350, extended
    with delete semantics; with a table format this is MERGE INTO WHEN
    MATCHED AND op='D' THEN DELETE).

    Per key, the latest change (by ``version_col``) wins: a delete
    removes the key, anything else replaces (or inserts) the row.
    Earlier changes for the same key are superseded entirely — the
    standard snapshot-apply semantics, idempotent under replayed logs.

    ``changes`` must carry the base columns plus ``op_col`` and
    ``version_col``. Returns the new snapshot with exactly the base
    columns. Scale shape: one window collapse over the (small) change
    log + one anti join against base on keys — base rows never shuffle
    beyond the join, and with AQE the collapsed log broadcasts.
    """
    parts = [keys] if isinstance(keys, str) else list(keys)
    missing = [c for c in base.columns if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing base columns: {missing}")
    latest = scd_latest(changes, parts, version_col)
    touched = latest.select(*parts)
    survivors = base.join(touched, parts, "left_anti")
    upserts = latest.filter(F.col(op_col) != delete_op).select(*base.columns)
    return survivors.unionByName(upserts)


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------

def shingles(text_col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from a text column as a single
    column expression (split → transform over index range → array_distinct).

    NOTE: higher-order-function lambdas are interpreted, not codegen'd —
    ~1.4 ms/doc measured. Column-expression convenience only; every
    corpus-scale operator in this module uses ``shingle_rows`` instead.
    """
    words = F.split(F.lower(text_col) if isinstance(text_col, str) else F.lower(text_col), r"\s+")
    # ids 0..len-n; slice(words, i+1, n) builds each n-gram
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    )


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, gram) rows of distinct word n-grams — the map-side shingler.

    Grams are built per-row from the words array (transform over an index
    range + slice + array_join), deduplicated with array_distinct, then
    exploded — the whole gram generation is a NARROW projection with ZERO
    shuffles, so at corpus scale the only exchanges are the ones consumers
    add (groupBy doc or gram). A window-``lead`` formulation produces the
    same values but costs a full shuffle+sort of every word by doc id
    before the first gram exists.

    Gram values match ``shingles``: docs shorter than ``n`` yield one
    truncated gram, and empty text yields the single gram "".

    Input under-parallelism guard: a corpus arriving in fewer splits than
    the cluster's parallelism (one small parquet file, one unsplittable
    gzip) would run the whole narrow shingle/hash stage on those few
    cores — rebalance up front in that case (see ``balance.
    ensure_parallelism``: RDD-free, no-op at production scale).

    Each projection is one parsed SQL expression over quoted identifiers
    (``_ident``): the same expression tree as the Column-builder form,
    without a py4j round trip per node and lambda.
    """
    ident = _ident(id_col)
    warr = ensure_parallelism(df).selectExpr(
        ident, f"split(lower({_ident(text_col)}), '\\\\s+') AS __ws"
    )
    return warr.selectExpr(
        ident,
        "explode(array_distinct(transform("
        f"sequence(0, greatest(size(__ws) - {int(n)}, 0)), "
        f"i -> array_join(slice(__ws, i + 1, {int(n)}), ' ')))) AS __g",
    )


# Largest prime below 2^56. The k-th minhash function is derived from TWO
# base hashes via double hashing: h_k(s) = (h1(s) + k*h2(s)) mod P
# (Kirsch-Mitzenmacher) — num_hashes-independent hashing cost (2 hashes
# per gram instead of 32; the portable md5 path was 32 md5 calls per
# gram). P < 2^56 keeps k*h2 < 2^61, so the arithmetic never overflows a
# signed BIGINT in Spark or DuckDB and both engines compute identical
# values.
MINHASH_P = 72057594037927931


def _minhash_bases(col: Column, how: str) -> tuple[Column, Column]:
    """(h1, h2) base hashes reduced mod P, non-negative on both hash paths
    (xxhash64 can go negative — pmod normalizes; portable is 60-bit)."""
    p = F.lit(MINHASH_P)
    return (
        F.pmod(hash64(col, seed=0, how=how), p),
        F.pmod(hash64(col, seed=1, how=how), p),
    )


def minhash_signature(
    shingle_col: Column, num_hashes: int = 32, hash_how: str = "xxhash64"
) -> Column:
    """MinHash signature as a pure column expression: min over shingles of
    the k-th derived hash. Returns array<bigint>.

    Note: per-row nested transforms compile into a large expression tree;
    for corpus-scale signatures use ``minhash_signatures`` (explode +
    groupBy), which produces identical values with simple agg expressions.
    """
    p = F.lit(MINHASH_P)

    def kth_min(k: Column) -> Column:
        def derived(s: Column) -> Column:
            h1, h2 = _minhash_bases(s, hash_how)
            return (h1 + k.cast("bigint") * h2) % p

        return F.array_min(F.transform(shingle_col, derived))

    return F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)), kth_min)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_how: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<bigint>) via explode → groupBy(id) → one
    ``min((h1 + k*h2) mod P)`` per k (double hashing, see ``MINHASH_P``).

    Per gram only TWO base hashes are computed regardless of
    ``num_hashes`` (the k-th function is derived arithmetically) — on the
    portable md5 path that's 2 md5 calls per gram instead of 32. One
    shuffle keyed by doc id with 8-byte mins in the agg buffer — map-side
    partial aggregation collapses each partition's shingles before the
    exchange, so the shuffle volume is num_hashes longs per doc
    regardless of document length. Values are identical to
    ``minhash_signature``.
    """
    based = shingle_rows(df, id_col, text_col, shingle_n).selectExpr(
        _ident(id_col),
        *[
            f"pmod({hash64_sql('__g', seed, hash_how)}, {MINHASH_P}) AS __h{seed + 1}"
            for seed in (0, 1)
        ],
    )
    # One SQL-text aggregate: the Column-object form costs ~6 py4j round
    # trips per hash function; the parsed expressions are identical, and
    # the array is built in the aggregate's result projection.
    mins = ", ".join(
        f"min((__h1 + {k} * __h2) % {MINHASH_P})" for k in range(num_hashes)
    )
    # id_col is an IDENTIFIER, not an expression: quoted and escaped, so
    # names holding spaces, dots, hyphens or backticks pass through
    return based.groupBy(_id(id_col)).agg(F.expr(f"array({mins}) AS __sig"))


def _band_buckets(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, hash_how: str
) -> DataFrame:
    """(id, __sig, band, bh): split each signature into ``bands`` bands
    and hash each — the LSH bucket key. Shared by self-dedup and
    cross-corpus dedup so both produce identical buckets."""
    rpb = num_hashes // bands
    bh = hash64_sql(f"array_join(slice(__sig, b * {rpb} + 1, {rpb}), ',')", how=hash_how)
    return sig.selectExpr(
        _ident(id_col),
        "__sig",
        f"inline(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bh', {bh})))",
    )


def dedup_against_corpus(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_how: str = "xxhash64",
    min_est_jaccard: float | None = None,
) -> DataFrame:
    """Incremental corpus update: drop NEW documents that near-duplicate
    the EXISTING corpus (the crawl-refresh operation — dedup the delta
    against what's already ingested without re-pairing the whole corpus).

    Cross-side LSH only: new-side band buckets join existing-side band
    buckets, so the candidate space is |new ∩ existing buckets| — never
    existing×existing (the expensive part of a full re-dedup, already
    settled by prior runs). New-vs-new duplicates are deliberately kept
    (run ``minhash_lsh_pairs`` + ``dedup_keep_canonical`` on the delta
    for those). ``min_est_jaccard`` additionally requires the estimated
    signature Jaccard to clear a threshold before a match kills a doc
    (None = any shared band, the standard LSH contract).

    Returns the surviving rows of ``new`` (original schema). At scale the
    existing side's band table is a materialize-once artifact: persist
    (id, band, bh) at ingest time and each delta joins against it
    directly — signatures for the old corpus are never recomputed.

    ``bands`` is deliberately a FIXED int here (no "auto", unlike
    ``minhash_lsh_pairs``): band hashes are only comparable when both
    sides were banded identically, and the persisted existing-side band
    table bakes its band count in at ingest time — an occupancy- or
    corpus-derived band count would silently change across deltas and
    invalidate the artifact. Re-band the whole corpus to change bands.
    """
    ns = _band_buckets(
        minhash_signatures(new, id_col, text_col, num_hashes, shingle_n, hash_how),
        id_col,
        num_hashes,
        bands,
        hash_how,
    )
    es = _band_buckets(
        minhash_signatures(existing, id_col, text_col, num_hashes, shingle_n, hash_how),
        id_col,
        num_hashes,
        bands,
        hash_how,
    )
    n, e = ns.alias("n"), es.alias("e")
    matched = n.join(
        e, (F.col("n.band") == F.col("e.band")) & (F.col("n.bh") == F.col("e.bh"))
    )
    if min_est_jaccard is not None:
        est = F.size(
            F.filter(
                F.zip_with("n.__sig", "e.__sig", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ) / F.lit(float(num_hashes))
        matched = matched.filter(est >= min_est_jaccard)
    kill = matched.select(F.col(f"n.{id_col}").alias(id_col)).distinct()
    return new.join(kill, id_col, "left_anti")


def derive_bands(num_hashes: int, target_jaccard: float = 0.5) -> int:
    """Band count whose LSH detection threshold sits nearest the target.

    Banded minhash with b bands of r = num_hashes/b rows catches pairs
    above s* ≈ (1/b)^(1/r) with high probability; the knob is the
    THRESHOLD, not bucket occupancy — band keys live in a 64-bit hash
    space, so random bucket collisions stay ~0 at any corpus size and
    candidates track true duplicates (unlike hyperplane LSH, where
    ``derive_n_planes`` must scale P with log2(n)). Picks the divisor of
    num_hashes minimizing |s*(b) − target|: num_hashes=32, target 0.5 →
    b=8 (s*≈0.59), the reference parametrization."""
    divisors = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    return min(divisors, key=lambda b: abs((1.0 / b) ** (b / num_hashes) - target_jaccard))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int | str = "auto",
    shingle_n: int = 3,
    hash_how: str = "xxhash64",
    target_jaccard: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH.

    Pipeline: shingle → signature → split signature into ``bands`` bands →
    hash each band → explode (doc, band_id, band_hash) → self-join on
    (band_id, band_hash) → distinct (a < b) pairs, with the estimated
    Jaccard (fraction of matching signature positions).

    The only wide operation is the band-bucket join; band hashes are 64-bit
    so the shuffle is tiny relative to the corpus.

    The signature table persists before the self-join: both join sides
    consume it, and Spark does NOT collapse the two identical
    shingle→hash→agg subtrees (ReuseExchange keys on canonicalized
    exchange plans, which the alias split defeats — measured: the whole
    fingerprint pipeline ran twice, 2 source scans, 0 reuse). The
    persisted frame is num_hashes longs per doc — ids-only scale, same
    MEMORY_AND_DISK honesty as ngram_jaccard_pairs' intermediates.

    ``bands="auto"`` (default since r11) derives the band count from
    (num_hashes, target_jaccard) via ``derive_bands`` — at the defaults
    this resolves to the reference's b=8. Pass explicit bands for exact
    replication (the oracle entries pin bands=8).
    """
    if isinstance(bands, str):
        if bands != "auto":
            raise ValueError(f"bands must be an int or 'auto', got {bands!r}")
        bands = derive_bands(num_hashes, target_jaccard)
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, hash_how
    ).transform(persist_internal)
    banded = _band_buckets(sig, id_col, num_hashes, bands, hash_how)
    a_id, b_id = f"a.{_ident(id_col)}", f"b.{_ident(id_col)}"
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr(f"a.band = b.band AND a.bh = b.bh AND {a_id} < {b_id}"),
        )
        .selectExpr(
            f"{a_id} AS id_a",
            f"{b_id} AS id_b",
            "size(filter(zip_with(a.__sig, b.__sig, (x, y) -> CAST(x = y AS INT)), "
            f"v -> v = 1)) / {float(num_hashes)!r}D AS est_jaccard",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PREFIX-FILTERED candidate
    generation + array-intersect verification.

    Prefix filtering (Chaudhuri et al.): under any fixed global order of
    shingles, two sets with Jaccard ≥ t must share an element within each
    set's first ``n − ⌈t·n⌉ + 1`` elements. Only those prefix shingles are
    indexed; each candidate pair is then verified EXACTLY with
    array_intersect on the full shingle sets, so results are identical to
    the naive inverted-index join.

    The global order is ASCENDING DOCUMENT FREQUENCY (ties by gram) — the
    load-bearing choice: prefixes then hold each document's rarest grams,
    so ubiquitous grams never enter the index and cannot generate
    quadratic candidate blow-ups. (A hash order is also correct but
    concentrates candidates on whichever common grams hash low — measured
    4× more candidates than frequency order on the test corpus.)

    Shuffle profile (4 exchanges total, none carrying document bodies):
    one gram-keyed aggregation producing (gram, distinct-doc set) — the
    set IS the set-dedup, its size IS the document frequency — → per-doc
    sorted-gram-array aggregation (groupBy id over the re-exploded
    postings; the sort/prefix-slice happen INSIDE the agg row, replacing
    two window passes) → candidate join on prefix grams (size-ratio filter
    applied inline before the pair dedup — Jaccard ≥ t forces
    min(|A|,|B|) ≥ ⌈t·max(|A|,|B|)⌉, which kills most spurious
    candidates before they cost anything) → two keyed joins that attach
    the gram arrays for exact array_intersect verification.

    The reused intermediate (per-doc gram arrays) persists
    MEMORY_AND_DISK: at corpus scale it exceeds executor memory, and a
    memory-only cache would silently evict and recompute it mid-join.
    Past single-machine scale, replace the persist with an explicit
    parquet staging write of ``docs`` (grams are then derived once); and
    past ~10^7 docs prefer ``minhash_lsh_pairs`` — exact Jaccard is the
    verification twin, LSH is the 100 TB path (a gram carried by a large
    fraction of a 10^7-doc corpus also concentrates that fraction's ids
    in one ``collect_set`` buffer below — the same corpus-size ceiling,
    reached via memory instead of candidate count).
    """
    # ONE gram-keyed aggregation replaces the r13 chain of distinct →
    # groupBy(gram) count → join-back (r14, guide §2.3/§2.4): the
    # per-gram collect_set(id) deduplicates (id, gram) — a doc_id
    # appearing on multiple rows (re-crawled corpora, replayed batches)
    # would otherwise inflate gram counts (found by bootstrap-resample
    # differential testing vs DuckDB) — while size(set) IS the document
    # frequency the old groupBy counted, and re-exploding the set
    # reproduces the old join's (gram, df, id) rows exactly. Map-side
    # partial collect_set collapses duplicate (gram, id) pairs before
    # the exchange just as the old partial-distinct did, so the one
    # remaining exchange carries the same deduped volume — but the old
    # shape paid two MORE exchanges of that table (the (id, gram)
    # distinct and the join-back's gram-side repartition) plus the
    # join itself and a persist of the posting table, all deleted here.
    # Null ids: collect_set drops them, exactly like the old
    # gram-count path never let them reach the output (a null id never
    # wins id_a < id_b), so pair results are unchanged.
    grams = (
        shingle_rows(df, id_col, text_col, shingle_n)
        .groupBy("__g")
        .agg(F.collect_set(_id(id_col)).alias("__ids"))
    )
    docs = (
        grams.select(
            "__g",
            F.size("__ids").alias("__df"),
            F.explode("__ids").alias(id_col),
        )
        .groupBy(_id(id_col))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df").alias("d"), F.col("__g").alias("g")))
            ).alias("__sorted")
        )
        .select(
            _id(id_col),
            F.transform("__sorted", lambda s: s["g"]).alias("__gs"),
            F.size("__sorted").alias("__n"),
        )
        .withColumn(
            "__prefix",
            F.slice(
                "__gs",
                1,
                (F.col("__n") - F.ceil(F.col("__n") * F.lit(threshold)) + 1).cast("int"),
            ),
        )
        .transform(persist_internal)
    )
    posting = docs.select(_id(id_col), "__n", F.explode("__prefix").alias("__g"))
    a = posting.select(
        _id(id_col).alias("id_a"), F.col("__n").alias("__na"), "__g"
    )
    b = posting.select(
        _id(id_col).alias("id_b"), F.col("__n").alias("__nb"), "__g"
    )
    cand = (
        a.join(b, "__g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__na", "__nb")
                >= F.ceil(F.greatest("__na", "__nb") * F.lit(threshold))
            )
        )
        .select("id_a", "id_b", "__na", "__nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(
            docs.select(_id(id_col).alias("id_a"), F.col("__gs").alias("__ga")), "id_a"
        )
        .join(
            docs.select(_id(id_col).alias("id_b"), F.col("__gs").alias("__gb")), "id_b"
        )
        .withColumn("__inter", F.size(F.array_intersect("__ga", "__gb")))
        .withColumn(
            "jaccard", F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 13,
) -> DataFrame:
    """Remove training documents that share any word ``shingle_n``-gram
    with a benchmark/eval document — the standard n-gram decontamination
    pass (13-gram overlap is the published convention) run before a corpus
    becomes training data.

    Scale shape: both sides shingle narrowly, grams hash to 8 bytes, and
    the kill-list membership test is a LEFT ANTI join on the hash — the
    shuffle carries (id, hash) pairs, never document bodies, and the
    benchmark side (small by construction) broadcasts.
    """
    t_grams = shingle_rows(train, id_col, text_col, shingle_n).select(
        id_col, F.xxhash64("__g").alias("__h")
    )
    b_grams = (
        shingle_rows(benchmark, id_col, text_col, shingle_n)
        .select(F.xxhash64("__g").alias("__h"))
        .distinct()
    )
    contaminated = (
        t_grams.join(F.broadcast(b_grams), "__h", "left_semi").select(id_col).distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 64,
    shingle_n: int = 2,
    hash_how: str = "xxhash64",
) -> DataFrame:
    """(id, 64-bit SimHash fingerprint) via explode → groupBy(id) → one
    ±1-vote SUM per bit → sign-fold into a long.

    For each bit position, sum +1/−1 votes of each shingle's hash bit and
    take the sign. The explode+aggregate shape keeps expressions trivial
    (64 conditional sums) and map-side combine collapses shingles before
    the shuffle — a per-row nested-aggregate formulation compiles into a
    pathological expression tree (~50× slower). Empty texts shingle to a
    single "" gram, so all empty docs share one constant fingerprint and
    are flagged as mutual duplicates — which is the semantics we want."""
    if hash_how == "portable" and num_bits > 60:
        raise ValueError(
            f"hash_how='portable' yields a 60-bit hash; num_bits={num_bits} "
            "would make the high bits constant (-1 votes for every gram), "
            "silently weakening the top LSH band. Pass num_bits<=60."
        )
    exploded = shingle_rows(df, id_col, text_col, shingle_n).withColumn(
        "__h", hash64(F.col("__g"), how=hash_how)
    )
    # SWAR bit-count aggregation (r13): the naive form is one ±1
    # conditional SUM per bit — num_bits aggregate buffers, num_bits
    # when-trees per row, and num_bits longs shuffled per doc. Instead
    # pack TWO bit-counters per accumulator long (bit j in the low 32
    # bits, bit j+lanes in the high 32: disjoint fields never carry into
    # each other below 2^31 grams/doc — no real document tokenizes to
    # 2 billion shingles) and aggregate ceil(num_bits/2)+1 longs. The
    # sign-fold is recovered exactly: the old vote sum is
    # 2*S_i − cnt(__h) (each set bit votes +1, each clear bit −1, nulls
    # 0), so bit_i = vote_i > 0  ⟺  2*S_i > cnt. Values are
    # bit-identical to the ±1 formulation (pinned by test); measured
    # 3.8× end-to-end on the 64-bit xxhash64 path at sf0.1 and half the
    # shuffle bytes per doc. Expressions are built as SQL strings — the
    # column-object form costs ~700 py4j round trips per call.
    lanes = (num_bits + 1) // 2
    lane_exprs = []
    for j in range(lanes):
        lo = f"(CAST(shiftright(__h, {j}) & 1 AS BIGINT))"
        if j + lanes < num_bits:
            hi = f"shiftleft(CAST(shiftright(__h, {j + lanes}) & 1 AS BIGINT), 32)"
            lane_exprs.append(f"sum({lo} + {hi}) AS __l{j}")
        else:
            lane_exprs.append(f"sum({lo}) AS __l{j}")
    votes = exploded.groupBy(_id(id_col)).agg(
        F.expr(lane_exprs[0]),
        *[F.expr(e) for e in lane_exprs[1:]],
        F.count("__h").alias("__cnt"),
    )
    terms = []
    for i in range(num_bits):
        s = f"(__l{i} & 4294967295)" if i < lanes else f"shiftright(__l{i - lanes}, 32)"
        # bit order matches the old shiftleft fold: vote 0 lands highest
        terms.append(
            f"shiftleft(CAST(coalesce(2 * {s}, 0) > __cnt AS BIGINT), {num_bits - 1 - i})"
        )
    # quoted and escaped: id_col is an identifier, not a SQL expression
    return votes.selectExpr(_ident(id_col), "(" + " | ".join(terms) + ") AS __fp")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    num_bits: int = 64,
    hash_how: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the ``num_bits`` fingerprint into
    ``bands`` chunks; docs sharing any chunk are candidates (pigeonhole: any
    pair within hamming distance < bands shares ≥1 chunk); verify with
    exact popcount of XOR.

    Persists the fingerprint table ((id, long) — the smallest frame in
    the pipeline) before the band self-join: both sides consume it and
    the two identical explode→64-sum-agg subtrees are NOT collapsed by
    ReuseExchange (measured 2 source scans / 0 reuse without the
    persist; the band explode derived from the persisted frame is
    narrow and costs nothing).
    """
    width = num_bits // bands
    fp = simhash_fingerprints(
        df, id_col, text_col, num_bits, hash_how=hash_how
    ).transform(persist_internal)
    banded = fp.select(
        _id(id_col),
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("__fp"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b"),
    ).select(_id(id_col), "__fp", "__b.band", "__b.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    a_id, b_id = F.col(f"a.{_ident(id_col)}"), F.col(f"b.{_ident(id_col)}")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (a_id < b_id),
        )
        .select(
            a_id.alias("id_a"),
            b_id.alias("id_b"),
            F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))).alias("hamming"),
        )
        # Hamming is a per-pair constant, so filtering BEFORE the dedup
        # is identical — and shrinks the dedup shuffle to survivors only
        # instead of shuffling every band-collision candidate.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    state_path: str | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: returns
    (id, component) where ``component`` is the MINIMUM id reachable through
    the pair graph — the step that turns pairwise candidates
    (minhash/simhash/embedding LSH) into duplicate CLUSTERS.

    Min-label propagation WITH PATH HALVING via the fixpoint operator:
    each round every node takes the min of its own label, its neighbors'
    labels, and — the halving move — its LABEL'S label (pointer jumping:
    ``component ← component[component]``). Neighbor propagation alone
    converges in O(diameter) rounds, which on an adversarial path graph
    exceeds any fixed iteration cap and the fixpoint harness would
    return stale labels; the label-chasing join squares the propagation
    distance each round, so convergence is O(log diameter) — a
    64-diameter chain closes in ~7 rounds (pinned by test). Cost per
    round: one edge join + one label self-join + groupBy-min, state
    parquet-materialized to truncate lineage. Convergence is detected by
    the monotone sum of labels.
    """
    from pyspark.sql import functions as F

    from .iterate import iterate_until_fixpoint

    fwd = pairs.select(F.col(id_a).alias("id"), F.col(id_b).alias("nbr"))
    rev = pairs.select(F.col(id_b).alias("id"), F.col(id_a).alias("nbr"))
    # Persist the edge list: every fixpoint iteration joins against it,
    # and without the persist each round re-evaluates the FULL upstream
    # pair lineage (for minhash input that is the whole md5 signature
    # pipeline — measured as the dominator of q74's 12 s gate wall).
    # Edges are (id, nbr) longs only — MEMORY_AND_DISK is scale-honest.
    edges = fwd.unionByName(rev).distinct().transform(persist_internal)
    labels = edges.select("id").distinct().withColumn("component", F.col("id"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        # explicit aliases: at iteration 0 the label frame derives from
        # edges, so an unqualified self-join would be ambiguous
        st, ed = state.alias("st"), edges.alias("ed")
        nbr_labels = ed.join(st, F.col("ed.nbr") == F.col("st.id")).select(
            F.col("ed.id").alias("id"), F.col("st.component").alias("component")
        )
        merged = (
            state.unionByName(nbr_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # path halving: every label value is itself a node id, so chase
        # one hop through a label table (left join: roots label
        # themselves and always match; coalesce is belt-and-braces).
        # The hop table is the MATERIALIZED previous state, not merged
        # itself: a merged-merged self-join plans the union+groupBy
        # subtree twice per iteration (Spark does not collapse the
        # aliased duplicates), while state is a parquet scan. Labels
        # one iteration old are still valid accelerants — halving only
        # speeds convergence; correctness comes from the 1-hop min
        # merge, whose stability (metric unchanged) implies labels are
        # constant along every edge, i.e. true component minima.
        a, b = merged.alias("a"), state.alias("b")
        return a.join(b, F.col("a.component") == F.col("b.id"), "left").select(
            F.col("a.id").alias("id"),
            F.least(
                F.col("a.component"),
                F.coalesce(F.col("b.component"), F.col("a.component")),
            ).alias("component"),
        )

    try:
        return iterate_until_fixpoint(
            labels,
            step,
            max_iterations=max_iterations,
            state_path=state_path,
            metric=lambda df: df.agg(F.sum("component")).first()[0],
            # stale labels silently under-merge clusters — fail loudly
            on_max="raise",
        )
    finally:
        # safe: the returned state is parquet-materialized, its lineage
        # no longer references the cached edges
        edges.unpersist()


def _min_components(edges) -> dict:
    """{node: minimum node of its component} over an iterable of
    ``(a, b)`` edges — ``duplicate_components``' answer computed by an
    in-memory union-find, for edge lists already collected to the driver
    (the streaming micro-batch, bounded by its trigger). Roots are always
    the minimum of their set: a union links the larger root under the
    smaller one, and finds compress paths as they walk."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every document that belongs to a duplicate cluster EXCEPT the
    cluster's canonical representative (minimum id). Documents in no pair
    survive untouched. The anti join carries ids only — bodies never
    shuffle."""
    from pyspark.sql import functions as F

    comp = duplicate_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Verbatim duplicated-span detection — the distributed analog of the
    suffix-array pass in "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022, arXiv:2107.06499): find every
    maximal token span that appears verbatim (as a ``k``-token window) in
    at least ``min_docs`` distinct documents.

    Method: every k-token window of every document is hashed; window
    hashes appearing in >= ``min_docs`` distinct docs are "duplicated
    windows"; per document, overlapping/adjacent duplicated windows merge
    into maximal spans (gaps-and-islands on window starts — two sorted
    equal-length windows merge iff their starts differ by <= k).

    Returns one row per (doc, maximal span): (id, span_start, span_end,
    span_tokens, n_windows), token positions 1-based inclusive. Documents
    shorter than ``k`` tokens have no windows and never appear.

    Scale shape: window construction is a narrow projection (the words
    array slices in place — no self-join, no shuffle); the frequency
    table groups 8-byte window hashes with map-side combine; the
    join-back carries (hash, id, start) triples — bodies never shuffle.
    The suffix array's O(n log n) global sort is replaced by a hash
    group-by, which is exactly what survives a 1000-executor corpus: a
    window's duplicate set is discovered wherever its hash lands, with
    no corpus-wide ordered structure to build or maintain.
    """
    df = ensure_parallelism(df)
    ws = df.select(
        F.col(id_col), F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__ws")
    ).filter(F.size("__ws") >= k)
    wins = ws.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("__ws") - (k - 1))).alias("__i"),
        F.col("__ws"),
    ).select(
        F.col(id_col),
        F.col("__i"),
        F.xxhash64(F.array_join(F.slice("__ws", F.col("__i"), k), " ")).alias("__h"),
    )
    # Single-pass duplicated-window discovery (r13) with BOUNDED
    # per-group state (r14). The r13 form grouped every occurrence of a
    # window hash into one collect_list agg buffer — one corpus pass
    # instead of the old countDistinct-then-join-back's two (measured:
    # 2 source scans), but a pathological window shared by millions of
    # docs (boilerplate text) concentrated all its (id, start) structs
    # in a single in-memory array that no spill path can split (sort-
    # based agg fallback spills GROUPS, not one group's buffer). Same
    # discovery over the same single exchange, expressed with window
    # functions instead (guide §2.3/§5): dense_rank over (hash, id
    # nulls-last) gives every distinct doc id a rank, so the max rank
    # among non-null rows IS the distinct-doc count — and WindowExec
    # buffers each hash's rows in a spillable UnsafeRow buffer, never
    # an agg array, so per-group state is disk-bounded. Occurrences
    # flow through as rows (no collect, no explode). Nulls in
    # ``id_col`` sort last and are excluded from the rank max exactly
    # as countDistinct/array_distinct excluded them, while their
    # occurrence rows are kept, as before.
    w_rank = Window.partitionBy("__h").orderBy(F.col(id_col).asc_nulls_last())
    w_all = Window.partitionBy("__h")
    marked = wins.withColumn(
        "__dr",
        F.when(F.col(id_col).isNotNull(), F.dense_rank().over(w_rank)),
    )
    hits = (
        marked.withColumn("__nd", F.max("__dr").over(w_all))
        .filter(F.col("__nd") >= min_docs)
        .select(id_col, "__i")
    )
    w = Window.partitionBy(id_col).orderBy("__i")
    isl = hits.withColumn(
        "__brk",
        F.when(
            F.col("__i") - F.lag("__i").over(w) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("__island", F.sum("__brk").over(w))
    return isl.groupBy(id_col, "__island").agg(
        F.min("__i").alias("span_start"),
        (F.max("__i") + (k - 1)).alias("span_end"),
        (F.max("__i") - F.min("__i") + k).alias("span_tokens"),
        F.count("*").alias("n_windows"),
    ).drop("__island")


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Remove verbatim duplicated spans from every document EXCEPT the
    canonical occurrence (Lee et al. 2022 keep-one semantics, arXiv:
    2107.06499 §3): for each duplicated ``k``-token window, the document
    with the minimum id keeps its copy; every other document drops the
    tokens that window covers. Documents reassemble from surviving
    tokens in original order; docs left with zero tokens drop out.

    Returns (id, text, n_tokens_kept). Canonical selection is per-window
    (min doc id over the window's owners), so a span shared by docs
    {3, 7, 9} survives only in doc 3 — deterministic, order-independent,
    and computable with one hash-groupBy, matching the paper's
    "keep one occurrence" without any sequential pass.

    Scale shape: covered token positions explode only for NON-canonical
    duplicated windows (bounded by the duplicated fraction of the
    corpus); the position kill-list joins back per (id, position) and
    documents reassemble with an in-agg sorted collect — the only rows
    ever shuffled are (hash, id, start) triples, positions, and single
    tokens, never whole documents.
    """
    df = ensure_parallelism(df)
    # ws feeds the window pass AND the reassembly tokens; wins feeds the
    # canonical groupBy AND the kill-list join — persist both or the
    # corpus re-tokenizes and re-windows per consumer (3 source scans
    # measured in the plan). wins is (id, pos, 8-byte hash) triples.
    ws = df.select(
        F.col(id_col), F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__ws")
    ).transform(persist_internal)
    wins = ws.filter(F.size("__ws") >= k).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("__ws") - (k - 1))).alias("__i"),
        F.col("__ws"),
    ).select(
        F.col(id_col),
        F.col("__i"),
        F.xxhash64(F.array_join(F.slice("__ws", F.col("__i"), k), " ")).alias("__h"),
    ).transform(persist_internal)
    canon = (
        wins.groupBy("__h")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min(id_col).alias("__canon"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("__h", "__canon")
    )
    kill = (
        wins.join(canon, "__h")
        .filter(F.col(id_col) != F.col("__canon"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("__i"), F.col("__i") + (k - 1))).alias("__p"),
        )
        .distinct()
    )
    toks = ws.select(
        F.col(id_col),
        F.posexplode("__ws").alias("__p0", "__tok"),
    ).withColumn("__p", F.col("__p0") + 1)
    kept = toks.join(kill, [id_col, "__p"], "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__p"), F.col("__tok")))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias(text_col),
        F.count("*").alias("n_tokens_kept"),
    )


def dedup_corpus_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
) -> DataFrame:
    """Corpus-wide LINE deduplication — the public C4/RefinedWeb
    boilerplate-removal step: any line (split on newline) appearing in
    more than ``max_docs`` distinct documents is removed from ALL of
    them (navigation chrome, cookie banners, license boilerplate), and
    each document is reassembled from its surviving lines in original
    order. Documents with zero surviving lines drop out.

    Returns (id, text, n_lines_kept). Scale shape: lines explode once
    (ids + line text shuffle, never whole documents); the line-frequency
    table aggregates with map-side combine and joins back on the line
    key; reassembly is one groupBy(id) with an in-agg array sort — at
    100 TB every shuffle row is one line, and hot boilerplate lines are
    exactly the ones the frequency table kills.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__i", "__l"),
    )
    freq = lines.groupBy("__l").agg(
        F.countDistinct(id_col).alias("__nd")
    )
    kept = lines.join(freq, "__l").filter(F.col("__nd") <= max_docs)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__i"), F.col("__l")))
                    ),
                    lambda s: s["__l"],
                ),
                "\n",
            ).alias(text_col),
            F.count("*").alias("n_lines_kept"),
        )
    )


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 13,
) -> DataFrame:
    """The audit complement of ``decontaminate``: instead of silently
    dropping contaminated documents, report WHICH benchmark document
    each training document overlaps and by how many shared word
    ``shingle_n``-grams — the evidence sheet a decontamination decision
    gets reviewed on (and the number that distinguishes a quoted
    benchmark answer from an incidental phrase match).

    Returns (train_id, bench_id, n_shared_grams). Scale shape: both
    sides shingle narrowly to (id, 8-byte hash) rows, the benchmark
    side (small by construction) broadcasts, and the pair aggregation
    groups hash-join output — document bodies never shuffle.
    """
    t = shingle_rows(train, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("train_id"), F.xxhash64("__g").alias("__h")
    )
    b = shingle_rows(benchmark, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("bench_id"), F.xxhash64("__g").alias("__h")
    )
    return (
        t.join(F.broadcast(b), "__h")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )
