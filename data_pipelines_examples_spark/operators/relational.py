"""Join and projection helpers: equi join, wildcard rule join,
rank-pick, outer-merge-coalesce, anti/band/theta joins.

Each helper re-expresses a pattern the reference hand-codes:

- skewed equi join — reference:
  notebooks/databricks/sql/sas_conversion_with_manual_salt_skewed_join.sql:161-206
  salts the fact side with ``cast(rand()*N as int)``, replicates the dim
  ×N through a ``RANGE(N)`` cross join and joins on (key, salt). Here it
  is a plain ``equi_join``: adaptive execution's skew join (on in every
  session profile, ``session._COMMON``, as in the reference's own
  ``skewJoin.enabled=true`` at lines 21-27) splits only the partitions
  that turn out hot at run time, so no dim row is copied. The manual salt
  copied the whole dim ×max(16, cores) for every key, hot or cold.
- wildcard rule join + rank pick — reference:
  notebooks/zeppelin/bof_30_migrate.scala:58-168,525-578 (dim ``*`` matches
  anything; ties broken by priority rank).
- full-outer merge with per-column coalesce — reference:
  notebooks/zeppelin/bof_30_migrate.scala:38-52, notebooks/zeppelin/sap_bw_api.scala:246-255.

Scale notes: small dims should broadcast — the helpers call
``F.broadcast`` when the caller marks the dim side small, and the session
profiles broadcast anything under 50 MB on their own. A shuffled join
whose key is hot gets its hot partitions split by the skew join
(``tests/test_relational.py::test_equi_join_hot_key_uses_aqe_skew_join``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def equi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
    broadcast_dim: bool = False,
) -> DataFrame:
    """Plain equi-join; ``broadcast_dim=True`` forces a broadcast-hash join
    (the reference steers this via autoBroadcastJoinThreshold=50m)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on, how)


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (reference:
    notebooks/databricks/python/partiton_by_date_load_to_parquet_from_s3.py:121-169)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS-style semi join (reference: dags/dataswm/dq_check_for_target_table.py:179-193)."""
    return left.join(right, on, "left_semi")


def band_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    extra: Column | None = None,
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """Between-join: ``left.value BETWEEN right.lo AND right.hi``
    (reference: notebooks/zeppelin/bof_30_migrate.scala:1098-1103).

    Band dims are typically tiny rule tables → broadcast by default, making
    this a broadcast-nested-loop join with a cheap range predicate instead
    of a full shuffle.
    """
    cond = (left[value_col] >= right[lo_col]) & (left[value_col] <= right[hi_col])
    if extra is not None:
        cond = cond & extra
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, how)


def wildcard_rule_join(
    fact: DataFrame,
    rules: DataFrame,
    mapping: dict[str, str],
    priority_col: str | None = None,
    pick_per: list[str] | None = None,
    ascending: bool = True,
    how: str = "inner",
    broadcast_rules: bool = True,
) -> DataFrame:
    """Join fact rows against a rule table where a rule column value of
    ``'*'`` matches anything; optionally keep only the best-priority rule
    per fact row.

    ``mapping`` maps rule-column → fact-column. A rule matches when every
    rule column is either ``'*'`` or null-safe-equal to the fact column
    (the reference's bof rules rely on ``<=>`` so null==null matches).
    ``pick_per`` names the fact key columns the best-rule pick partitions
    by (default: all fact columns).

    Rule tables are small → broadcast, so the wildcard disjunctions never
    force a shuffled nested-loop join.
    """
    conds = [
        F.when(rules[rc] == F.lit("*"), F.lit(True)).otherwise(rules[rc].eqNullSafe(fact[fc]))
        for rc, fc in mapping.items()
    ]
    cond = reduce(lambda a, b: a & b, conds)
    r = F.broadcast(rules) if broadcast_rules else rules
    joined = fact.join(r, cond, how)
    if priority_col is None:
        return joined
    order = F.col(priority_col).asc() if ascending else F.col(priority_col).desc()
    part_cols = pick_per if pick_per is not None else fact.columns
    w = Window.partitionBy(*[fact[c] for c in part_cols]).orderBy(order)
    return joined.withColumn("__rk", F.rank().over(w)).filter(F.col("__rk") == 1).drop("__rk")


def rank_pick(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: str | list[str | Column],
    keep_rank: int = 1,
    use_row_number: bool = False,
) -> DataFrame:
    """Keep the rank-1 (or rank-k) row(s) per partition — the reference's
    rule-priority pick (reference: notebooks/zeppelin/bof_30_migrate.scala:79-80,145-149)
    and latest-snapshot dedup (dags/dataswm/servicenow_api_extract.py:2337-2342).

    ``use_row_number=True`` keeps exactly one row per partition even on ties
    — which row is ENGINE- and RUN-dependent unless ``order_by`` is a
    total order over rows whose payloads differ (the sf1-density lesson:
    include the payload columns the caller reads, with explicit null
    placement, as final tiebreaks — q05 shows the shape).
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    orders = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    fn = F.row_number if use_row_number else F.rank
    w = Window.partitionBy(*parts).orderBy(*orders)
    return df.withColumn("__rk", fn().over(w)).filter(F.col("__rk") == keep_rank).drop("__rk")


def outer_merge_coalesce(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    prefer: str = "new",
) -> DataFrame:
    """Upsert-style merge: full outer join on null-safe keys, then per
    shared column take ``coalesce(new, old)`` (or old-first).

    Reference: notebooks/zeppelin/bof_30_migrate.scala:38-52 — a Delta
    MERGE re-expressed as a pure DataFrame op so it works on any store.
    """
    cond = reduce(lambda a, b: a & b, [old[k].eqNullSafe(new[k]) for k in keys])
    joined = old.alias("o").join(new.alias("n"), cond, "outer")
    cols = []
    old_cols, new_cols = set(old.columns), set(new.columns)
    for c in old.columns:
        if c in new_cols:
            first, second = ("n", "o") if prefer == "new" else ("o", "n")
            cols.append(F.coalesce(F.col(f"{first}.{c}"), F.col(f"{second}.{c}")).alias(c))
        else:
            cols.append(F.col(f"o.{c}").alias(c))
    for c in new.columns:
        if c not in old_cols:
            cols.append(F.col(f"n.{c}").alias(c))
    return joined.select(*cols)


def build_predicate(
    equals: dict[str, object] | None = None,
    isin: dict[str, list[object]] | None = None,
    between: dict[str, tuple[object, object]] | None = None,
    like: dict[str, str] | None = None,
) -> Column | None:
    """Dynamic predicate assembly from parameter dicts — the safe
    replacement for the reference's string-built WHERE/IN clauses
    (reference: usage_analysis.py:230-251 widget-driven SQL templating).
    Everything stays a Column expression: no injection surface, full
    Catalyst pushdown."""
    conds: list[Column] = []
    for c, v in (equals or {}).items():
        conds.append(F.col(c) == F.lit(v))
    for c, vals in (isin or {}).items():
        conds.append(F.col(c).isin(vals))
    for c, (lo, hi) in (between or {}).items():
        conds.append(F.col(c).between(lo, hi))
    for c, pat in (like or {}).items():
        conds.append(F.col(c).like(pat))
    if not conds:
        return None
    return reduce(lambda a, b: a & b, conds)


def first_or_default(
    df: DataFrame,
    order_by: list[str | Column],
    default_row: dict,
) -> DataFrame:
    """Best row by priority order, falling back to a default row when the
    table is empty (reference: dags/dataswm/utils/dq_utils.py:64-87 —
    union a default row, order, LIMIT 1)."""
    spark = df.sparkSession
    default_df = spark.createDataFrame([default_row], df.schema)
    orders = [F.col(c) if isinstance(c, str) else c for c in order_by]
    return df.unionByName(default_df).orderBy(*orders).limit(1)


def lookup_join(
    df: DataFrame,
    col: str,
    mapping: DataFrame,
    key_col: str,
    value_cols: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Broadcast mapping-table enrichment — the scale-right replacement for
    per-row lookup UDFs like the reference's Hive-JAR IP→geo function
    (reference: windowed_lagN_awskms_postgres_date_partition.py:57-64,118).
    A lookup that fits in memory should be a broadcast join, not a UDF:
    it stays in codegen and the optimizer can reorder/push it."""
    values = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    m = F.broadcast(mapping.select(F.col(key_col).alias(col), *values))
    return df.join(m, col, how)


def join_condition_from_keys(a: DataFrame, b: DataFrame, keys: list[str]) -> Column:
    """Fold a null-safe equality condition over a key list
    (reference: notebooks/zeppelin/bof_30_migrate.scala:39-41)."""
    return reduce(lambda x, y: x & y, [a[k].eqNullSafe(b[k]) for k in keys])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each left row, attach the single right row with the
    greatest ``right_ts`` satisfying ``right_ts <= left_ts`` (``<`` when
    ``strict``) within the same ``key`` — the point-in-time lookup every
    market-data / feature-backfill pipeline needs (the reference emulates
    the shape with group-max + join-back, partiton_by_date_load_to_parquet_from_s3.py:198-219).

    NOT implemented as a theta join: ``l.key = r.key AND r.ts <= l.ts``
    + max-pick explodes into a per-key cross product before filtering
    (O(n·m) per key). Instead both sides are UNIONED, tagged, and sorted
    once per key — each left row then reads the running ``last_value(...,
    ignorenulls)`` of the right columns. Left columns ride through the
    union inside a struct, so there is no join-back: ONE shuffle (the
    window by key), linear work, no cross product; this is the plan that
    survives a 100× fact table.

    Tie semantics at equal timestamps: non-strict includes the tied right
    row (tag orders right-before-left); strict excludes it. If several
    right rows share (key, ts), the last one in (ts, tiebreak-free) order
    wins — pre-dedup the right side if that matters.

    Returns all left columns plus ``value_cols`` (default: every right
    column except key/ts) and ``asof_ts`` (the matched right timestamp,
    null when nothing preceded).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (key, right_ts)]
    # tag: right rows sort before left at equal ts for <=, after for <
    right_tag, left_tag = (0, 1) if not strict else (1, 0)
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(right_tag).alias("__tag"),
        F.struct(
            F.col(right_ts).cast("timestamp").alias("__asof_ts"),
            *[F.col(c) for c in value_cols],
        ).alias("__payload"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias("__lrow"),
    )
    lt = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(left_tag).alias("__tag"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        r.unionByName(lt)
        .withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__lrow").isNotNull())
        .select(
            *[F.col(f"__lrow.{c}").alias(c) for c in left.columns],
            F.col("__match.__asof_ts").alias("asof_ts"),
            *[F.col(f"__match.{c}").alias(c) for c in value_cols],
        )
    )


def temporal_join(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-time join of facts to an SCD2 dimension history: each
    fact row attaches the dimension version whose [valid_from, valid_to)
    interval contains the fact's timestamp (NULL valid_to = open/current,
    the ``scd2_history`` convention).

    NOT the textbook ``f.key = h.key AND f.ts >= h.valid_from AND
    (f.ts < h.valid_to OR h.valid_to IS NULL)`` theta join — that shape
    cross-products every fact with every version of its key before
    filtering. Because SCD2 intervals are non-overlapping per key,
    "interval containing ts" is exactly "latest valid_from <= ts", so
    this rides ``asof_join`` (one union + one window sort, ONE shuffle,
    linear) and then null-checks: a fact earlier than its key's first
    version gets NULL dimension columns, and a ``valid_to`` at-or-before
    the fact's ts (possible only for GAPPED histories, where a key's
    latest version was closed without a successor) is masked back to
    NULL rather than mis-attributed.

    Returns all fact columns + ``value_cols`` (default: history columns
    minus key/interval bounds) + ``valid_from``/``valid_to`` of the
    matched version (both NULL on no match).
    """
    if value_cols is None:
        value_cols = [
            c for c in history.columns if c not in (key, valid_from, valid_to)
        ]
    joined = asof_join(
        facts,
        history,
        key,
        ts_col,
        valid_from,
        value_cols=value_cols + [valid_to],
    )
    # Materialize the match predicate BEFORE masking: the when() below
    # rewrites valid_to, and a lazily re-evaluated predicate would then
    # see its own output (masked NULL valid_to == "open interval").
    out = joined.withColumn(
        "__matched",
        F.col("asof_ts").isNotNull()
        & (
            F.col(valid_to).isNull()
            | (F.col(ts_col).cast("timestamp") < F.col(valid_to).cast("timestamp"))
        ),
    )
    for c in value_cols + [valid_to]:
        out = out.withColumn(c, F.when(F.col("__matched"), F.col(c)))
    return (
        out.withColumn(valid_from, F.when(F.col("__matched"), F.col("asof_ts")))
        .drop("asof_ts", "__matched")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: str | list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Diff two snapshots of a keyed table: one row per key with status
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` and the list of
    columns whose values differ (null-safe — NULL vs value counts as a
    change, NULL vs NULL does not). The audit primitive behind CDC
    validation, reconciliation reports, and regression gates on rebuilt
    tables (the reference count-validates writes; this is the row-level
    generalization).

    Returns keys + ``diff_status`` + ``changed_cols`` (empty array for
    added/removed/unchanged). ``compare_cols`` defaults to all shared
    non-key columns. Unchanged rows are dropped unless requested — at
    100 TB the diff output should be the (small) delta, not a full copy.

    Scale shape: one full-outer shuffle join on the keys; comparisons are
    narrow projections; no column values survive into the output, only
    names — so wide tables diff without wide shuffles beyond the join
    itself.
    """
    parts = [keys] if isinstance(keys, str) else list(keys)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in parts
        ]
    o = old.select(*parts, *[F.col(c).alias(f"__o_{c}") for c in compare_cols]).withColumn(
        "__in_old", F.lit(True)
    )
    nw = new.select(*parts, *[F.col(c).alias(f"__n_{c}") for c in compare_cols]).withColumn(
        "__in_new", F.lit(True)
    )
    j = o.join(nw, parts, "full_outer")
    changed_cols = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        )
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *parts,
        status.alias("diff_status"),
        F.when(
            F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull(),
            changed_cols,
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_cols"),
    )
    if not include_unchanged:
        out = out.filter(F.col("diff_status") != "unchanged")
    return out


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    max_distance: int = 2,
    block: str | None = None,
    normalize: bool = True,
    distance_col: str = "edit_distance",
) -> DataFrame:
    """Approximate-key join: pairs whose normalized keys are within
    ``max_distance`` Levenshtein edits — entity resolution's workhorse
    (misspelled names, OCR'd codes, vendor-file reconciliation).

    NOT a cross join: candidate pairs come from an EQUI join on a
    blocking key. The default block is the LENGTH BAND — the right side
    replicates each row into its key-length ±d slots, so the join key is
    (length,) exact-match and the pairing is LOSSLESS: any two strings
    within d edits differ by at most d in length, so no true match can
    escape the block. ``block='prefix'`` additionally blocks on the
    first character — far more selective (hot length bands shrink by
    ~the alphabet size) but drops pairs whose first characters differ;
    use it when the error model says initials survive (typical for
    human-entered names) and recall loss is acceptable.

    ``normalize`` lower-cases and trims both keys first. Emits all left
    and right columns plus ``distance_col``. Levenshtein evaluates
    JVM-side only on rows sharing a block — never all pairs.

    Cross-engine note: Spark's levenshtein counts Unicode codepoints;
    DuckDB's counts bytes — identical on ASCII keys (the oracle-gated
    q92 uses ASCII), divergent past that.
    """
    d = int(max_distance)
    lnorm = F.lower(F.trim(F.col(left_key))) if normalize else F.col(left_key)
    rnorm = F.lower(F.trim(F.col(right_key))) if normalize else F.col(right_key)
    l = left.withColumn("__lk", lnorm).withColumn("__llen", F.length("__lk"))
    r = (
        right.withColumn("__rk", rnorm)
        .withColumn("__rlen", F.length("__rk"))
        .withColumn(
            "__slot",
            F.explode(F.sequence(F.col("__rlen") - d, F.col("__rlen") + d)),
        )
    )
    on = [l["__llen"] == r["__slot"]]
    if block == "prefix":
        on.append(F.substring(l["__lk"], 1, 1) == F.substring(r["__rk"], 1, 1))
    elif block is not None:
        raise ValueError(f"unknown block strategy: {block!r}")
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    dist = F.levenshtein(l["__lk"], r["__rk"])
    joined = l.join(r, cond).filter(dist <= d)
    return joined.select(
        *[l[c] for c in left.columns],
        *[r[c] for c in right.columns],
        dist.alias(distance_col),
    )
