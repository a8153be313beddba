"""Window-function operators: cumulative sums, lag feature cascades, ntile,
RANGE-interval distinct counts, streak detection.

Reference patterns re-expressed (SURVEY.md §2.5):

- cumulative/partitioned running sums —
  notebooks/databricks/python/usage_analysis.py:173-177,380-386
- LAG feature cascade (the reference emulates lag with N offset self-joins,
  notebooks/databricks/python/automl_linearreg_process_stocks.py:100-213;
  we use ``F.lag`` — one window sort instead of N shuffled joins)
- NTILE quartiles — notebooks/databricks/python/mlflow_pymatch_single_node.py:113-114
- 10-minute RANGE frame + approx distinct —
  notebooks/databricks/python/windowed_lagN_awskms_postgres_date_partition.py:142-145
- streak detection via conditional cumulative sums —
  notebooks/databricks/python/automl_linearreg_process_stocks.py:327-375

Scale notes: every helper is a single window spec → one shuffle+sort per
distinct (partitionBy, orderBy) pair; stacking N lags or N running sums on
the *same* spec reuses one sort. That is the property that makes the lag
cascade O(1 shuffle) instead of the reference's O(N joins).
"""

from __future__ import annotations

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..cache import persist_internal


def cumulative_sum(
    df: DataFrame,
    value_cols: str | list[str],
    order_by: str | Column | list[str | Column],
    partition_by: str | list[str] | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Running total(s) ordered by ``order_by``, optionally per partition.
    Include enough tiebreak columns for a TOTAL order over rows whose
    summed values can differ — a running ROWS frame over ambiguous ties
    emits order-dependent prefix sums (sort-expression Columns like
    ``F.col(c).asc_nulls_last()`` are accepted for cross-engine null
    placement)."""
    values = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    orders = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    w = Window.orderBy(*orders)
    if partition_by:
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*parts).orderBy(*orders)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for v in values:
        df = df.withColumn(f"{v}{suffix}", F.sum(v).over(w))
    return df


def global_cumulative_sum(
    df: DataFrame,
    value_col: str,
    order_by: str | Column | list[str | Column],
    out_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact GLOBAL running total without a global window — the 100 TB
    form of ``cumulative_sum(partition_by=None)``.

    An unpartitioned window moves every row to ONE partition (Spark's
    WindowExec warning is literal), which is fine for a post-aggregation
    frame bounded by a dimension (q06's one-row-per-date) and fatal for
    an unbounded one (a customer dimension at 9 B rows). This computes
    the identical prefix sum distributed, the classic two-phase scan:

    1. range-partition on the total order (``repartitionByRange`` keeps
       partition i's keys entirely before partition i+1's),
    2. per-partition running sums — a window PARTITIONED by the range
       partition id, so every core works,
    3. per-partition totals (one row per partition — bounded by the
       shuffle parallelism, so ITS tiny prefix window may legally run
       single-partition) become broadcast offsets added back per row.

    ``value_col`` must be an EXACT type (decimal/integral): the offset
    addition re-associates the sum, which is only value-identical when
    addition is associative — rejected for float/double rather than
    silently emitting order-dependent prefix sums. ``order_by`` must be
    a TOTAL order (same contract as ``cumulative_sum``); the ranged
    frame is persisted so the offsets and the rows provably read the
    same partition boundaries.
    """
    field = df.schema[value_col].dataType.typeName()
    if field in ("double", "float"):
        raise ValueError(
            f"global_cumulative_sum needs an exact value type, got {field}: "
            "the distributed offset addition re-associates the sum, which "
            "changes float results — accumulate in decimal and cast after"
        )
    orders = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    orders = [F.col(o) if isinstance(o, str) else o for o in orders]
    out_col = out_col or f"{value_col}_cum"
    if num_partitions:
        n = num_partitions
    else:
        # "spark.sql.shuffle.partitions" is not always numeric ("auto"
        # under some managed runtimes' adaptive coalescing) — degrade to
        # the cluster's default parallelism rather than ValueError. The
        # same managed runtimes typically run Spark Connect, where
        # sparkContext itself raises — degrade once more to Spark's own
        # shuffle-partitions default rather than fail on exactly the
        # runtime this fallback targets.
        try:
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        except ValueError:
            # Narrow catch (r13): only the Spark-Connect failure
            # modes (no sparkContext attribute / not-implemented) degrade
            # to the default — an unrelated session failure must surface,
            # not silently pin n=200.
            try:
                n = df.sparkSession.sparkContext.defaultParallelism or 200
            except (AttributeError, NotImplementedError, PySparkNotImplementedError):
                n = 200
    part = (
        df.repartitionByRange(n, *orders)
        .withColumn("__pid", F.spark_partition_id())
        .transform(persist_internal)
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*orders)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("__local", F.sum(value_col).over(w_local))
    totals = part.groupBy("__pid").agg(
        F.sum(value_col).alias("__t"), F.count(value_col).alias("__n")
    )
    # offset = sum over STRICTLY PRIOR partitions (frame ends at -1);
    # __pn tracks whether any prior non-null value exists, because the
    # window-sum contract this must replicate returns NULL until the
    # first non-null value — coalescing blindly would turn that NULL
    # prefix into 0.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__off"),
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__pn"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            F.when(
                F.col("__local").isNull() & (F.col("__pn") == 0), F.lit(None)
            ).otherwise(F.coalesce(F.col("__local"), F.lit(0)) + F.col("__off")),
        )
        .drop("__pid", "__local", "__off", "__pn")
    )


def lag_features(
    df: DataFrame,
    value_col: str,
    order_by: str | Column | list[str | Column],
    offsets: list[int],
    partition_by: str | list[str] | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """Add ``lag(value, n)`` columns for each offset on ONE window sort.

    The reference builds the same features with a cascade of offset
    self-joins (one shuffle each); a shared window spec does it with a
    single exchange regardless of len(offsets). As with
    ``cumulative_sum``, the order should be TOTAL over rows whose lagged
    value differs, or the emitted values are order-dependent.
    """
    orders = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    if partition_by:
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*parts).orderBy(*orders)
    else:
        w = Window.orderBy(*orders)
    prefix = prefix or f"{value_col}_lag"
    for n in offsets:
        df = df.withColumn(f"{prefix}{n}", F.lag(value_col, n).over(w))
    return df


def ntile_bucket(
    df: DataFrame,
    order_by: str | list[str | Column],
    n: int = 4,
    partition_by: str | list[str] | None = None,
    out_col: str = "ntile",
) -> DataFrame:
    """NTILE(n) bucket assignment. Order by a unique key (or include a
    tiebreaker) for deterministic buckets."""
    orders = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    if partition_by:
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*parts).orderBy(*orders)
    else:
        w = Window.orderBy(*orders)
    return df.withColumn(out_col, F.ntile(n).over(w))


def sliding_range_agg(
    df: DataFrame,
    ts_col: str,
    agg: Column,
    out_col: str,
    partition_by: str | list[str] | None = None,
    preceding_seconds: int = 600,
) -> DataFrame:
    """Aggregate over a trailing event-time RANGE frame (e.g. distinct users
    in the last 10 minutes), the reference's ``RANGE BETWEEN INTERVAL '10'
    MINUTE PRECEDING AND CURRENT ROW`` window.

    Implementation: order by the epoch-microseconds of ``ts_col`` with
    ``rangeBetween(-preceding_seconds·1e6, 0)`` — the documented PySpark
    way to get interval RANGE frames, at full timestamp precision.
    """
    order = F.unix_micros(F.col(ts_col))
    if partition_by:
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*parts).orderBy(order)
    else:
        w = Window.orderBy(order)
    w = w.rangeBetween(-preceding_seconds * 1_000_000, Window.currentRow)
    return df.withColumn(out_col, agg.over(w))


def approx_distinct_over_range(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    out_col: str,
    partition_by: str | list[str] | None = None,
    preceding_seconds: int = 600,
) -> DataFrame:
    """``approx_count_distinct`` over an event-time RANGE frame — the
    reference's exact window (windowed_lagN_awskms_postgres_date_partition.py:142-145).

    Routed through a SQL ``expr`` because approx aggregates over RANGE
    frames aren't expressible via the PySpark ``.over()`` builder in all
    versions (SURVEY §7.3 hard part 2). Sub-linear state per frame (HLL
    sketch) — at 100 TB this is the only viable form of the query; the
    exact collect_set variant (``sliding_range_agg``) is for oracle checks.
    """
    parts = (
        ([partition_by] if isinstance(partition_by, str) else list(partition_by))
        if partition_by
        else []
    )
    part_sql = f"PARTITION BY {', '.join(parts)} " if parts else ""
    micros = preceding_seconds * 1_000_000
    return df.withColumn(
        out_col,
        F.expr(
            f"approx_count_distinct({value_col}) OVER ({part_sql}"
            f"ORDER BY unix_micros({ts_col}) "
            f"RANGE BETWEEN {micros} PRECEDING AND CURRENT ROW)"
        ),
    )


def streaks(
    df: DataFrame,
    flag_col: str,
    order_by: str | list[str],
    partition_by: str | list[str] | None = None,
    group_col: str = "streak_id",
    len_col: str = "streak_len",
) -> DataFrame:
    """Detect runs of consecutive ``flag_col == 1`` rows and number the rows
    within each run.

    Composition (one window spec, reused): lag(flag) → streak-start marker
    (0→1 edge) → running sum of markers = streak id → rank within
    (partition, streak id) = position in streak. Rows with flag==0 get
    streak_len = 0.

    CONTRACT: ``order_by`` must be UNIQUE per row within a partition, not
    merely total over distinct rows — the lag → running-sum → rank chain
    hands positional state between window passes, and fully-identical
    duplicate rows let each pass order the tie differently (measured
    nondeterministic within a single engine at the sf1-density gate).
    With duplicate rows, pre-aggregate to (order-key, flag, count) and
    weight lengths by count — q22 shows the shape.
    """
    orders = [order_by] if isinstance(order_by, str) else list(order_by)
    parts = (
        ([partition_by] if isinstance(partition_by, str) else list(partition_by))
        if partition_by
        else []
    )
    w = Window.partitionBy(*parts).orderBy(*orders) if parts else Window.orderBy(*orders)
    started = (
        (F.coalesce(F.lag(flag_col).over(w), F.lit(0)) == 0) & (F.col(flag_col) == 1)
    ).cast("int")
    df = df.withColumn("__start", started)
    df = df.withColumn(
        group_col,
        F.sum("__start").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w2 = Window.partitionBy(*parts, group_col).orderBy(*orders)
    df = df.withColumn(
        len_col,
        F.when(F.col(flag_col) == 1, F.row_number().over(w2)).otherwise(F.lit(0)),
    )
    return df.drop("__start")


def resample_asof(
    df,
    key_col: str,
    ts_col: str,
    value_cols: list[str],
    interval: str = "1 hour",
    trunc_unit: str = "hour",
    max_grid_points: int = 5_000_000,
):
    """Downsample an irregular per-key time series onto a regular grid
    with as-of (forward-fill) semantics: for every ``interval`` tick
    between a key's first and last observation, take the latest
    observation at-or-before the tick — the feature-store/market-data
    resample (the reference's stock pipelines hand-roll this shape with
    calendar joins, automl_linearreg_process_stocks.py:100-335).

    Grid construction is per key (one min/max aggregate + a ``sequence``
    explode — no driver-side calendar); the fill rides ``asof_join``
    (union + one window sort, ONE shuffle, no per-key cross product).
    Ticks before a key's first observation cannot exist by construction
    (the grid starts at the first observation's truncated tick, and that
    tick's as-of lookback finds the first observation only if the
    observation IS at the boundary — otherwise the first tick is the
    next one after it... grid starts at date_trunc(first) which is <=
    first, so the very first tick may precede the first observation and
    carry NULLs; callers wanting a fully-dense frame drop or backfill
    that edge row explicitly).

    Returns (key, grid_ts, *value_cols, asof_ts). ``interval`` must be
    expressible as an INTERVAL literal and ``trunc_unit`` must be the
    matching date_trunc unit so ticks are aligned.

    ``max_grid_points`` bounds the PER-KEY grid size and raises a clear
    error instead of letting ``sequence`` explode: the grid is
    data-driven (first..last observation), so one corrupt far-past or
    far-future timestamp would otherwise silently inflate a key's grid
    by orders of magnitude and OOM executors — measured: a single
    year-9000 event against an hourly grid is 62M ticks and killed a
    local[32] JVM (--times differential axis). The guard costs one
    aggregate over the per-key bounds (persisted — they are reused for
    grid construction and are #keys rows).
    """
    from pyspark.sql import functions as F

    from .relational import asof_join

    bounds = df.groupBy(key_col).agg(
        F.date_trunc(trunc_unit, F.min(ts_col)).alias("__t0"),
        F.max(ts_col).cast("timestamp").alias("__t1"),
    ).transform(persist_internal)
    # seconds per tick, engine-evaluated so any valid INTERVAL literal
    # works (CAST(interval AS BIGINT) would return the leading unit, not
    # seconds). Computed as a DIFFERENCE of two casts: a bare
    # CAST(ts + interval AS DOUBLE) is the shifted timestamp's epoch
    # seconds, which embeds the SESSION TIMEZONE offset of the literal —
    # under Asia/Kolkata it comes out NEGATIVE for INTERVAL 1 hour and
    # the guard silently never trips. The difference cancels the offset
    # in any timezone.
    tick_s = (
        df.sparkSession.sql(
            f"SELECT CAST(timestamp'1970-01-01 00:00:00' + INTERVAL {interval} AS DOUBLE)"
            f" - CAST(timestamp'1970-01-01 00:00:00' AS DOUBLE) AS s"
        ).first()["s"]
    )
    worst = bounds.agg(
        F.max(F.col("__t1").cast("double") - F.col("__t0").cast("double")).alias("span")
    ).first()["span"]
    if worst is not None and worst / tick_s + 1 > max_grid_points:
        raise ValueError(
            f"resample_asof: worst key spans {worst:.0f}s ≈ "
            f"{worst / tick_s + 1:.0f} ticks at INTERVAL {interval}, over the "
            f"max_grid_points={max_grid_points} guard. A span this wide is "
            "usually a corrupt timestamp — filter the input time range, "
            "coarsen the interval, or raise max_grid_points explicitly."
        )
    grid = bounds.select(
        F.col(key_col),
        F.explode(
            F.sequence(
                F.col("__t0"), F.col("__t1"), F.expr(f"INTERVAL {interval}")
            )
        ).alias("grid_ts"),
    )
    obs = df.select(key_col, ts_col, *value_cols)
    return asof_join(grid, obs, key_col, "grid_ts", ts_col, value_cols=value_cols)


def detect_gaps(
    df,
    key_col: str,
    ts_col: str,
    max_gap_seconds: int,
):
    """Report every gap in a per-key event series longer than
    ``max_gap_seconds``: (key, gap_start=last seen, gap_end=next seen,
    gap_seconds) — the monitoring complement of ``resample_asof`` (which
    silently forward-fills through gaps; this is the operator that tells
    you where fills are masking dead sensors / stalled feeds).

    One window sort per key (lag), narrow everywhere else.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    # microsecond-exact: casting each timestamp to long FLOORS to whole
    # seconds first, which shifts sub-second gaps by up to a second
    gap_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)
    return (
        df.select(key_col, F.col(ts_col).cast("timestamp").alias(ts_col))
        .withColumn("__prev", prev)
        .withColumn("__gap_us", gap_us)
        .filter(F.col("__gap_us") > int(max_gap_seconds) * 1_000_000)
        .select(
            F.col(key_col),
            F.col("__prev").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            (F.col("__gap_us") / F.lit(1_000_000.0)).alias("gap_seconds"),
        )
    )
