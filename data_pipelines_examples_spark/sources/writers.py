"""Sinks (SURVEY §2.1 K1-K10): partitioned, idempotent, count-validated.

Reference parity:
- date-partitioned parquet sink — cloudtrail_etl.scala:130-138,
  partiton_by_date_load_to_parquet_from_s3.py:266-272
- idempotent partition overwrite — hive_to_hive_cte.py:164-175
  (INSERT OVERWRITE PARTITION), windowed_lagN...py:208-217 (replaceWhere)
- count-validated writes — windowed_lagN...py:189-199,316-344,
  fmaps_from_hive_insert_mysql.py:155-177
- single-file export — usage_analysis.py:604
- capped write parallelism — from_api_call_to_columnar_db.py:506-521
  (repartition(5) before JDBC)

Scale notes: dynamic partition overwrite (set in the session profile)
makes per-partition re-runs idempotent without delete-then-append races.
``target_parallelism`` caps file counts / connection fan-out the way the
reference hand-tunes repartition before constrained sinks.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class WriteValidationError(RuntimeError):
    pass


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _path_exists(spark, path: str) -> bool:
    """Explicit existence probe so "fresh target" is distinguished from a
    transient/corrupt read failure — swallowing the latter as "fresh" can
    silently destroy prior state (see ``upsert_by_key``)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _count(df: DataFrame) -> int:
    """``df.count()`` in ONE Spark job: the zero-column plan's rows are
    counted in the JVM, with no aggregate exchange (adaptive execution
    runs that exchange's two stages as two jobs). A file scan still opens
    every file and reads its footer, so this stays a full validation read."""
    return df.select()._jdf.queryExecution().toRdd().count()


def _data_files(spark, path: str, fmt: str, schema) -> list[str]:
    """The data files under ``path`` (none if it does not exist), listed
    by ONE JVM call: the file index of a read given ``schema``, so no
    schema-inference job runs. ``inputFiles()`` returns URIs with escaped
    characters; decoded, each one loads back as a path — a partition
    value holding a space, ``%`` or a non-ASCII character included."""
    if not _path_exists(spark, path):
        return []
    return [
        unquote(f) for f in spark.read.format(fmt).schema(schema).load(path).inputFiles()
    ]


_OLD_SUFFIX = "__old"


def _checked_rename(fs, src, dst, what: str) -> None:
    """Hadoop FileSystem.rename reports failure by returning False, not
    raising — an unchecked call after a delete can fall through with the
    only state copy gone. Every swap site must fail loudly instead."""
    if not fs.rename(src, dst):
        raise IOError(f"state swap: rename failed ({what}): {src} -> {dst}")


def _checked_delete(fs, path, what: str) -> None:
    """Hadoop delete ALSO reports failure by returning False. A silently
    failed delete immediately before a rename is the nasty case: rename
    into a still-existing directory NESTS the source inside it and
    returns True, so the 'restored' state would be a partial install
    with the last complete copy buried one level down. Any delete that
    precedes a rename must fail loudly instead."""
    if fs.exists(path) and not fs.delete(path, True):
        raise IOError(f"state swap: delete failed ({what}): {path}")


def _recover_interrupted_swap(spark, target_path: str, fmt: str = "parquet") -> None:
    """Complete a ``_swap_into_place`` that crashed mid-protocol. Two
    crash shapes leave ``target_path__old`` behind:

    - nothing at ``target_path`` — the previous run renamed the live
      state aside and died before installing staging. Restore it, so
      callers that treat a missing target as "fresh" (upsert_by_key,
      incremental_rollup) merge against FULL history instead of
      rebuilding from one delta.
    - BOTH present — the previous run died between installing staging
      and its post-validation delete of ``__old``, OR (object store)
      the install itself was a partial copy. The two are distinguished
      by fully materializing the target (``count()`` resolves every
      footer): a readable target is the newer complete state (drop
      ``__old``); an unreadable one is a partial install (discard it,
      restore ``__old``). A partial copy whose individual files are
      each complete can still pass this read — that residual window is
      why object stores want a table format; see ``_swap_into_place``.
    """
    fs, target = _hadoop_fs(spark, target_path)
    old = _hadoop_fs(spark, target_path.rstrip("/") + _OLD_SUFFIX)[1]
    if not fs.exists(old):
        return
    if not fs.exists(target):
        _checked_rename(fs, old, target, "crash recovery: restore __old")
        return
    try:
        spark.read.format(fmt).load(target_path).count()
    except Exception:
        _checked_delete(fs, target, "crash recovery: remove partial install")
        _checked_rename(
            fs, old, target, "crash recovery: discard partial install"
        )
        return
    fs.delete(old, True)


def _swap_into_place(spark, staging_path: str, target_path: str):
    """Rename-aside swap: park the live target at ``__old``, install the
    staging dir, and RETURN the parked path's (fs, jpath) for the caller
    to delete only after it has validated the installed state (a read
    that fully materializes, resolving every footer) — so every crash
    window leaves a complete copy at target or ``__old``. Renames raise
    on failure; a failed install is rolled back best-effort. Single-
    filesystem rename is atomic per the HDFS contract; on object stores
    rename is copy+delete and a mid-install crash can leave a PARTIAL
    target — there, a table format (Delta/Iceberg) or a manifest-commit
    layer is the real answer; the validation read is the detection
    backstop.

    A pre-existing ``__old`` is REFUSED, not deleted: it means a prior
    run crashed (or failed validation) after parking a complete copy,
    and the current target may be that run's partial install — deleting
    ``__old`` here would destroy the last good copy. Callers run
    ``_recover_interrupted_swap`` first, which resolves that state."""
    fs, target = _hadoop_fs(spark, target_path)
    old = _hadoop_fs(spark, target_path.rstrip("/") + _OLD_SUFFIX)[1]
    if fs.exists(old):
        raise IOError(
            f"state swap: parked copy already present at {old} — a prior "
            "swap did not complete; run _recover_interrupted_swap before "
            "swapping (it validates the target and resolves the parked copy)"
        )
    had_state = fs.exists(target)
    if had_state:
        _checked_rename(fs, target, old, "state aside")
    try:
        _checked_rename(fs, _hadoop_fs(spark, staging_path)[1], target, "install staging")
    except IOError:
        if had_state:
            fs.rename(old, target)  # best-effort rollback; recovery covers the rest
        raise
    return fs, old


def _install_and_validate(spark, staging_path: str, target_path: str, validate):
    """The full swap protocol: install ``staging_path`` at ``target_path``
    via rename-aside, run ``validate()`` (which MUST fully materialize the
    installed state — e.g. ``lambda: spark.read.load(path).count()``; a
    lazy read that only touches one footer lets a partial install pass),
    and delete the parked ``__old`` only after validation succeeds.

    On validation failure the suspect install is DELETED and the parked
    copy restored — without that, the next run would merge from the
    partial target while ``_swap_into_place`` refuses the leftover
    ``__old`` (or, in the pre-refusal protocol, silently destroyed it).
    Returns ``validate()``'s result so callers keep their count."""
    fs, old = _swap_into_place(spark, staging_path, target_path)
    target = _hadoop_fs(spark, target_path)[1]
    try:
        result = validate()
    except Exception:
        if fs.exists(old):
            _checked_delete(fs, target, "validation rollback: remove suspect")
            _checked_rename(fs, old, target, "validation rollback")
        raise
    if fs.exists(old):
        fs.delete(old, True)
    return result


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.format(fmt).mode(mode).partitionBy(*parts).save(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: str | list[str],
    fmt: str = "parquet",
) -> None:
    """Idempotently replace exactly the partitions present in ``df``
    (dynamic partition overwrite — the INSERT OVERWRITE PARTITION /
    replaceWhere idiom). Other partitions are untouched."""
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (
        df.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .save(path)
    )


def write_validated(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    target_parallelism: int | None = None,
) -> int:
    """Write then re-read and assert count equality — the reference's
    post-write validation idiom. Returns the validated count of rows
    WRITTEN BY THIS CALL.

    The source is counted from a cached plan so write+count don't recompute
    differently. The sink side counts exactly the files this call added:
    the target's data files after the write minus those before it, read
    with ``df.schema`` (no schema-inference job). So an append, a dynamic
    partition overwrite (the session default) and a full overwrite all
    validate the rows they wrote, at a cost that grows with the files
    written, not with the target.

    Deliberately NOT the Observation API (which would fold the count into
    the write job): registering any Observation on the session leaves
    Spark 4.1's ObservationManager captured in later ML-vector collect
    closures, failing them with NotSerializableException — pinned in
    tests/test_catalog_copyinto.py::test_copy_into_does_not_poison_ml_collect.
    """
    spark = df.sparkSession
    before = set(_data_files(spark, path, fmt, df.schema))
    df = df.cache()
    try:
        out = df
        if target_parallelism is not None:
            out = out.repartition(target_parallelism)
        writer = out.write.format(fmt).mode(mode)
        if partition_by:
            parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            writer = writer.partitionBy(*parts)
        # the write fills the cache; counting it first would cost its own
        # materialization job
        writer.save(path)
        expected = _count(df)
        added = [f for f in _data_files(spark, path, fmt, df.schema) if f not in before]
        actual = (
            _count(
                spark.read.format(fmt).schema(df.schema).option("basePath", path).load(added)
            )
            if added
            else 0
        )
        if actual != expected:
            raise WriteValidationError(
                f"wrote {actual} rows to {path}, expected {expected}"
            )
        return actual
    finally:
        df.unpersist()


def upsert_by_key(
    updates: DataFrame,
    path: str,
    keys: str | list[str],
    version_col: str,
    fmt: str = "parquet",
) -> int:
    """MERGE-style keyed upsert over a parquet path without a table format:
    read the existing target (if any), union with the updates, keep the
    latest version per key (prev∪curr ROW_NUMBER collapse — the
    reference's exactly-once ingestion idiom,
    dags/dataswm/servicenow_api_extract.py:2328-2350), and atomically
    swap via overwrite-to-temp + rename-free rewrite. Returns the row
    count of the new target.

    At scale the same collapse runs per PARTITION via
    ``overwrite_partitions`` on the touched partitions only; this
    whole-table variant is the simple form for unpartitioned state
    tables (watermarks, dimension snapshots). With a real table format
    (Delta/Iceberg) this becomes a native MERGE INTO.
    """
    from ..operators.dedup import scd_latest

    spark = updates.sparkSession
    # Only a genuinely-missing path means "first write". A read error or a
    # schema mismatch on an EXISTING target must raise here — the old
    # broad except silently set merged=updates and the delete below then
    # destroyed the prior state. A swap interrupted mid-rename is
    # restored first for the same reason.
    _recover_interrupted_swap(spark, path, fmt)
    if _path_exists(spark, path):
        prev = spark.read.format(fmt).load(path)
        merged = prev.unionByName(updates, allowMissingColumns=False)
    else:
        merged = updates
    latest = scd_latest(merged, keys, version_col)
    # Never overwrite a path the plan still reads from (a cache-evicted
    # partition would recompute against deleted files): write the new
    # state to a staging path, then swap with a filesystem rename.
    staging = path.rstrip("/") + "__staging"
    latest.write.format(fmt).mode("overwrite").save(staging)
    # the count IS the validation read — __old is dropped only after it
    # succeeds, and a failed read rolls the partial install back
    return _install_and_validate(
        spark,
        staging,
        path,
        lambda: _count(spark.read.format(fmt).schema(latest.schema).load(path)),
    )


def compact_path(
    spark,
    path: str,
    target_mb: int = 128,
    partition_by: str | list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """Small-file compaction — the standing maintenance job every
    streaming/incremental sink needs: micro-batch appends and per-epoch
    upserts accrete files far below the ideal scan granule, and at 100 TB
    a scan's task count (and the namenode/liststatus load) is file-bound.
    Rewrites the dataset into ~``target_mb`` files (computed from the
    ACTUAL on-disk byte size, one ``getContentSummary`` call, not row
    counts), preserving values exactly, then atomically swaps via the
    same staging-rename as ``upsert_by_key`` so concurrent readers never
    observe a half-compacted path. The installed layout must hold every
    source row: its count is compared with the source's inside the swap's
    validation, so a mismatch rolls the install back to the parked copy.
    File counts come from the reads' own file indexes (one JVM call each).

    With ``partition_by`` the layout is rewritten partitioned and files
    coalesce WITHIN partitions: each partition value hashes to one of
    ``max(files, defaultParallelism)`` write tasks, so it gets one file
    (maxRecordsPerFile bounds stay with Spark's writer) and the tasks
    write in parallel. Idempotent: re-running on a compacted path is a
    no-op rewrite with the same file count.

    Returns {"files_before", "files_after", "rows", "bytes"}.
    """
    _recover_interrupted_swap(spark, path, fmt)
    fs, target = _hadoop_fs(spark, path)
    total_bytes = fs.getContentSummary(target).getLength()
    df = spark.read.format(fmt).load(path)
    before = len(df.inputFiles())
    rows = _count(df)
    n_files = max(int(total_bytes / (target_mb * 1024 * 1024)) + 1, 1)
    staging = path.rstrip("/") + "__compacting"
    parts = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    )
    if parts:
        # cluster rows of one partition into the same tasks so each
        # partition directory gets few, large files
        n_tasks = max(n_files, spark.sparkContext.defaultParallelism)
        out = df.repartition(n_tasks, *[F.col(c) for c in parts])
        writer = out.write.format(fmt).mode("overwrite").partitionBy(*parts)
    else:
        out = df.repartition(n_files)
        writer = out.write.format(fmt).mode("overwrite")
    writer.save(staging)

    def validate() -> int:
        # a full count is the validation read (a listing alone never
        # resolves footers, so it would pass a truncated install); only
        # after it matches the source is the parked layout dropped
        installed = spark.read.format(fmt).schema(df.schema).load(path)
        got = _count(installed)
        if got != rows:
            raise WriteValidationError(
                f"compacted {path} holds {got} rows, expected {rows}"
            )
        return len(installed.inputFiles())

    after = _install_and_validate(spark, staging, path, validate)
    return {
        "files_before": before,
        "files_after": after,
        "rows": rows,
        "bytes": total_bytes,
    }


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    fmt: str = "parquet",
) -> dict:
    """Materialize a training corpus as ``n_shards`` globally-ordered
    shard files plus a ``_manifest.json`` — the handoff artifact a data
    loader consumes (shard list, per-shard row counts, totals, the seed
    that reproduces the order).

    Order comes from ``sampling.epoch_shuffle``: the seeded hash key IS
    the global shuffle order, so ``repartitionByRange(n_shards, key)`` +
    ``sortWithinPartitions(key)`` lands the epoch totally ordered across
    shard files with ONE range exchange and no global rank bottleneck.
    Re-running with the same seed reproduces every shard bit-for-bit;
    a new epoch is a new seed. Per-shard counts come from the written
    files themselves (grouped on ``input_file_name``), so the manifest
    describes what is actually on disk.

    Returns the manifest dict: {"path", "format", "seed", "n_shards",
    "total_rows", "shards": [{"file", "rows"}...]} (also written to
    ``<path>/_manifest.json``, name underscore-prefixed so Spark scans
    skip it).
    """
    import json

    from ..operators.sampling import epoch_shuffle

    spark = df.sparkSession
    keyed = epoch_shuffle(df, id_col, seed=seed)
    (
        keyed.repartitionByRange(n_shards, "shuffle_key")
        .sortWithinPartitions("shuffle_key")
        .drop("shuffle_key")
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )
    per_file = (
        spark.read.format(fmt)
        .load(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    shards = sorted(
        ({"file": r["file"].rsplit("/", 1)[-1], "rows": r["rows"]} for r in per_file),
        key=lambda s: s["file"],
    )
    manifest = {
        "path": path,
        "format": fmt,
        "seed": seed,
        "n_shards": n_shards,
        "total_rows": sum(s["rows"] for s in shards),
        "shards": shards,
    }
    fs, hpath = _hadoop_fs(spark, path.rstrip("/") + "/_manifest.json")
    out = fs.create(hpath, True)
    out.write(bytearray(json.dumps(manifest, indent=2).encode()))
    out.close()
    return manifest


def write_single_file(df: DataFrame, path: str, fmt: str = "csv", header: bool = True) -> None:
    """coalesce(1) export for handoff files — never for large data."""
    w = df.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", str(header).lower())
    w.format(fmt).save(path)


def jdbc_execute_update(
    spark,
    url: str,
    sql: str,
    properties: dict[str, str] | None = None,
) -> int:
    """Run a driver-side DML/DDL statement over a raw JDBC connection (the
    reference's psycopg2 delete-before-append,
    windowed_lagN_awskms_postgres_date_partition.py:247-344). Uses the
    JVM's DriverManager so any driver already on Spark's classpath works
    without a Python DBAPI package. Returns the update count."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, str(v))
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            return stmt.executeUpdate(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str,
    partition_predicate: str,
    properties: dict[str, str] | None = None,
    target_parallelism: int = 5,
    delete_fn=None,
    write_fn=None,
    validate: bool = True,
) -> int:
    """Idempotent JDBC partition load: delete the target partition's rows,
    append the new rows with capped parallelism, then count-validate
    (reference: windowed_lagN_awskms_postgres_date_partition.py:247-344,
    fmaps_from_hive_insert_mysql.py:136-177 — repartition(5)/min(10) caps
    respect database connection limits).

    ``delete_fn(predicate)`` and ``write_fn(df)`` are injectable so tests
    can substitute fakes or the delete can run over a DBAPI driver; the
    defaults are the real thing — a driver-side ``DELETE`` through
    ``jdbc_execute_update`` and Spark's JDBC writer (driver jar must be on
    the classpath; Spark's bundled Derby exercises this end-to-end in
    tests/test_jdbc_derby.py). With ``validate`` the partition's post-write
    row count is read back through the same connection and compared."""
    spark = df.sparkSession
    df = df.cache()
    try:
        expected = df.count()
        if delete_fn is not None:
            delete_fn(partition_predicate)
        else:
            jdbc_execute_update(
                spark,
                url,
                f"DELETE FROM {table} WHERE {partition_predicate}",
                properties,
            )
        out = df.repartition(target_parallelism)
        if write_fn is not None:
            write_fn(out)
        else:
            out.write.mode("append").jdbc(url, table, properties=properties or {})
        if validate:
            from .readers import read_jdbc_pushdown

            # positional access — databases disagree on identifier case
            actual = read_jdbc_pushdown(
                spark,
                url,
                f"SELECT COUNT(*) AS n FROM {table} WHERE {partition_predicate}",
                properties,
            ).first()[0]
            if int(actual) != expected:
                raise WriteValidationError(
                    f"partition {partition_predicate!r} holds {actual} rows "
                    f"after load, expected {expected}"
                )
        return expected
    finally:
        df.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) catalog table.

    The 100 TB join strategy: two tables bucketed on the same key with the
    same bucket count join WITHOUT any shuffle — each bucket pairs off
    directly (sorted buckets also skip the sort). This replaces the
    reference's hand-tuned ``repartition(n)`` + shuffle-heavy joins for
    repeatedly-joined fact tables (SURVEY §4 shuffle-partition tuning).
    Requires a catalog table (``saveAsTable``) — bucketing metadata lives
    in the catalog.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *keys)
    if sort_by is not None:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def register_table(
    spark,
    name: str,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Register an external path as a catalog table (the reference's Glue
    register loop, glue_catolog_copy_register_tables.py:11-35)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} USING {fmt} LOCATION '{path}'"
    )
