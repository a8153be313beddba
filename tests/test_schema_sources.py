"""Tests for schema compilers, readers, writers, DQ rules, and scalar functions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_examples_spark.dq.rules import (
    DQRule,
    distinct_drift,
    new_values,
    run_rules,
)
from data_pipelines_examples_spark.functions.udfs import (
    add_days_str,
    fiscal_yyyymm,
    has_unallowable_chars,
    julian_to_date,
    last_day_of_month,
    parse_date_strict,
    parse_log_record,
)
from data_pipelines_examples_spark.schema import (
    align_to_schema,
    schema_from_ddl,
    schema_from_fields,
)
from data_pipelines_examples_spark.sources.readers import read_paginated_api
from data_pipelines_examples_spark.sources.writers import (
    overwrite_partitions,
    write_validated,
)


def test_schema_from_fields():
    s = schema_from_fields("id,name,amount", "bigint,string,decimal(10,2)", keys="id")
    assert s["id"].dataType == T.LongType() and not s["id"].nullable
    assert s["amount"].dataType == T.DecimalType(10, 2)
    assert s["name"].nullable


def test_align_to_schema(spark):
    df = spark.createDataFrame([(1, "x")], "id int, name string")
    target = schema_from_ddl("id bigint, name string, extra double")
    out = align_to_schema(df, target)
    assert [f.dataType for f in out.schema.fields] == [
        T.LongType(), T.StringType(), T.DoubleType()
    ]
    assert out.first().extra is None


def test_paginated_api_reader(spark):
    pages = {0: [{"id": 1}, {"id": 2}], 1: [{"id": 3}]}

    def fetch(page):
        return pages[page], page < 1

    df = read_paginated_api(spark, fetch, "id bigint")
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]


def test_paginated_api_retries(spark):
    attempts = []

    def fetch(page):
        attempts.append(page)
        if len(attempts) < 3:
            raise RuntimeError("flaky")
        return [{"id": 7}], False

    df = read_paginated_api(spark, fetch, "id bigint", backoff_seconds=0.01)
    assert [r.id for r in df.collect()] == [7]
    assert len(attempts) == 3


def test_write_validated_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("p", (F.col("id") % 3).cast("int"))
    n = write_validated(df, str(tmp_path / "out"), partition_by="p")
    assert n == 100


def test_write_validated_append_counts_delta(spark, tmp_path):
    """Append validates (and returns) the rows written by THIS call, not
    the cumulative target count."""
    path = str(tmp_path / "appendable")
    assert write_validated(spark.range(40), path, mode="append") == 40
    assert write_validated(spark.range(25), path, mode="append") == 25
    assert spark.read.parquet(path).count() == 65


def test_write_validated_dynamic_overwrite_counts_written_partition(spark, tmp_path):
    """A partitioned overwrite onto an existing table replaces only the
    partitions it writes (dynamic mode, the session default): it
    validates and returns those rows, not the whole table's."""
    path = str(tmp_path / "dyn")
    p1 = spark.range(10).withColumn("p", F.lit(1))
    p2 = spark.range(5).withColumn("p", F.lit(2))
    assert write_validated(p1, path, partition_by="p") == 10
    assert write_validated(p2, path, partition_by="p") == 5
    got = spark.read.parquet(path).groupBy("p").count().collect()
    assert {(r.p, r["count"]) for r in got} == {(1, 10), (2, 5)}


def test_writers_keep_partition_values_that_need_escaping(spark, tmp_path):
    """Partition directories escape these values and file listings
    URI-escape the paths again: an append, a dynamic overwrite and a
    compaction must still find the files they wrote and keep every row
    and value."""
    from data_pipelines_examples_spark.sources.writers import compact_path

    vals = ["a b", "c:d", "e/f", "g%h", "%20", "i=j", "ü ñ", None]
    key = lambda r: (r[0], r[1] is None, r[1] or "")  # noqa: E731

    def rows_of(lo, hi, some=vals):
        return [(i, some[i % len(some)]) for i in range(lo, hi)]

    def table():
        return sorted(map(tuple, spark.read.parquet(path).select("id", "p").collect()), key=key)

    path = str(tmp_path / "esc")
    schema = "id bigint, p string"
    assert write_validated(
        spark.createDataFrame(rows_of(0, 16), schema), path, mode="append", partition_by="p"
    ) == 16
    assert write_validated(
        spark.createDataFrame(rows_of(16, 40), schema), path, mode="append", partition_by="p"
    ) == 24
    assert table() == sorted(rows_of(0, 40), key=key)

    # dynamic overwrite of half the values: those partitions now hold
    # only the new rows, the others keep theirs
    replaced = vals[::2]
    over = rows_of(100, 112, replaced)
    assert write_validated(
        spark.createDataFrame(over, schema), path, partition_by="p"
    ) == 12
    want = sorted([r for r in rows_of(0, 40) if r[1] not in replaced] + over, key=key)
    assert table() == want

    stats = compact_path(spark, path, partition_by="p")
    assert stats["rows"] == len(want)
    assert stats["files_after"] == len(vals)  # one file per partition value
    assert table() == want


def test_compact_path_rolls_back_an_install_that_lost_rows(spark, tmp_path, monkeypatch):
    """The compacted layout is counted against the source inside the
    swap's validation: a staging file lost before the install makes the
    call raise and restores the original rows."""
    from pathlib import Path

    import pytest

    from data_pipelines_examples_spark.sources import writers

    path = str(tmp_path / "lossy")
    df = spark.range(60).withColumn("part", (F.col("id") % 3).cast("int"))
    for i in range(3):
        df.filter(F.col("id") % 3 == i).write.mode("append").parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    install = writers._install_and_validate

    def lose_one_file(spark_, staging, target, validate):
        next(Path(staging).rglob("part-*.parquet")).unlink()
        return install(spark_, staging, target, validate)

    monkeypatch.setattr(writers, "_install_and_validate", lose_one_file)
    with pytest.raises(writers.WriteValidationError, match="expected 60"):
        writers.compact_path(spark, path, partition_by="part")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    assert not Path(path + "__old").exists()


def test_overwrite_partitions_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string")
    base.write.partitionBy("p").parquet(path)
    # replace only partition p=a with new content
    repl = spark.createDataFrame([(10, "a")], "v int, p string")
    overwrite_partitions(repl, path, "p")
    got = {(r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == {(10, "a"), (2, "b")}


def test_dq_rules(spark):
    df = spark.createDataFrame(
        [(1, 5, 3), (2, 2, 4), (3, None, 1)], "id int, shipped int, ordered int"
    )
    report, audit = run_rules(
        df,
        [
            DQRule("shipped_gt_ordered", "shipped > ordered"),
            DQRule("null_shipped", "shipped IS NULL"),
            DQRule("never_fires", "id < 0"),
        ],
        audit_cols=["id"],
    )
    by_name = {r.rule.name: r.n_violations for r in report.results}
    assert by_name == {"shipped_gt_ordered": 1, "null_shipped": 1, "never_fires": 0}
    assert not report.passed
    assert {(r.id, r.rule_name) for r in audit.collect()} == {
        (1, "shipped_gt_ordered"), (3, "null_shipped")
    }


def test_dq_rules_single_job(spark):
    """N rules must cost ONE Spark job (one scan), not N+1 — the
    conditional-aggregation rewrite of the per-rule count() loop."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(i, i % 7) for i in range(1000)], "id int, v int")

    def jobs_for(n_rules: int, group: str):
        rules = [DQRule(f"r{k}", f"v = {k}") for k in range(n_rules)]
        sc.setJobGroup(group, "dq rule evaluation")
        try:
            report, _ = run_rules(df, rules)
        finally:
            sc.setJobGroup(None, None)
        return report, len(sc.statusTracker().getJobIdsForGroup(group))

    _, jobs1 = jobs_for(1, "dq-1rule")
    report, jobs8 = jobs_for(8, "dq-8rules")
    # AQE may split the aggregate into a couple of stage-jobs, but the job
    # count must be O(1) in the rule count (the old loop was N+1 jobs).
    assert jobs8 == jobs1 <= 2, f"job count grew with rules: {jobs1} -> {jobs8}"
    assert {r.rule.name: r.n_violations for r in report.results} == {
        f"r{k}": (143 if k < 6 else 142) if k < 7 else 0 for k in range(8)
    }
    assert all(r.n_total == 1000 for r in report.results)


def test_distinct_drift_and_new_values(spark):
    today = spark.createDataFrame([(i % 10,) for i in range(100)], "v int")
    yesterday = spark.createDataFrame([(i % 9,) for i in range(100)], "v int")
    drift = distinct_drift(today, yesterday, ["v"])
    a, b, ok = drift["v"]
    assert ok and abs(a - 10) <= 1 and abs(b - 9) <= 1
    nv = new_values(today, yesterday, "v")
    assert [r.v for r in nv.collect()] == [9]


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("20231115", "3100", "na#me")], "d string, jul string, s string"
    )
    row = df.select(
        fiscal_yyyymm("d").alias("fy"),
        parse_date_strict("d").alias("pd"),
        parse_date_strict(F.lit("20230230")).alias("bad"),
        julian_to_date("jul").alias("jd"),
        add_days_str("d", 17).alias("plus"),
        last_day_of_month("d", "yyyyMMdd").alias("eom"),
        has_unallowable_chars("s").alias("ua"),
    ).first()
    assert row.fy == "202402"  # Nov 2023 → FY month 2
    assert row.pd == dt.date(2023, 11, 15)
    assert row.bad is None
    assert row.jd == dt.date(2023, 4, 10)  # '3' → 2023, day 100
    assert row.plus == "20231202"
    assert row.eom == dt.date(2023, 11, 30)
    assert row.ua is True


def test_parse_log_record(spark):
    line = (
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /index.html HTTP/1.0" '
        '200 2326 "http://ref.example" "Mozilla/4.08"'
    )
    df = spark.createDataFrame([(line,), ("malformed junk",)], "value string")
    rows = parse_log_record(df).collect()
    ok = next(r for r in rows if r.ip == "127.0.0.1")
    assert ok.status == 200 and ok.bytes == 2326 and ok.request.startswith("GET")
    bad = next(r for r in rows if r.ip != "127.0.0.1")
    assert bad.status is None


def test_upsert_by_key(spark, tmp_path):
    from data_pipelines_examples_spark.sources.writers import upsert_by_key

    path = str(tmp_path / "state")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k int, v string, version int"
    )
    assert upsert_by_key(v1, path, "k", "version") == 2
    # update key 1, insert key 3; key 2 untouched
    v2 = spark.createDataFrame(
        [(1, "a2", 20), (3, "c", 20)], "k int, v string, version int"
    )
    assert upsert_by_key(v2, path, "k", "version") == 3
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a2"), (2, "b"), (3, "c")}
    # re-running the same batch is idempotent
    assert upsert_by_key(v2, path, "k", "version") == 3


def test_upsert_by_key_schema_mismatch_preserves_target(spark, tmp_path):
    """A schema-mismatched update batch must RAISE and leave the existing
    target untouched — the old broad except treated any failure as 'fresh
    path' and then deleted the prior state (silent data loss)."""
    import pytest

    from data_pipelines_examples_spark.sources.writers import upsert_by_key

    path = str(tmp_path / "state")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k int, v string, version int"
    )
    assert upsert_by_key(v1, path, "k", "version") == 2
    bad = spark.createDataFrame([(1, 20)], "k int, version int")  # missing column v
    with pytest.raises(Exception):
        upsert_by_key(bad, path, "k", "version")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b")}, "prior state must survive a failed upsert"


def test_simhash_portable_num_bits_guard(spark):
    """hash_how='portable' produces a 60-bit hash; asking for more bits
    would silently zero the top band's votes — must raise."""
    import pytest

    from data_pipelines_examples_spark.operators.dedup import simhash_fingerprints

    df = spark.createDataFrame([("d1", "some text")], "doc_id string, text string")
    with pytest.raises(ValueError, match="60-bit"):
        simhash_fingerprints(df, hash_how="portable", num_bits=64)


def test_format_sink_roundtrip_orc_json_csv(spark, tmp_path):
    """K2: the format/mode-driven sink writes and reads back every built-in
    columnar/text format available without extra jars."""
    from data_pipelines_examples_spark.sources.writers import write_partitioned

    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1")], "id int, v string, p string"
    )
    for fmt in ("orc", "json", "csv"):
        path = str(tmp_path / fmt)
        write_partitioned(df, path, "p", fmt=fmt)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.schema("id int, v string").option("header", "false")
        got = reader.load(path)
        assert got.count() == 3
        # partition column recovered from the directory layout
        assert set(got.select("p").distinct().toPandas()["p"]) == {"p1", "p2"}


def test_read_mongo_injectable_fetch(spark):
    """S11: the Mongo seam through an injected fetch (the pymongo-cursor
    pattern); the connector path needs the jar, absent here."""
    from data_pipelines_examples_spark.sources.readers import read_mongo

    rows = [
        {"k": 1, "paid_at": dt.datetime(2024, 1, 2)},
        {"k": 2, "paid_at": dt.datetime(2024, 1, 5)},
    ]
    df = read_mongo(
        spark,
        "mongodb://unused",
        "db",
        "coll",
        schema="k int, paid_at timestamp",
        fetch_fn=lambda: rows,
    )
    assert df.count() == 2 and set(df.columns) == {"k", "paid_at"}


def test_sensor_status_tristate(spark):
    from data_pipelines_examples_spark.pipeline import sensor_status

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5))], "k int, paid_at timestamp"
    )
    empty = df.filter("k < 0")
    assert sensor_status(empty, "paid_at", dt.datetime(2024, 1, 1)) == "failed"
    assert sensor_status(df, "paid_at", dt.datetime(2024, 1, 1)) == "run"
    assert sensor_status(df, "paid_at", dt.datetime(2024, 1, 5)) == "retry"


def test_read_jsonl_quarantine_routes_corrupt_lines(spark, tmp_path):
    from data_pipelines_examples_spark.sources.readers import read_jsonl_quarantine

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json at all\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "NOT_A_NUMBER", "v": "c"}\n'
    )
    good, bad = read_jsonl_quarantine(spark, str(p), "id bigint, v string")
    g = sorted((r["id"], r["v"]) for r in good.collect())
    assert g == [(1, "a"), (2, "b")]
    assert good.columns == ["id", "v"]
    raws = sorted(r["raw_line"] for r in bad.collect())
    assert raws == ["this is not json at all", '{"id": "NOT_A_NUMBER", "v": "c"}']


def test_upsert_by_key_recovers_interrupted_swap(spark, tmp_path):
    """Crash window between the swap's two renames: state parked at
    __old, staging never installed. The next upsert must restore and
    merge against FULL history — not treat the missing target as a
    first write (which would then delete the only surviving copy)."""
    import shutil

    from data_pipelines_examples_spark.sources.writers import upsert_by_key

    path = str(tmp_path / "state")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k int, v string, version int"
    )
    upsert_by_key(v1, path, "k", "version")
    shutil.move(path, path + "__old")  # simulate the crash
    v2 = spark.createDataFrame([(3, "c", 20)], "k int, v string, version int")
    assert upsert_by_key(v2, path, "k", "version") == 3
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_compact_path_recovers_interrupted_swap(spark, tmp_path):
    import shutil

    from data_pipelines_examples_spark.sources.writers import compact_path

    path = str(tmp_path / "data")
    spark.range(100).repartition(8).write.parquet(path)
    shutil.move(path, path + "__old")
    stats = compact_path(spark, path, target_mb=128)
    assert stats["rows"] == 100
    assert spark.read.parquet(path).count() == 100
