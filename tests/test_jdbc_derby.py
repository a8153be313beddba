"""Live JDBC roundtrip over Spark's bundled Derby (in-memory, same JVM).

Un-gates SURVEY §2.1 S10 (JDBC scan + pushdown subquery) and K6 (JDBC sink
with delete-partition idempotency) for real: no fakes, the actual Spark JDBC
reader/writer and a driver-side DELETE run against an embedded database,
matching the reference's delete→append→count-validate partition load
(windowed_lagN_awskms_postgres_date_partition.py:247-344,
fmaps_from_hive_insert_mysql.py:136-177).

Derby's in-memory database is JVM-wide, so local-mode executor threads and
the driver see the same store — the same topology as a remote database on a
real cluster, minus the network.
"""

from __future__ import annotations

import pytest

from data_pipelines_examples_spark.sources.readers import read_jdbc_pushdown
from data_pipelines_examples_spark.sources.writers import (
    WriteValidationError,
    jdbc_execute_update,
    write_jdbc_idempotent,
)

DB = "jdbc:derby:memory:jdbctest"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture()
def derby(spark):
    jdbc_execute_update(spark, DB + ";create=true", "CREATE TABLE target (load_date INT, k INT, v DOUBLE)")
    yield DB
    try:
        jdbc_execute_update(spark, DB, "DROP TABLE target")
    except Exception:  # noqa: BLE001 — table may not survive a failed test
        pass


def _partition(spark, load_date: int, n: int):
    return spark.createDataFrame(
        [(load_date, i, float(i) * 1.5) for i in range(n)],
        "load_date int, k int, v double",
    )


def test_jdbc_partition_load_roundtrip_idempotent(spark, derby):
    """K6: delete → append → count-validate, re-run converges (idempotent)."""
    d1 = _partition(spark, 20240101, 3)
    d2 = _partition(spark, 20240102, 2)
    assert write_jdbc_idempotent(d1, derby, "target", "load_date = 20240101", PROPS) == 3
    assert write_jdbc_idempotent(d2, derby, "target", "load_date = 20240102", PROPS) == 2
    # re-running the SAME partition load must not duplicate rows
    assert write_jdbc_idempotent(d1, derby, "target", "load_date = 20240101", PROPS) == 3
    total = read_jdbc_pushdown(
        spark, derby, "SELECT COUNT(*) AS n FROM target", PROPS
    ).first()[0]
    assert int(total) == 5


def test_jdbc_pushdown_subquery(spark, derby):
    """S10: the aggregation executes inside the database; only its result
    crosses into Spark."""
    write_jdbc_idempotent(
        _partition(spark, 20240101, 4), derby, "target", "load_date = 20240101", PROPS
    )
    write_jdbc_idempotent(
        _partition(spark, 20240102, 6), derby, "target", "load_date = 20240102", PROPS
    )
    got = {
        int(r[0]): (int(r[1]), float(r[2]))
        for r in read_jdbc_pushdown(
            spark,
            derby,
            "SELECT load_date, COUNT(*) AS n, SUM(v) AS sv FROM target GROUP BY load_date",
            PROPS,
        ).collect()
    }
    assert got == {
        20240101: (4, sum(i * 1.5 for i in range(4))),
        20240102: (6, sum(i * 1.5 for i in range(6))),
    }


def test_jdbc_validation_catches_shortfall(spark, derby):
    """The count-validation reads the partition back through the same
    connection — a concurrent writer shrinking the partition surfaces as a
    WriteValidationError instead of silent divergence."""
    d1 = _partition(spark, 20240101, 3)

    def write_then_tamper(out):
        out.write.mode("append").jdbc(derby, "target", properties=PROPS)
        jdbc_execute_update(spark, derby, "DELETE FROM target WHERE k = 0")

    with pytest.raises(WriteValidationError):
        write_jdbc_idempotent(
            d1, derby, "target", "load_date = 20240101", PROPS, write_fn=write_then_tamper
        )


def _jobs(spark, group: str, fn):
    """(fn's result, the number of Spark jobs it ran under its own group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_jdbc_load_counts_after_the_write(spark, derby):
    """The source is counted after the write has filled its cache: the
    same count as counting first (the earlier order, written out here),
    one Spark job fewer."""
    pred = "load_date = 20240101"

    def count_first():
        df = _partition(spark, 20240101, 7).cache()
        try:
            expected = df.count()
            jdbc_execute_update(spark, derby, f"DELETE FROM target WHERE {pred}")
            df.repartition(5).write.mode("append").jdbc(derby, "target", properties=PROPS)
            actual = read_jdbc_pushdown(
                spark, derby, f"SELECT COUNT(*) AS n FROM target WHERE {pred}", PROPS
            ).first()[0]
            assert int(actual) == expected
            return expected
        finally:
            df.unpersist()

    want, ref_jobs = _jobs(spark, "jdbc-count-first", count_first)
    got, jobs = _jobs(
        spark,
        "jdbc-count-after",
        lambda: write_jdbc_idempotent(
            _partition(spark, 20240101, 7), derby, "target", pred, PROPS
        ),
    )
    assert got == want == 7
    assert jobs == ref_jobs - 1, (jobs, ref_jobs)
