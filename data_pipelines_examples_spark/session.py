"""SparkSession factory with tuned configuration profiles.

The reference pipelines hand-tune a consistent set of Spark confs
(reference: notebooks/databricks/sql/sas_conversion_with_manual_salt_skewed_join.sql:3-27,
notebooks/databricks/python/partiton_by_date_load_to_parquet_from_s3.py:29-32):
shuffle partitions, AQE skew-join + partition coalescing, broadcast
threshold, input split size. We expose those as named profiles and default
to a local[32] test profile whose knobs scale down sanely.

At 100 TB / 1000-executor scale the ``cluster`` profile applies: large
shuffle-partition counts (AQE coalesces down at runtime), 50 MB broadcast
threshold, small input splits so scans parallelize, and adaptive skew-join
so one hot key cannot stall a stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs shared by every profile. AQE on: runtime partition coalescing,
# skew-join splitting, and dynamic join-strategy switching are exactly the
# mitigations the reference hand-implements (manual salting, hand-set
# partition counts).
_COMMON: dict[str, str] = {
    # The reference corpus is Hive/Databricks-era pipelines that rely on
    # permissive null-on-bad-input semantics (TRY_CAST, to_date → null);
    # Spark 4's ANSI default would throw instead.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Let AQE coalesce the top shuffle of a CACHED plan too. Off (Spark's
    # default), every `persist_internal` frame keeps all
    # `shuffle.partitions` (32 local, 2,560 cluster) however few rows it
    # holds, and each later stage over it runs that many tasks. Spark's
    # reason for the default — a join on the cache's own shuffle key may
    # then need a re-shuffle — does not bite the library's persists: no
    # catalog plan gains an Exchange with it on.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Dynamic partition overwrite = idempotent per-partition re-runs
    # (the reference's INSERT OVERWRITE ... PARTITION / replaceWhere idiom).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark 4 rejects by default; read as long nanos and convert explicitly
    # (see queries.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

PROFILES: dict[str, dict[str, str]] = {
    # Local test/dev profile — used by tests and bench on local[32].
    "local": {
        **_COMMON,
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": str(50 * 1024 * 1024),
        "spark.driver.memory": "8g",
        # Local mode shares ONE 8g JVM between driver and executors, so
        # executed broadcast relations (hundreds of MB in-heap at the
        # 100x replica rung) must be reclaimed promptly once their
        # Python handles drop; the ContextCleaner only frees a broadcast
        # after a JVM GC proves it unreachable, and the default periodic
        # GC (30min) can lag an entire bench run. Measured: the 34-query
        # 100x sweep OOMed a shared session around query 16 at the
        # default; 2min keeps it alive. Irrelevant on a real cluster
        # (executors own their heaps), harmless to leave set.
        "spark.cleaner.periodicGC.interval": "2min",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    },
    # Cluster profile — the reference's tuned confs, intended for a real
    # multi-executor deployment at large SF.
    "cluster": {
        **_COMMON,
        "spark.sql.shuffle.partitions": "2560",
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(50 * 1024 * 1024),
        # Runtime Bloom-filter join pruning: when one join side is
        # selective, a bloom filter built from it prunes the big side's
        # scan at the shuffle — the engine-level version of the manual
        # "collect keys then IN-filter" idiom the reference hand-writes.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # RocksDB state store: streaming aggregation/join/dedup state on
        # native disk-backed storage instead of the executor JVM heap —
        # the difference between "state fits until it doesn't" and
        # bounded memory at 100 TB-scale key cardinality.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    },
}


def get_session(
    app_name: str = "data-pipelines-examples-spark",
    master: str | None = None,
    profile: str = "local",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the given config profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry point works for the driver's verify harness and a
    real cluster (where ``master`` is simply not local).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(PROFILES.get(profile, PROFILES["local"]))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_testdata(spark: SparkSession, sf_dir: str, *names: str):
    """Register the driver's parquet tables as temp views; return dict of DFs.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).
    """
    all_names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for name in all_names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
