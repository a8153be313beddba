"""Correctness checks, all run outside the timed windows.

A query output's fingerprint is ``(count, bit_xor(xxhash64(struct(*))))``:
an exact, order-independent fold over every column, so it is the same in
every pass and on every partitioning. Reference results come from DuckDB
(the catalog's ``oracle_sql()`` for the read workloads, hand-written SQL
over the landing files for the ingest workload); they are loaded into
Spark, cast to the Spark output's column types and fingerprinted the same
way, so a fingerprint match is a value-for-value match.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def fingerprint_expr(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
    )


def fingerprint(df: DataFrame) -> tuple[int, int | None]:
    row = fingerprint_expr(df).first()
    return row["n"], row["h"]


def duckdb_with_tables(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def tables_read(oracle_sql: str) -> list[str]:
    """Input tables an oracle query scans (each counted once)."""
    return [t for t in TABLES if re.search(rf"\b{t}\b", oracle_sql)]


def reference_fingerprint(spark, arrow_table, schema) -> tuple[int, int | None]:
    """Fingerprint a DuckDB result as if Spark had produced it: columns
    matched by case-insensitive name, in ``schema``'s order and types."""
    if arrow_table.num_rows == 0:
        return 0, None
    ref = spark.createDataFrame(arrow_table)
    by_lower = {c.lower(): c for c in ref.columns}
    names = [f.name for f in schema]
    if len(ref.columns) != len(names) or any(n.lower() not in by_lower for n in names):
        raise ValueError(f"reference columns {ref.columns} != {names}")
    return fingerprint(
        ref.select(
            *[F.col(by_lower[f.name.lower()]).cast(f.dataType).alias(f.name) for f in schema]
        )
    )
