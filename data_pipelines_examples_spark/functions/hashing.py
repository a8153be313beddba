"""Cross-engine portable 64-bit hashing.

The fast path for corpus-scale fingerprinting is ``xxhash64`` (JVM
intrinsic, zero-copy). It has no DuckDB equivalent, so any operator whose
output the oracle gate must reproduce uses this portable variant instead:

    h64(s) = first 15 hex chars of md5(s), parsed as a 60-bit integer

md5 is bit-identical in Spark (``F.md5``) and DuckDB (``md5``), both
hashing the UTF-8 bytes, and 15 hex chars (60 bits) always fit a signed
BIGINT, so the value is reproducible across engines and never negative.
Seeded variants prepend ``"{seed}:"`` — cheap domain separation that both
engines express as plain string concat.

Operators take a ``hash_how`` switch: ``"xxhash64"`` (default — the 100 TB
path) or ``"portable"`` (oracle-checked catalog queries). Values differ
between the two, but every derived structure (minhash signatures, simhash
fingerprints, winnowing fingerprints) keeps the same distributional
properties.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(c: Column) -> Column:
    """60-bit md5-prefix hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash64_seeded(c: Column, seed: int) -> Column:
    return portable_hash64(F.concat(F.lit(f"{seed}:"), c))


def hash64(c: Column, seed: int | None = None, how: str = "xxhash64") -> Column:
    """Dispatch: xxhash64 (fast, JVM) or portable (oracle-reproducible)."""
    if how == "xxhash64":
        return F.xxhash64(c) if seed is None else F.xxhash64(c, F.lit(seed))
    if how == "portable":
        return portable_hash64(c) if seed is None else portable_hash64_seeded(c, seed)
    raise ValueError(f"unknown hash_how: {how!r}")


def hash64_sql(expr: str, seed: int | None = None, how: str = "xxhash64") -> str:
    """Spark SQL text computing ``hash64`` of the SQL expression ``expr``.

    The text form lets an operator build a whole projection as one parsed
    expression (``selectExpr``/``F.expr``) instead of one py4j round trip
    per Column node. The parsed trees equal the ``hash64`` Column trees,
    so the values are identical on both paths."""
    if how == "xxhash64":
        return f"xxhash64({expr})" if seed is None else f"xxhash64({expr}, {int(seed)})"
    if how == "portable":
        if seed is not None:
            expr = f"concat('{int(seed)}:', {expr})"
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    raise ValueError(f"unknown hash_how: {how!r}")


def sql_hash64(expr: str) -> str:
    """DuckDB SQL text computing the same value as ``portable_hash64``."""
    return f"('0x'||substr(md5({expr}),1,15))::BIGINT"


def sql_hash64_seeded(expr: str, seed: int) -> str:
    return sql_hash64(f"'{seed}:'||{expr}")
