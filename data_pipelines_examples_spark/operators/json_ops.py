"""Semi-structured shredding: JSON-blob columns and map<string,string>
payload columns → typed columns.

Reference parity:
- ``(resource_name, json_value)`` raw tables shredded by JSON path with
  per-field casts — dags/dataswm/servicenow_api_extract.py:188-217,1706-1790
  (Presto ``JSON_EXTRACT_SCALAR``/``TRY_CAST`` → Spark ``get_json_object``
  + ``try_cast``).
- ``f map<string,string>`` payload tables subscripted per key —
  notebooks/databricks/python/hive_to_hive_cte.py:45-58,
  notebooks/databricks/python/fmaps_from_hive_insert_mysql.py:43-69.
- JSON string → MapType via ``from_json`` —
  notebooks/databricks/python/usage_analysis.py:75.

Scale note: get_json_object / from_json are codegen'd JVM expressions; a
shred is a pure projection (narrow, no shuffle) and column pruning drops
the raw blob immediately after the scan when only shredded fields are used.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Presto→Spark dialect mapping used when porting reference SQL:
#   JSON_EXTRACT_SCALAR(j, p) → get_json_object(j, p)
#   TRY_CAST(x AS T)          → try_cast via F.expr / Column.try_cast
#   CAST(JSON_EXTRACT(...) AS ARRAY(BIGINT)) → from_json(col, 'array<bigint>')
#   APPROX_DISTINCT           → approx_count_distinct

# Jackson extensions OFF → strict-JSON parse, the closest JVM-native match
# to other engines' json_valid (DuckDB, Presto). Measured disagreement set
# (round-5 string-injection gate): both reject single-quoted strings, bare
# tokens, and '' ; both accept standard JSON incl. whitespace padding;
# they still DISAGREE on trailing garbage ('{"k":5} x' — Jackson stops at
# the first complete value, DuckDB rejects) and non-numeric numbers
# ('{"k": NaN}' — DuckDB's json_valid accepts, Jackson-strict rejects).
# Those two shapes are out of the cross-engine parity contract.
_STRICT_JSON_OPTS = {"allowSingleQuotes": "false", "allowNonNumericNumbers": "false"}


def json_object_valid(col: Column) -> Column:
    """True when ``col`` parses as a STRICT JSON object (see
    ``_STRICT_JSON_OPTS``); NULL-safe (NULL → false)."""
    return F.from_json(col, "map<string,string>", _STRICT_JSON_OPTS).isNotNull()


def shred_json(
    df: DataFrame,
    json_col: str,
    spec: dict[str, str | tuple[str, str]],
    keep: list[str] | None = None,
    drop_source: bool = False,
    strict: bool = False,
) -> DataFrame:
    """Shred a JSON-string column into typed columns.

    ``spec`` maps output-column → JSON path (``'$.id'``) or (path, type)
    where type is a Spark SQL type string. Array/struct types route through
    ``from_json`` on the extracted fragment; scalars through
    ``get_json_object`` + ``try_cast`` (null on malformed, matching the
    reference's TRY_CAST semantics).

    ``strict=True`` additionally nulls every extracted field on rows whose
    blob fails ``json_object_valid`` — get_json_object alone is LENIENT
    (it extracts from single-quoted pseudo-JSON), so strict mode is what a
    cross-engine-reproducible pipeline wants (string-injection gate,
    round 5). Cost: top-level TYPED-scalar paths (``$.n`` as bigint) are
    read straight out of ONE strict map parse (the parse is the validity
    probe — no second pass; repeated from_json of the same blob collapses
    under codegen subexpression elimination); string-typed and nested
    paths pay a get_json_object guarded by the probe.

    Extraction-route contract (r5): a STRING-typed output always
    comes from ``get_json_object``, in strict and lenient mode alike —
    the map parse and the path extractor are different parsers, and for
    raw string outputs any divergence in how they serialize a nested
    value or resolve duplicate keys would surface verbatim (flipping
    ``strict`` must only change malformed-blob gating, never the
    extracted text). The map fast path is kept only where a final
    ``try_cast`` normalizes the lexical form anyway. The two routes are
    measured identical on Spark 4.1 across nested/dup-key/escape/bignum
    shapes (pinned by test_json_strict_routes_agree), so the restriction
    costs nothing today and removes the cross-parser drift surface.
    """
    strict_map = F.from_json(F.col(json_col), "map<string,string>", _STRICT_JSON_OPTS)
    cols: list[Column] = [F.col(c) for c in (keep if keep is not None else df.columns)]
    for out, path_spec in spec.items():
        if isinstance(path_spec, tuple):
            path, typ = path_spec
        else:
            path, typ = path_spec, "string"
        norm_typ = typ.strip().lower()
        is_nested_type = norm_typ.startswith(("array", "struct", "map"))
        is_string_type = norm_typ in ("string", "varchar", "char") or norm_typ.startswith(
            ("varchar(", "char(")
        )
        top_level = path.startswith("$.") and all(c not in path[2:] for c in ".[")
        if strict and top_level and not is_nested_type and not is_string_type:
            raw = strict_map.getItem(path[2:])
        else:
            raw = F.get_json_object(F.col(json_col), path)
            if strict:
                raw = F.when(strict_map.isNotNull(), raw)
        if is_nested_type:
            cols.append(F.from_json(raw, typ).alias(out))
        else:
            cols.append(raw.try_cast(typ).alias(out))
    out_df = df.select(*cols)
    if drop_source and json_col in out_df.columns:
        out_df = out_df.drop(json_col)
    return out_df


def map_payload_select(
    df: DataFrame,
    map_col: str,
    fields: dict[str, str | tuple[str, str]],
    keep: list[str] | None = None,
) -> DataFrame:
    """Project typed columns out of a ``map<string,string>`` payload column.

    ``fields`` maps output-column → map key or (key, type). Missing keys
    yield null (map subscript semantics), bad casts yield null (try_cast).
    """
    cols: list[Column] = [F.col(c) for c in (keep or [])]
    for out, key_spec in fields.items():
        if isinstance(key_spec, tuple):
            key, typ = key_spec
        else:
            key, typ = key_spec, "string"
        c = F.col(map_col).getItem(key)
        if typ != "string":
            c = c.try_cast(typ)
        cols.append(c.alias(out))
    return df.select(*cols)


def json_to_map(
    df: DataFrame, json_col: str, out_col: str | None = None, strict: bool = False
) -> DataFrame:
    """Parse a JSON-object string into ``map<string,string>``
    (the reference's clusterCustomTags pattern). ``strict=True`` turns
    off Jackson leniency (single quotes, NaN) so malformed blobs yield a
    NULL map identically to other engines' json_valid gate."""
    opts = _STRICT_JSON_OPTS if strict else {}
    return df.withColumn(
        out_col or json_col, F.from_json(F.col(json_col), "map<string,string>", opts)
    )
