"""Schema system: JSON-schema -> StructType and alignment operators.

The reference declares warehouse schemas as JSON arrays of
``{name, type, mode}`` (reference ``schemas/oura/oura_day.json``, loaded
by ``load.py:65-89``) and reconciles incoming frames against them:

* C1 schema diff   (``load.py:105-118``)
* C2 extra-column hard error (``load.py:133-139``)
* C3 null-fill of missing columns (``load.py:178-181``)
* C5 schema-driven type coercion (``transform.py:96-111``)

Here those are set operations on ``StructType`` plus a single
projection — one Catalyst pass, no row-at-a-time work. The projection
is SQL text (one ``selectExpr`` call, not a ``Column`` chain per
column; see ``functions.sqltext``).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from personal_health_etl_pipeline_spark.functions.sqltext import quote_ident, sql_type

# BigQuery-style type names -> Spark types (SURVEY.md §1.2)
_TYPE_MAP: dict[str, DataType] = {
    "DATE": DateType(),
    "TIMESTAMP": TimestampType(),
    "FLOAT64": DoubleType(),
    "FLOAT": DoubleType(),
    "INT64": LongType(),
    "INTEGER": LongType(),
    "STRING": StringType(),
    "BOOLEAN": BooleanType(),
    "BOOL": BooleanType(),
}


class SchemaError(ValueError):
    """Raised on malformed schema files or alignment violations."""


def struct_from_json_schema(fields: list[dict]) -> StructType:
    """Convert a ``[{name,type,mode}, ...]`` JSON schema to StructType."""
    out = []
    for i, field in enumerate(fields):
        if not isinstance(field, dict) or "name" not in field or "type" not in field:
            raise SchemaError(f"invalid schema entry at index {i}: {field!r}")
        type_name = str(field["type"]).upper()
        if type_name not in _TYPE_MAP:
            raise SchemaError(f"unsupported type {field['type']!r} for {field['name']!r}")
        nullable = str(field.get("mode", "NULLABLE")).upper() != "REQUIRED"
        out.append(StructField(field["name"], _TYPE_MAP[type_name], nullable))
    return StructType(out)


def load_json_schema(path: str | Path) -> StructType:
    """S9: read a JSON schema file -> StructType; invalid format -> error."""
    try:
        fields = json.loads(Path(path).read_text())
    except (OSError, json.JSONDecodeError) as exc:
        raise SchemaError(f"cannot read schema file {path}: {exc}") from exc
    if not isinstance(fields, list):
        raise SchemaError(f"schema file {path} must contain a JSON array")
    return struct_from_json_schema(fields)


def schema_diff(df: DataFrame, target: StructType) -> tuple[set[str], set[str]]:
    """C1: (missing_from_df, extra_in_df) vs the target schema."""
    have = set(df.columns)
    want = {f.name for f in target.fields}
    return want - have, have - want


def align_to_schema(
    df: DataFrame, target: StructType, strict_extra: bool = True
) -> DataFrame:
    """Align a frame to the declared warehouse schema.

    * extra columns: hard error when ``strict_extra`` (C2), else dropped;
    * missing columns: added as typed NULLs (C3);
    * present columns: cast to the declared type (C5);
    * output column order = schema order.
    """
    missing, extra = schema_diff(df, target)
    if extra and strict_extra:
        raise SchemaError(
            f"DataFrame has columns not in the declared schema: {sorted(extra)}"
        )
    return df.selectExpr(
        *[
            f"CAST({'NULL' if f.name in missing else quote_ident(f.name)}"
            f" AS {sql_type(f.dataType)}) AS {quote_ident(f.name)}"
            for f in target.fields
        ]
    )
