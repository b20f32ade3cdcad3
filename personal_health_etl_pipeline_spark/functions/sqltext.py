"""SQL-text building blocks for projections built as one string.

A projection composed through the Python ``Column`` API costs several
py4j round trips per column and per operator (more under PySpark 4.1,
where every ``Column`` call also records its call site). A projection
written as SQL text is parsed JVM-side in one call — the idea
``similarity.lsh_bucket_sql`` and ``dedup.minhash_signature_sql``
document. These helpers make such text safe for any column name and
any string value or data type.
"""

from __future__ import annotations

from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampType


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier: dots, spaces and
    keywords are taken literally, and an inner backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal. Backslash is
    escaped first, then the quote, so both round-trip unchanged."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dtype: DataType) -> str:
    """``dtype`` as type text that parses back to the same type under
    any session setting: nested field names are quoted (a name may hold
    a space, a colon or a comma), and a timestamp is spelled
    ``timestamp_ltz`` (a bare ``timestamp`` follows
    ``spark.sql.timestampType``)."""
    if isinstance(dtype, StructType):
        fields = ",".join(
            f"{quote_ident(f.name)}:{sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dtype.fields
        )
        return f"struct<{fields}>"
    if isinstance(dtype, ArrayType):
        return f"array<{sql_type(dtype.elementType)}>"
    if isinstance(dtype, MapType):
        return f"map<{sql_type(dtype.keyType)},{sql_type(dtype.valueType)}>"
    if isinstance(dtype, TimestampType):
        return "timestamp_ltz"
    return dtype.simpleString()
