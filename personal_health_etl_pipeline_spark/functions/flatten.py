"""Recursive struct flattening (reference operator F1).

The reference flattens nested dicts into ``parent__child`` columns with a
recursive Python walk and serializes any list it meets to a JSON string
(reference ``transform.py:38-52`` — ``flatten_dict``). Here the same
semantics are a *pure projection* over a typed ``StructType``: Catalyst
sees ``a.b.c AS a__b__c``, so flattening costs nothing at runtime (no
UDF, no shuffle) and column pruning still reaches the scan. The
projection is built as SQL text (``functions.sqltext``), one ``selectExpr``
call however many leaves, with every name backtick-quoted.

Two array modes:

* ``arrays="keep"`` (engine-native): arrays stay ``ArrayType`` — the
  lossless, columnar-friendly representation.
* ``arrays="json"`` (warehouse-boundary parity): arrays are serialized
  with ``to_json``, matching the reference's ``json.dumps`` behavior
  (reference ``transform.py:47-49``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StructType

from personal_health_etl_pipeline_spark.functions.sqltext import quote_ident

SEP = "__"


def _flatten_field(
    expr: str, dtype, name: str, arrays: str, sep: str
) -> list[tuple[str, str]]:
    if isinstance(dtype, StructType):
        out: list[tuple[str, str]] = []
        for field in dtype.fields:
            out.extend(
                _flatten_field(
                    f"{expr}.{quote_ident(field.name)}",
                    field.dataType,
                    f"{name}{sep}{field.name}",
                    arrays,
                    sep,
                )
            )
        return out
    if isinstance(dtype, ArrayType) and arrays == "json":
        return [(name, f"to_json({expr})")]
    return [(name, expr)]


def flatten(
    df: DataFrame,
    sep: str = SEP,
    arrays: str = "keep",
    prefix: str | None = None,
) -> DataFrame:
    """Flatten all struct columns to ``parent{sep}child`` flat columns.

    ``prefix`` additionally namespaces every column (reference operator
    P3: ``{data_type}__{column}``, ``transform.py:80-89``), except
    columns listed in no-prefix position — callers that need a stable
    join key should apply :func:`prefix_columns` instead.
    """
    if arrays not in ("keep", "json"):
        raise ValueError(f"arrays must be 'keep' or 'json', got {arrays!r}")
    exprs: list[str] = []
    for field in df.schema.fields:
        for name, expr in _flatten_field(
            quote_ident(field.name), field.dataType, field.name, arrays, sep
        ):
            full = f"{prefix}{sep}{name}" if prefix else name
            exprs.append(f"{expr} AS {quote_ident(full)}")
    return df.selectExpr(*exprs)


def prefix_columns(
    df: DataFrame, prefix: str, exclude: tuple[str, ...] = ("day",), sep: str = SEP
) -> DataFrame:
    """Namespace columns as ``{prefix}{sep}{col}`` except join keys.

    Reference operator P3 (``transform.py:80-89``): every non-``day``
    column of a per-data-type frame is prefixed with the data type name
    before the multi-way combine join.
    """
    renamed = {c: c if c in exclude else f"{prefix}{sep}{c}" for c in df.columns}
    return df.selectExpr(
        *[f"{quote_ident(c)} AS {quote_ident(new)}" for c, new in renamed.items()]
    )


def unflatten_expr_map(schema: StructType, sep: str = SEP) -> dict[str, str]:
    """Map flat ``a__b__c`` names back to struct field paths ``a.b.c``.

    Library helper (SURVEY.md §4): lets callers write queries against the
    reference's flat column names while storing native structs.
    """
    out: dict[str, str] = {}

    def walk(dtype, flat: str, path: str):
        if isinstance(dtype, StructType):
            for field in dtype.fields:
                walk(field.dataType, f"{flat}{sep}{field.name}", f"{path}.{field.name}")
        else:
            out[flat] = path

    for field in schema.fields:
        walk(field.dataType, field.name, field.name)
    return out
