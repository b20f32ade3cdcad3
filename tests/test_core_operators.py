"""Golden-output unit tests for engine library semantics the oracle
differential can't reach: error paths, NULL edge cases, constructed
duplicates (SURVEY.md §5 plan, item 2/3)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from personal_health_etl_pipeline_spark.functions.casts import (
    InvalidDateError,
    arrays_to_json,
    to_date_strict,
    to_timestamp_coerce,
)
from personal_health_etl_pipeline_spark.functions.flatten import (
    flatten,
    prefix_columns,
    unflatten_expr_map,
)
from personal_health_etl_pipeline_spark.operators.combine import combine_on_key
from personal_health_etl_pipeline_spark.operators.conflict import (
    DuplicateKeyError,
    assert_unique_key,
)
from personal_health_etl_pipeline_spark.operators.dedup import dedup_exact
from personal_health_etl_pipeline_spark.operators.incremental import (
    filter_after_watermark,
    max_watermark,
    new_keys,
)
from personal_health_etl_pipeline_spark.schema import (
    SchemaError,
    align_to_schema,
    load_json_schema,
    struct_from_json_schema,
)


def test_flatten_nested_struct(spark):
    df = spark.createDataFrame(
        [(1, ("a", (2.0, "x")))],
        "id int, s struct<p: string, q: struct<v: double, t: string>>",
    )
    flat = flatten(df)
    assert flat.columns == ["id", "s__p", "s__q__v", "s__q__t"]
    row = flat.first()
    assert (row["s__p"], row["s__q__v"], row["s__q__t"]) == ("a", 2.0, "x")


def test_flatten_arrays_json_mode(spark):
    df = spark.createDataFrame([(1, [1, 2, 3])], "id int, xs array<int>")
    keep = flatten(df, arrays="keep")
    assert dict(keep.dtypes)["xs"] == "array<int>"
    js = flatten(df, arrays="json")
    assert dict(js.dtypes)["xs"] == "string"
    assert js.first()["xs"] == "[1,2,3]"
    # null-safety: reference's json.dumps guard (`if x is not None`)
    nulldf = spark.createDataFrame([(2, None)], "id int, xs array<int>")
    assert flatten(nulldf, arrays="json").first()["xs"] is None


def test_unflatten_expr_map(spark):
    df = spark.createDataFrame(
        [(1, (2.0, ("y",)))], "id int, a struct<v: double, b: struct<t: string>>"
    )
    m = unflatten_expr_map(df.schema)
    assert m == {"id": "id", "a__v": "a.v", "a__b__t": "a.b.t"}
    # round-trip: flat name -> struct path selects the same value
    assert df.select(F.expr(m["a__b__t"])).first()[0] == "y"


def test_prefix_columns_excludes_key(spark):
    df = spark.createDataFrame([("2024-01-01", 1.0)], "day string, score double")
    out = prefix_columns(df, "daily_sleep")
    assert out.columns == ["day", "daily_sleep__score"]


def test_combine_outer_join_nulls(spark):
    a = spark.createDataFrame([("d1", 1.0), ("d2", 2.0)], "day string, a__v double")
    b = spark.createDataFrame([("d2", 20.0), ("d3", 30.0)], "day string, b__v double")
    out = combine_on_key([a, b]).orderBy("day").collect()
    assert [(r["day"], r["a__v"], r["b__v"]) for r in out] == [
        ("d1", 1.0, None),
        ("d2", 2.0, 20.0),
        ("d3", None, 30.0),
    ]


def test_combine_rejects_column_collision(spark):
    a = spark.createDataFrame([("d1", 1.0)], "day string, v double")
    b = spark.createDataFrame([("d1", 2.0)], "day string, v double")
    with pytest.raises(ValueError, match="collision"):
        combine_on_key([a, b])


def test_assert_unique_key(spark):
    ok = spark.createDataFrame([("d1",), ("d2",)], "day string")
    assert assert_unique_key(ok, "day") == 2  # no raise; distinct keys
    dup = spark.createDataFrame([("d1",), ("d1",), ("d2",)], "day string")
    with pytest.raises(DuplicateKeyError, match="d1"):
        assert_unique_key(dup, "day")


def test_schema_align_paths(spark):
    target = StructType(
        [
            StructField("day", StringType()),
            StructField("score", DoubleType()),
            StructField("steps", LongType()),
        ]
    )
    df = spark.createDataFrame([("d1", 1)], "day string, score int")
    out = align_to_schema(df, target)
    assert out.columns == ["day", "score", "steps"]
    row = out.first()
    assert row["score"] == 1.0 and row["steps"] is None
    extra = spark.createDataFrame([("d1", 5)], "day string, bogus int")
    with pytest.raises(SchemaError, match="bogus"):
        align_to_schema(extra, target)


def test_json_schema_converter(tmp_path):
    fields = [
        {"name": "day", "type": "DATE", "mode": "REQUIRED"},
        {"name": "score", "type": "FLOAT64"},
        {"name": "tag", "type": "STRING", "mode": "NULLABLE"},
    ]
    st = struct_from_json_schema(fields)
    assert [f.name for f in st.fields] == ["day", "score", "tag"]
    assert st.fields[0].nullable is False and st.fields[1].nullable is True
    p = tmp_path / "schema.json"
    p.write_text('[{"name": "day", "type": "DATE"}]')
    assert len(load_json_schema(p).fields) == 1
    p.write_text('{"not": "a list"}')
    with pytest.raises(SchemaError):
        load_json_schema(p)
    with pytest.raises(SchemaError, match="unsupported type"):
        struct_from_json_schema([{"name": "x", "type": "GEOGRAPHY"}])


def test_to_date_strict(spark):
    ok = spark.createDataFrame([("2024-01-01",), (None,)], "day string")
    out = to_date_strict(ok, "day")
    assert out.first()["day"] == dt.date(2024, 1, 1)
    bad = spark.createDataFrame([("not-a-date",)], "day string")
    with pytest.raises(InvalidDateError, match="not-a-date"):
        to_date_strict(bad, "day")


def test_to_timestamp_coerce(spark):
    df = spark.createDataFrame(
        [("2024-01-01T10:20:30.123456+00:00",), ("garbage",), (None,)], "s string"
    )
    out = df.select(to_timestamp_coerce("s").alias("ts")).collect()
    assert out[0]["ts"] == dt.datetime(2024, 1, 1, 10, 20, 30, 123456)
    assert out[1]["ts"] is None and out[2]["ts"] is None


def test_arrays_to_json_boundary(spark):
    df = spark.createDataFrame(
        [(1, [1.5, 2.5], {"a": 1})],
        "id int, xs array<double>, m map<string,int>",
    )
    out = arrays_to_json(df)
    assert dict(out.dtypes) == {"id": "int", "xs": "string", "m": "string"}
    row = out.first()
    assert row["xs"] == "[1.5,2.5]" and row["m"] == '{"a":1}'


def test_watermark_and_incremental(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1),), (dt.date(2024, 1, 5),)], "day date"
    )
    assert max_watermark(df, "day") == dt.date(2024, 1, 5)
    empty = df.where(F.lit(False))
    assert max_watermark(empty, "day", default=dt.date(1970, 1, 1)) == dt.date(
        1970, 1, 1
    )
    newer = filter_after_watermark(df, dt.date(2024, 1, 1), "day")
    assert [r["day"] for r in newer.collect()] == [dt.date(2024, 1, 5)]
    existing = spark.createDataFrame([(dt.date(2024, 1, 1),)], "day date")
    nk = new_keys(df, existing, "day")
    assert [r["day"] for r in nk.collect()] == [dt.date(2024, 1, 5)]


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "doc_id int, text string"
    )
    kept = dedup_exact(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]


def test_percentile_approx_tracks_exact(spark, sf_dir):
    """a8 uses exact percentiles for oracle parity; the 100 TB path is
    percentile_approx (mergeable sketch, no per-group value shuffle).
    Certify the approximation stays within 1% relative error of exact
    at a real accuracy setting."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = F.col("l_extendedprice").cast("double")
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(p, F.lit(0.9)).alias("exact"),
            F.percentile_approx(p, F.lit(0.9), F.lit(10_000)).alias("approx"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.01


REF_SCHEMA_DIR = "/root/reference/schemas/oura"


@pytest.mark.skipif(
    not os.path.isdir(REF_SCHEMA_DIR), reason="reference schemas not present"
)
class TestReferenceSchemaGolden:
    """Golden tests against the reference's actual warehouse schema files
    (reference ``schemas/oura/*.json``, read at runtime by
    ``load.py:65-89``) — pins every type mapping and the REQUIRED-day
    nullability on the real artifact, not a synthetic fixture."""

    def test_oura_day_schema_converts_and_pins(self):
        st = load_json_schema(f"{REF_SCHEMA_DIR}/oura_day.json")
        assert len(st.fields) == 66
        by_name = {f.name: f for f in st.fields}
        # the single REQUIRED field is the day key, everything else nullable
        assert by_name["day"].dataType == DateType()
        assert by_name["day"].nullable is False
        assert sum(not f.nullable for f in st.fields) == 1
        # type-mapping tally: 52 FLOAT64->double, 10 STRING, 3 TIMESTAMP, 1 DATE
        from collections import Counter

        tally = Counter(type(f.dataType).__name__ for f in st.fields)
        assert tally == {
            "DoubleType": 52,
            "StringType": 10,
            "TimestampType": 3,
            "DateType": 1,
        }
        # spot-pin a field of each type
        assert by_name["daily_activity__score"].dataType == DoubleType()
        assert by_name["daily_activity__id"].dataType == StringType()
        assert by_name["daily_activity__timestamp"].dataType == TimestampType()

    def test_t_schema_converts(self):
        st = load_json_schema(f"{REF_SCHEMA_DIR}/t.json")
        assert len(st.fields) == 61
        assert all(f.nullable for f in st.fields)
        from collections import Counter

        tally = Counter(type(f.dataType).__name__ for f in st.fields)
        assert tally == {
            "DoubleType": 36,
            "StringType": 19,
            "TimestampType": 5,
            "BooleanType": 1,
        }

    def test_align_to_real_schema_null_fills_and_casts(self, spark):
        target = load_json_schema(f"{REF_SCHEMA_DIR}/oura_day.json")
        df = spark.createDataFrame(
            [("2024-02-25", "87")],
            "day string, daily_activity__score string",
        )
        out = align_to_schema(df, target)
        assert [f.name for f in out.schema.fields] == [
            f.name for f in target.fields
        ]
        assert [type(f.dataType) for f in out.schema.fields] == [
            type(f.dataType) for f in target.fields
        ]
        row = out.first()
        assert row["day"] == dt.date(2024, 2, 25)
        assert row["daily_activity__score"] == 87.0
        # all 64 absent columns null-filled
        assert sum(v is None for v in row) == 64
