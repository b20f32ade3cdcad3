"""Batch ETL driver: extract -> transform -> load, Spark-first.

Mirrors the reference's two Airflow tasks (``run_extract_pipeline``,
``extract.py:151-203``; ``run_transform_pipeline``,
``transform.py:161-240``) as two driver functions over lazy DataFrame
graphs. Control flow (watermarks, early exit) stays driver-side Python
— exactly the "thin driver logic" SURVEY.md §4 keeps — while every data
motion is a Spark plan, and each run builds ONE raw-zone relation, not
one per data type:

* extract: every type's new range is worked out from the driver
  listing first (an overlapping range in any type fails before
  anything lands), then all types land in one partitioned write;
* transform: one scan of exactly the overlapping partition directories
  of all types, one aggregate over ``(data_type, day)`` that enforces
  uniqueness and doubles as the emptiness probe, one flatten, one
  ``groupBy("day")`` that folds the types into wide rows, one
  schema-align projection, one append.

The cost of a daily run therefore follows the new day, not the landed
history. Scale notes (100 TB): the landing write and the scan are
partitioned by type, so types still proceed in parallel; the wide fold
is a single aggregate on ``day`` (one shuffle, however many types);
the warehouse append is a columnar write whose schema is enforced
*before* the job runs (C2 fails in the driver, not per-task). Nothing
but scalar watermarks and counts ever reaches the driver.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from personal_health_etl_pipeline_spark.functions.flatten import flatten
# not called by the run any more (``_wide_by_day`` folds the types), but
# kept importable here: the etl_daily benchmark traces this name
from personal_health_etl_pipeline_spark.operators.combine import combine_on_key  # noqa: F401
from personal_health_etl_pipeline_spark.operators.conflict import assert_unique_key
from personal_health_etl_pipeline_spark.pipeline.fixtures import (
    RECORD_SCHEMA,
    fetch_range_df,
)
from personal_health_etl_pipeline_spark.pipeline.raw_zone import (
    max_landed_date,
    scan_raw,
    write_raw,
)
from personal_health_etl_pipeline_spark.schema import (
    align_to_schema,
    struct_from_json_schema,
)

DEFAULT_TYPES = ("daily_activity", "daily_sleep", "daily_readiness")


@dataclass(frozen=True)
class PipelineConfig:
    """Engine twin of the reference ``OuraConfig`` (config.py:7-17),
    minus the GCP/API coupling."""

    raw_root: str
    warehouse_path: str
    data_types: tuple[str, ...] = DEFAULT_TYPES
    chunk_days: dict[str, int] = field(default_factory=dict)  # S4, e.g. {"heartrate": 7}
    historical_days: int = 365  # constants.py:17


# --- warehouse schema (S9 / §1.3: declared as {name,type,mode} JSON) ---

_PER_TYPE_FIELDS = (
    ("id", "STRING"),
    ("day", "DATE"),  # dropped per type; kept once as the key
    ("score", "INT64"),
    ("temperature_deviation", "FLOAT64"),
    ("timestamp", "TIMESTAMP"),
    ("contributors__deep_sleep", "INT64"),
    ("contributors__efficiency", "INT64"),
    ("contributors__latency", "INT64"),
    ("met_items", "STRING"),  # arrays are JSON strings at the boundary (F4)
)


def warehouse_schema(data_types: tuple[str, ...] = DEFAULT_TYPES) -> StructType:
    """One wide row per day: ``day`` + ``{type}__{field}`` per data type,
    built through the JSON-schema converter the engine ships (S9)."""
    fields = [{"name": "day", "type": "DATE", "mode": "REQUIRED"}]
    for dtype in data_types:
        for name, typ in _PER_TYPE_FIELDS:
            if name == "day":
                continue
            fields.append({"name": f"{dtype}__{name}", "type": typ, "mode": "NULLABLE"})
    return struct_from_json_schema(fields)


# --- extract (reference extract.py:151-203) ---------------------------

def _chunk_ranges(start: dt.date, end: dt.date, days: int):
    """S4: split an inclusive range into ``days``-sized windows."""
    lo = start
    while lo <= end:
        hi = min(lo + dt.timedelta(days=days - 1), end)
        yield lo, hi
        lo = hi + dt.timedelta(days=1)


def run_extract(
    spark: SparkSession,
    cfg: PipelineConfig,
    today: dt.date,
    source=fetch_range_df,
) -> dict[str, int]:
    """Land ``(watermark, yesterday]`` of every data type in one write.

    Watermark = last landed range end + 1 day, else yesterday −
    ``historical_days`` (extract.py:170-177). All windows come from the
    driver listing before anything is fetched, so an overlapping range
    in any type raises with the raw zone untouched. Chunked types fetch
    in windows and union (extract.py:133-149) — in Spark the union is
    one plan. Types with nothing new are skipped; empty results still
    land as processed-markers (extract.py:187-193). Returns rows landed
    per type, counted by the write itself.
    """
    yesterday = today - dt.timedelta(days=1)
    starts: dict[str, dt.date] = {}
    for dtype in cfg.data_types:
        wm = max_landed_date(cfg.raw_root, dtype)
        start = (
            wm + dt.timedelta(days=1)
            if wm is not None
            else yesterday - dt.timedelta(days=cfg.historical_days)
        )
        if start <= yesterday:
            starts[dtype] = start
    if not starts:
        return {}  # nothing new in any type — early exit
    landings = {}
    for dtype, start in starts.items():
        chunk = cfg.chunk_days.get(dtype)
        windows = _chunk_ranges(start, yesterday, chunk) if chunk else [(start, yesterday)]
        parts = [source(spark, dtype, lo, hi) for lo, hi in windows]
        landings[dtype] = (reduce(DataFrame.unionByName, parts), start, yesterday)
    return write_raw(cfg.raw_root, landings)


# --- transform + load (reference transform.py:161-240) ----------------

def _warehouse_df(spark: SparkSession, cfg: PipelineConfig) -> DataFrame | None:
    if not os.path.isdir(cfg.warehouse_path):
        return None
    try:
        return spark.read.parquet(cfg.warehouse_path)
    except Exception:
        return None  # directory exists but holds no data yet


def _wide_by_day(flat: DataFrame, data_types: tuple[str, ...]) -> DataFrame:
    """J1 over one relation: fold per-type rows into one wide row per
    day with ``max(when(data_type = t, c))`` per type and column. Keys
    are unique per ``(data_type, day)`` by then, so each aggregate sees
    at most one value; a type missing on a day yields NULLs, exactly as
    the full-outer combine (``combine_on_key``) would."""
    values = [c for c in flat.columns if c not in ("data_type", "day")]
    return flat.groupBy("day").agg(
        *[
            F.max(F.when(F.col("data_type") == t, F.col(c))).alias(f"{t}__{c}")
            for t in data_types
            for c in values
        ]
    )


def run_transform(
    spark: SparkSession, cfg: PipelineConfig, today: dt.date
) -> dict[str, int]:
    """Combine new raw days into wide rows and append to the warehouse.

    One pruned raw scan over all types (S6/P2) -> required-key filter
    (P1) -> one ``(data_type, day)`` conflict check (J3, validate-then-
    act; it also counts the keys, so an empty window exits early) ->
    flatten with boundary JSON arrays (F1/F4) -> one ``groupBy("day")``
    into ``{type}__{column}`` wide rows (P3 + J1) -> schema alignment
    (C1-C3/C5, which also performs the F2/F3 string->date/timestamp
    coercions via typed casts) -> append (S7). Late data — anything ≤
    the warehouse watermark — is never re-read (transform.py:187).
    """
    existing = _warehouse_df(spark, cfg)
    if existing is not None:
        wm = existing.agg(F.max("day")).first()[0]
    else:
        wm = None
    start = (
        wm + dt.timedelta(days=1)
        if wm is not None
        else today - dt.timedelta(days=cfg.historical_days + 1)
    )
    end_excl = today  # through yesterday, half-open

    raw = scan_raw(spark, cfg.raw_root, cfg.data_types, start, end_excl, RECORD_SCHEMA)
    raw = raw.where(F.col("day").isNotNull())  # P1
    # J3: fail before any write; zero keys is the early exit
    # (transform.py:192-194)
    if not assert_unique_key(raw, ("data_type", "day")):
        return {"new_rows": 0}

    wide = _wide_by_day(flatten(raw, arrays="json"), cfg.data_types)  # F1 + F4
    aligned = align_to_schema(wide, warehouse_schema(cfg.data_types))
    # The count rides along the write as an observed metric: the
    # scan->flatten->fold->align lineage executes exactly once (a
    # .count() after the write would re-run the whole DAG — at scale
    # that doubles the most expensive job in the pipeline).
    obs = Observation()
    aligned.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(cfg.warehouse_path)
    return {"new_rows": obs.get["n"]}


# --- warehouse probes (reference load.py:209-224, 325-348) ------------

def warehouse_distinct_days(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """P4: SELECT DISTINCT day."""
    df = _warehouse_df(spark, cfg)
    if df is None:
        return spark.createDataFrame([], "day date")
    return df.select("day").distinct()


def warehouse_has_day(spark: SparkSession, cfg: PipelineConfig, day: dt.date) -> bool:
    """P5: existence probe, short-circuited (limit 1, no full count)."""
    df = _warehouse_df(spark, cfg)
    if df is None:
        return False
    return bool(df.where(F.col("day") == F.lit(day)).limit(1).head(1))


def truncate_warehouse(spark: SparkSession, cfg: PipelineConfig) -> None:
    """S8: reset the warehouse to empty (overwrite with zero rows)."""
    empty = spark.createDataFrame([], warehouse_schema(cfg.data_types))
    empty.write.mode("overwrite").parquet(cfg.warehouse_path)


# --- orchestration (reference oura_dag.py:13-44) ----------------------

def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, today: dt.date, source=fetch_range_df
) -> dict[str, object]:
    """The reference's two-task linear DAG as one driver call:
    extract lands raw ranges, transform combines and loads — strictly
    in that order (oura_dag.py:44). Scheduling (the daily 04:00 cron)
    stays outside the engine, exactly as it does in the reference.
    """
    extracted = run_extract(spark, cfg, today, source=source)
    loaded = run_transform(spark, cfg, today)
    return {"extracted": extracted, **loaded}
