"""Deterministic Oura-shaped source fixture (stands in for the REST API).

The reference's extract layer GETs ``{base}{endpoint}?start_date&end_date``
with bearer auth and returns ``{"data": [record, ...]}`` (reference
``extract.py:24-46``). Tests and the local pipeline need the same shape
without a network, so this module synthesizes records purely from
``(data_type, day)`` — same inputs, same bytes, every run.

Record shape mirrors the daily types: a required ``day``, a string id,
scalar metrics, a nested ``contributors`` object (flattened to
``contributors__*`` downstream, F1) and a list column (serialized to a
JSON string at the warehouse boundary, F4).
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RECORD_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("day", StringType()),  # wire format: ISO string (F2 casts)
        StructField("score", LongType()),
        StructField("temperature_deviation", DoubleType()),
        StructField("timestamp", StringType()),  # wire ts, F3 coerce-parses
        StructField(
            "contributors",
            StructType(
                [
                    StructField("deep_sleep", LongType()),
                    StructField("efficiency", LongType()),
                    StructField("latency", LongType()),
                ]
            ),
        ),
        StructField("met_items", ArrayType(DoubleType())),
    ]
)

_RECORD_ARROW_SCHEMA = to_arrow_schema(RECORD_SCHEMA)


def _h(data_type: str, day: dt.date, salt: str) -> int:
    digest = hashlib.sha256(f"{data_type}|{day.isoformat()}|{salt}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def fetch_range(data_type: str, start: dt.date, end: dt.date) -> list[dict]:
    """Inclusive-range fetch, one record per day (DAILY-category shape).

    Matches the reference API contract: inverted range -> empty ``data``
    (``extract.py:40-44``), end date inclusive (``extract.py:36-37``).
    """
    if end < start:
        return []
    out = []
    day = start
    while day <= end:
        h = _h(data_type, day, "rec")
        out.append(
            {
                "id": f"{data_type}-{day.isoformat()}",
                "day": day.isoformat(),
                "score": 40 + h % 60,
                "temperature_deviation": round((h % 2000) / 1000 - 1.0, 2),
                "timestamp": f"{day.isoformat()}T04:00:00.{h % 1000000:06d}+00:00",
                "contributors": {
                    "deep_sleep": h % 100,
                    "efficiency": (h // 100) % 100,
                    "latency": (h // 10000) % 100,
                },
                "met_items": [round(((h >> s) % 900) / 100, 2) for s in (0, 8, 16)],
            }
        )
        day += dt.timedelta(days=1)
    return out


def fetch_range_df(
    spark: SparkSession, data_type: str, start: dt.date, end: dt.date
) -> DataFrame:
    """The fixture source as a typed DataFrame (what S1-S3 hand on).

    The records the driver already holds go to Spark as one Arrow table
    typed by ``RECORD_SCHEMA``: a local relation (``LocalTableScan``),
    so landing them needs no Python worker and no parallelize stage.
    """
    table = pa.Table.from_pylist(
        fetch_range(data_type, start, end), schema=_RECORD_ARROW_SCHEMA
    )
    return spark.createDataFrame(table, RECORD_SCHEMA)


# --- FULL-WIDTH daily fixtures: every field of every DAILY type -------
#
# The reference's combined warehouse table (schemas/oura/oura_day.json,
# 66 columns) is the union of six DAILY types' flattened fields. This
# spec drives BOTH the fixture records below and the DuckDB oracle
# (plans/oura_wide.py) from one definition: per type, the raw record's
# (dotted nested path, value kind). Kinds share one derivation rule —
# h = first-16-hex of sha256("{type}|{day}|{path}") as uint64 — so the
# oracle recomputes every cell independently.

OURA_DAILY_FULL: dict[str, list[tuple[str, str]]] = {
    "daily_activity": [
        ("id", "id"),
        ("class_5_min", "class5"),
        ("score", "metric"),
        ("active_calories", "metric"),
        ("average_met_minutes", "metric"),
        ("equivalent_walking_distance", "metric"),
        ("steps", "metric"),
        ("timestamp", "ts"),
        ("high_activity_met_minutes", "metric"),
        ("high_activity_time", "metric"),
        ("inactivity_alerts", "metric"),
        ("low_activity_met_minutes", "metric"),
        ("low_activity_time", "metric"),
        ("medium_activity_met_minutes", "metric"),
        ("medium_activity_time", "metric"),
        ("meters_to_target", "metric"),
        ("non_wear_time", "metric"),
        ("resting_time", "metric"),
        ("sedentary_met_minutes", "metric"),
        ("sedentary_time", "metric"),
        ("target_calories", "metric"),
        ("target_meters", "metric"),
        ("total_calories", "metric"),
        ("contributors.meet_daily_targets", "metric"),
        ("contributors.move_every_hour", "metric"),
        ("contributors.recovery_time", "metric"),
        ("contributors.stay_active", "metric"),
        ("contributors.training_frequency", "metric"),
        ("contributors.training_volume", "metric"),
        ("met.interval", "metric"),
        ("met.items", "int_list"),
        ("met.timestamp", "ts_str"),
    ],
    "daily_readiness": [
        ("id", "id"),
        ("score", "metric"),
        ("temperature_deviation", "metric"),
        ("temperature_trend_deviation", "metric"),
        ("timestamp", "ts"),
        ("contributors.activity_balance", "metric"),
        ("contributors.body_temperature", "metric"),
        ("contributors.hrv_balance", "metric"),
        ("contributors.previous_day_activity", "metric"),
        ("contributors.previous_night", "metric"),
        ("contributors.recovery_index", "metric"),
        ("contributors.resting_heart_rate", "metric"),
        ("contributors.sleep_balance", "metric"),
    ],
    "daily_stress": [
        ("id", "id"),
        ("stress_high", "metric"),
        ("recovery_high", "metric"),
        ("day_summary", "summary"),
    ],
    "daily_resilience": [
        ("id", "id"),
        ("level", "level"),
        ("contributors.daytime_recovery", "metric"),
        ("contributors.sleep_recovery", "metric"),
        ("contributors.stress", "metric"),
    ],
    "daily_cardiovascular_age": [
        ("vascular_age", "metric"),
    ],
    "daily_sleep": [
        ("score", "metric"),
        ("timestamp", "ts"),
        ("id", "id"),
        ("contributors.deep_sleep", "metric"),
        ("contributors.efficiency", "metric"),
        ("contributors.latency", "metric"),
        ("contributors.rem_sleep", "metric"),
        ("contributors.restfulness", "metric"),
        ("contributors.timing", "metric"),
        ("contributors.total_sleep", "metric"),
    ],
}

SUMMARY_WORDS = ("restored", "normal", "stressful")
LEVEL_WORDS = ("limited", "adequate", "solid")


def field_hash(data_type: str, ds: str, path: str) -> int:
    """uint64 from sha256 — the shared fixture/oracle derivation."""
    digest = hashlib.sha256(f"{data_type}|{ds}|{path}".encode()).hexdigest()
    return int(digest[:16], 16)


def day_present(data_type: str, ds: str) -> bool:
    """~10% of (type, day) cells are MISSING (no record fetched), so
    the full-outer combine's null-fill is exercised on real gaps."""
    return field_hash(data_type, ds, "presence") % 10 > 0


def _wire_ts(ds: str, h: int) -> str:
    return f"{ds}T04:00:00.{h % 1000000:06d}+00:00"


def _full_value(kind: str, data_type: str, ds: str, path: str):
    h = field_hash(data_type, ds, path)
    if kind == "id":
        return f"{data_type}-{ds}"
    if kind == "metric":
        return (h % 10000) / 100.0
    if kind in ("ts", "ts_str"):
        return _wire_ts(ds, h)
    if kind == "class5":
        return f"{h % 10**12:012d}"
    if kind == "summary":
        return SUMMARY_WORDS[h % 3]
    if kind == "level":
        return LEVEL_WORDS[h % 3]
    if kind == "int_list":
        return [h % 97, (h // 97) % 97, (h // 9409) % 97]
    raise ValueError(f"unknown kind {kind!r}")


def _nest(flat: dict[str, object]) -> dict:
    out: dict = {}
    for path, v in flat.items():
        parts = path.split(".")
        node = out
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = v
    return out


def fetch_daily_full(data_type: str, start: dt.date, end: dt.date) -> list[dict]:
    """Full-width DAILY fetch: one nested record per PRESENT day with
    every field of ``OURA_DAILY_FULL[data_type]``."""
    spec = OURA_DAILY_FULL[data_type]
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present(data_type, ds):
            rec = {"day": ds}
            rec.update(
                _nest(
                    {
                        path: _full_value(kind, data_type, ds, path)
                        for path, kind in spec
                    }
                )
            )
            out.append(rec)
        day += dt.timedelta(days=1)
    return out


def _full_schema(data_type: str) -> StructType:
    """Nested wire StructType matching :data:`OURA_DAILY_FULL`."""
    leaf = {
        "id": StringType(),
        "metric": DoubleType(),
        "ts": StringType(),
        "ts_str": StringType(),
        "class5": StringType(),
        "summary": StringType(),
        "level": StringType(),
        "int_list": ArrayType(LongType()),
    }
    root: dict = {}
    for path, kind in OURA_DAILY_FULL[data_type]:
        parts = path.split(".")
        node = root
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = leaf[kind]

    def build(d: dict) -> StructType:
        fields = []
        for name, v in d.items():
            fields.append(
                StructField(name, build(v) if isinstance(v, dict) else v)
            )
        return StructType(fields)

    return StructType([StructField("day", StringType())] + build(root).fields)


def fetch_daily_full_df(
    spark: SparkSession, data_type: str, start: dt.date, end: dt.date
) -> DataFrame:
    """Full-width fixture source as a typed nested DataFrame."""
    return spark.createDataFrame(
        fetch_daily_full(data_type, start, end), _full_schema(data_type)
    )


# --- DETAILED fixtures: multi-row-per-day (workout) -------------------
#
# The reference's DETAILED category (constants.py:29-37) is fetched by
# the same date-range source but left TODO in the transform
# (transform.py:120-128); its draft warehouse schema is t.json. The
# workout fixture emits h%4 records per day (0..3 — some days absent,
# most days multi-row), each field sha256-derived from
# (type, day, seq, field) so the oracle regenerates every row.

ACTIVITY_WORDS = ("running", "cycling", "swimming", "walking", "rowing")
INTENSITY_WORDS = ("easy", "moderate", "hard")
SOURCE_WORDS = ("manual", "wearable")


def workout_count(ds: str) -> int:
    return field_hash("workout", ds, "n") % 4


def _workout_h(ds: str, seq: int, field: str) -> int:
    return field_hash("workout", ds, f"{seq}|{field}")


def fetch_detailed_workout(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        for s in range(workout_count(ds)):
            def h(field: str) -> int:
                return _workout_h(ds, s, field)

            out.append(
                {
                    "id": f"workout-{ds}-{s}",
                    "activity": ACTIVITY_WORDS[h("activity") % 5],
                    "calories": (h("calories") % 90000) / 100.0,
                    "distance": (h("distance") % 2000000) / 100.0,
                    "start_datetime": (
                        f"{ds}T{6 + s * 4:02d}:30:00."
                        f"{h('start_datetime') % 1000000:06d}+00:00"
                    ),
                    "end_datetime": (
                        f"{ds}T{6 + s * 4:02d}:59:00."
                        f"{h('end_datetime') % 1000000:06d}+00:00"
                    ),
                    "intensity": INTENSITY_WORDS[h("intensity") % 3],
                    "label": f"session-{h('label') % 1000}",
                    "source": SOURCE_WORDS[h("source") % 2],
                }
            )
        day += dt.timedelta(days=1)
    return out


# --- SPECIAL fixture: daily_spo2 (id_day) -----------------------------
#
# The reference registers daily_spo2 as SPECIAL with
# ``special_params={'id_day': True}`` (constants.py:44-48) and leaves
# the extraction logic a FIXME (extract.py:128): unlike the DAILY
# types, the wire record carries NO ``day`` column — the date key must
# be DERIVED from the record ``id``. The fixture therefore emits
# ``{id, spo2_percentage: {average}, breathing_disturbance_index}``
# with the day embedded only in the id, matching the draft warehouse
# columns in t.json (daily_spo2__id / __spo2_percentage /
# __breathing_disturbance_index / __spo2_percentage__average).


def fetch_spo2(start: dt.date, end: dt.date) -> list[dict]:
    """daily_spo2 fetch: one id-keyed record per PRESENT day, no
    ``day`` field (id_day). Shares the sha256 presence/value derivation
    with the DAILY fixtures so the oracle regenerates every cell."""
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present("daily_spo2", ds):
            out.append(
                {
                    "id": f"daily_spo2-{ds}",
                    "spo2_percentage": {
                        "average": _full_value(
                            "metric", "daily_spo2", ds, "spo2_percentage.average"
                        )
                    },
                    "breathing_disturbance_index": _full_value(
                        "metric", "daily_spo2", ds, "breathing_disturbance_index"
                    ),
                }
            )
        day += dt.timedelta(days=1)
    return out


SPO2_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField(
            "spo2_percentage",
            StructType([StructField("average", DoubleType())]),
        ),
        StructField("breathing_disturbance_index", DoubleType()),
    ]
)


def fetch_spo2_df(spark: SparkSession, start: dt.date, end: dt.date) -> DataFrame:
    return spark.createDataFrame(fetch_spo2(start, end), SPO2_SCHEMA)


# --- DETAILED fixture #3: sleep_time (the recommendation type) ---------
#
# t.json's sleep_time draft (reference ``schemas/oura/t.json:188-306``;
# endpoint registered at ``constants.py:33``): at most one
# recommendation record per day, gappy like the daily types. The wire
# record carries a native ``day`` plus an ``optimal_bedtime`` OBJECT
# whose three leaves the draft flattens to FLOAT64 columns.

RECOMMENDATION_WORDS = (
    "improve_efficiency", "earlier_bedtime", "later_bedtime",
)
SLEEP_STATUS_WORDS = (
    "not_enough_nights", "optimal_bedtime_available", "low_sleep_scores",
)


def fetch_sleep_time(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present("sleep_time", ds):
            out.append(
                {
                    "id": f"sleep_time-{ds}",
                    "day": ds,
                    "optimal_bedtime": {
                        "day_tz": _full_value(
                            "metric", "sleep_time", ds, "optimal_bedtime.day_tz"
                        ),
                        "end_offset": _full_value(
                            "metric", "sleep_time", ds,
                            "optimal_bedtime.end_offset",
                        ),
                        "start_offset": _full_value(
                            "metric", "sleep_time", ds,
                            "optimal_bedtime.start_offset",
                        ),
                    },
                    "recommendation": RECOMMENDATION_WORDS[
                        field_hash("sleep_time", ds, "recommendation") % 3
                    ],
                    "status": SLEEP_STATUS_WORDS[
                        field_hash("sleep_time", ds, "status") % 3
                    ],
                }
            )
        day += dt.timedelta(days=1)
    return out


SLEEP_TIME_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("day", StringType()),  # wire date string (F2)
        StructField(
            "optimal_bedtime",
            StructType(
                [
                    StructField("day_tz", DoubleType()),
                    StructField("end_offset", DoubleType()),
                    StructField("start_offset", DoubleType()),
                ]
            ),
        ),
        StructField("recommendation", StringType()),
        StructField("status", StringType()),
    ]
)


def fetch_sleep_time_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(fetch_sleep_time(start, end), SLEEP_TIME_SCHEMA)


# --- DETAILED fixture #4: vO2_max (reference constants.py:36) ----------
#
# The endpoint's public wire shape: one cardio-capacity sample per
# present day — id, native day, a wire-string timestamp and the
# vo2_max metric. No draft columns exist in t.json for this type, so
# the shipped oura_vo2_max.json follows the j16 naming convention
# (day key + '<type>__'-prefixed leaves).


def fetch_vo2max(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present("vO2_max", ds):
            out.append(
                {
                    "id": f"vO2_max-{ds}",
                    "day": ds,
                    "timestamp": _full_value("ts_str", "vO2_max", ds, "timestamp"),
                    "vo2_max": _full_value("metric", "vO2_max", ds, "vo2_max"),
                }
            )
        day += dt.timedelta(days=1)
    return out


VO2MAX_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("day", StringType()),  # wire date string (F2)
        StructField("timestamp", StringType()),  # wire ts (F3)
        StructField("vo2_max", DoubleType()),
    ]
)


def fetch_vo2max_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(fetch_vo2max(start, end), VO2MAX_SCHEMA)


# --- DETAILED fixture #5: session (reference constants.py:31) ----------
#
# One moment-of-recovery record per present day: wire-string
# timestamps, type/mood words, and a nested ``heart_rate`` object
# whose ``items`` array becomes a C4 JSON string on flatten.

SESSION_TYPE_WORDS = ("breathing", "meditation", "nap")
MOOD_WORDS = ("bad", "okay", "great")


def fetch_session(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present("session", ds):
            out.append(
                {
                    "id": f"session-{ds}",
                    "day": ds,
                    "start_datetime": _full_value(
                        "ts_str", "session", ds, "start_datetime"
                    ),
                    "end_datetime": _full_value(
                        "ts_str", "session", ds, "end_datetime"
                    ),
                    "type": SESSION_TYPE_WORDS[
                        field_hash("session", ds, "type") % 3
                    ],
                    "mood": MOOD_WORDS[field_hash("session", ds, "mood") % 3],
                    "heart_rate": {
                        "interval": _full_value(
                            "metric", "session", ds, "heart_rate.interval"
                        ),
                        "items": _full_value(
                            "int_list", "session", ds, "heart_rate.items"
                        ),
                        "timestamp": _full_value(
                            "ts_str", "session", ds, "heart_rate.timestamp"
                        ),
                    },
                }
            )
        day += dt.timedelta(days=1)
    return out


SESSION_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("day", StringType()),  # wire date string (F2)
        StructField("start_datetime", StringType()),  # wire ts (F3)
        StructField("end_datetime", StringType()),
        StructField("type", StringType()),
        StructField("mood", StringType()),
        StructField(
            "heart_rate",
            StructType(
                [
                    StructField("interval", DoubleType()),
                    StructField("items", ArrayType(LongType())),
                    StructField("timestamp", StringType()),
                ]
            ),
        ),
    ]
)


def fetch_session_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(fetch_session(start, end), SESSION_SCHEMA)


# --- DETAILED fixture #6: rest_mode_period (constants.py:34) -----------
#
# A PERIOD record: spans start_day..end_day (0-2 extra days), with an
# ``episodes`` array of tagged timestamps that flattens to a C4 JSON
# string. The day key is start_day.

REST_TAG_WORDS = ("rest", "recovering", "travel")


def fetch_rest_mode(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        if day_present("rest_mode_period", ds):
            span = field_hash("rest_mode_period", ds, "span") % 3
            out.append(
                {
                    "id": f"rest_mode_period-{ds}",
                    "start_day": ds,
                    "end_day": (day + dt.timedelta(days=span)).isoformat(),
                    "start_time": _full_value(
                        "ts_str", "rest_mode_period", ds, "start_time"
                    ),
                    "end_time": _full_value(
                        "ts_str", "rest_mode_period", ds, "end_time"
                    ),
                    "episodes": [
                        {
                            "tags": [
                                REST_TAG_WORDS[
                                    field_hash(
                                        "rest_mode_period", ds, "episodes.tags"
                                    )
                                    % 3
                                ]
                            ],
                            "timestamp": _full_value(
                                "ts_str",
                                "rest_mode_period",
                                ds,
                                "episodes.timestamp",
                            ),
                        }
                    ],
                }
            )
        day += dt.timedelta(days=1)
    return out


REST_MODE_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("start_day", StringType()),  # wire date string (F2)
        StructField("end_day", StringType()),
        StructField("start_time", StringType()),  # wire ts (F3)
        StructField("end_time", StringType()),
        StructField(
            "episodes",
            ArrayType(
                StructType(
                    [
                        StructField("tags", ArrayType(StringType())),
                        StructField("timestamp", StringType()),
                    ]
                )
            ),
        ),
    ]
)


def fetch_rest_mode_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(fetch_rest_mode(start, end), REST_MODE_SCHEMA)


# --- DETAILED fixture #7: enhanced_tag (constants.py:35) ---------------
#
# Multi-row like workout: 0-2 tags per day, each with its own
# start/end wire timestamps (hour staggered by sequence) and word
# fields. Per-(day, seq) hashing mirrors the workout derivation so
# the oracle regenerates every cell.

TAG_TYPE_WORDS = ("tag_generic_nap", "tag_generic_alcohol", "tag_generic_sick")


def tag_count(ds: str) -> int:
    return field_hash("enhanced_tag", ds, "n") % 3


def _tag_h(ds: str, seq: int, field: str) -> int:
    return field_hash("enhanced_tag", ds, f"{seq}|{field}")


def fetch_enhanced_tag(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        for s in range(tag_count(ds)):
            def h(field: str) -> int:
                return _tag_h(ds, s, field)

            out.append(
                {
                    "id": f"enhanced_tag-{ds}-{s}",
                    "tag_type_code": TAG_TYPE_WORDS[h("tag_type_code") % 3],
                    "start_time": (
                        f"{ds}T{6 + s * 4:02d}:30:00."
                        f"{h('start_time') % 1000000:06d}+00:00"
                    ),
                    "end_time": (
                        f"{ds}T{6 + s * 4:02d}:59:00."
                        f"{h('end_time') % 1000000:06d}+00:00"
                    ),
                    "start_day": ds,
                    "end_day": ds,
                    "comment": f"note-{h('comment') % 1000}",
                }
            )
        day += dt.timedelta(days=1)
    return out


ENHANCED_TAG_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("tag_type_code", StringType()),
        StructField("start_time", StringType()),  # wire ts (F3)
        StructField("end_time", StringType()),
        StructField("start_day", StringType()),  # wire date string (F2)
        StructField("end_day", StringType()),
        StructField("comment", StringType()),
    ]
)


def fetch_enhanced_tag_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(
        fetch_enhanced_tag(start, end), ENHANCED_TAG_SCHEMA
    )


WORKOUT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("activity", StringType()),
        StructField("calories", DoubleType()),
        StructField("distance", DoubleType()),
        StructField("start_datetime", StringType()),  # wire ts (F3)
        StructField("end_datetime", StringType()),
        StructField("intensity", StringType()),
        StructField("label", StringType()),
        StructField("source", StringType()),
    ]
)


def fetch_detailed_workout_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(
        fetch_detailed_workout(start, end), WORKOUT_SCHEMA
    )


# --- DETAILED fixture #2: sleep (the largest draft schema) -------------
#
# t.json's sleep draft is the reference's widest DETAILED type: 41
# fields including a BOOLEAN (low_battery_alert), wire-string
# timestamps, nested heart_rate / hrv objects whose ``items`` arrays
# become C4 JSON strings, and a doubly-nested readiness.contributors
# object (depth-2 F1 flatten). h%3 records per day (0..2 sleep
# periods) — multi-row and gappy like the workout fixture.

SLEEP_TYPE_WORDS = ("long_sleep", "late_nap", "rest")
SLEEP_VERSION_WORDS = ("v1", "v2")

# (dotted wire path, value kind); flattens to the t.json draft columns
SLEEP_FIELDS: list[tuple[str, str]] = [
    ("id", "id"),
    ("average_breath", "metric"),
    ("average_heart_rate", "metric"),
    ("average_hrv", "metric"),
    ("awake_time", "metric"),
    ("bedtime_end", "ts_end"),
    ("bedtime_start", "ts_start"),
    ("deep_sleep_duration", "metric"),
    ("efficiency", "metric"),
    ("latency", "metric"),
    ("light_sleep_duration", "metric"),
    ("low_battery_alert", "bool"),
    ("lowest_heart_rate", "metric"),
    ("movement_30_sec", "digits"),
    ("period", "metric"),
    ("readiness_score_delta", "metric"),
    ("rem_sleep_duration", "metric"),
    ("restless_periods", "metric"),
    ("sleep_phase_5_min", "digits"),
    ("sleep_score_delta", "metric"),
    ("sleep_algorithm_version", "version"),
    ("time_in_bed", "metric"),
    ("total_sleep_duration", "metric"),
    ("type", "sleep_type"),
    ("heart_rate.interval", "metric"),
    ("heart_rate.items", "int_list"),
    ("heart_rate.timestamp", "ts_str"),
    ("hrv.interval", "metric"),
    ("hrv.items", "int_list"),
    ("hrv.timestamp", "ts_str"),
    ("readiness.contributors.activity_balance", "metric"),
    ("readiness.contributors.body_temperature", "metric"),
    ("readiness.contributors.hrv_balance", "metric"),
    ("readiness.contributors.previous_day_activity", "metric"),
    ("readiness.contributors.previous_night", "metric"),
    ("readiness.contributors.recovery_index", "metric"),
    ("readiness.contributors.resting_heart_rate", "metric"),
    ("readiness.contributors.sleep_balance", "metric"),
    ("readiness.score", "metric"),
    ("readiness.temperature_deviation", "metric"),
    ("readiness.temperature_trend_deviation", "metric"),
]


def sleep_count(ds: str) -> int:
    return field_hash("sleep", ds, "n") % 3


def _sleep_h(ds: str, seq: int, field: str) -> int:
    return field_hash("sleep", ds, f"{seq}|{field}")


def _sleep_value(kind: str, ds: str, s: int, path: str):
    h = _sleep_h(ds, s, path)
    if kind == "id":
        return f"sleep-{ds}-{s}"
    if kind == "metric":
        return (h % 10000) / 100.0
    if kind == "ts_start":
        return f"{ds}T2{s}:00:00.{h % 1000000:06d}+00:00"
    if kind == "ts_end":
        return f"{ds}T23:{30 + s * 5}:00.{h % 1000000:06d}+00:00"
    if kind == "ts_str":
        return f"{ds}T2{s}:05:00.{h % 1000000:06d}+00:00"
    if kind == "bool":
        return h % 2 == 0
    if kind == "digits":
        return f"{h % 10**12:012d}"
    if kind == "sleep_type":
        return SLEEP_TYPE_WORDS[h % 3]
    if kind == "version":
        return SLEEP_VERSION_WORDS[h % 2]
    if kind == "int_list":
        return [h % 97, (h // 97) % 97, (h // 9409) % 97]
    raise ValueError(f"unknown kind {kind!r}")


def fetch_detailed_sleep(start: dt.date, end: dt.date) -> list[dict]:
    out = []
    day = start
    while day <= end:
        ds = day.isoformat()
        for s in range(sleep_count(ds)):
            out.append(
                _nest(
                    {
                        path: _sleep_value(kind, ds, s, path)
                        for path, kind in SLEEP_FIELDS
                    }
                )
            )
        day += dt.timedelta(days=1)
    return out


def _sleep_schema() -> StructType:
    from pyspark.sql.types import BooleanType

    leaf = {
        "id": StringType(),
        "metric": DoubleType(),
        "ts_start": StringType(),
        "ts_end": StringType(),
        "ts_str": StringType(),
        "bool": BooleanType(),
        "digits": StringType(),
        "sleep_type": StringType(),
        "version": StringType(),
        "int_list": ArrayType(LongType()),
    }
    root: dict = {}
    for path, kind in SLEEP_FIELDS:
        parts = path.split(".")
        node = root
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = leaf[kind]

    def build(d: dict) -> StructType:
        return StructType(
            [
                StructField(n, build(v) if isinstance(v, dict) else v)
                for n, v in d.items()
            ]
        )

    return build(root)


def fetch_detailed_sleep_df(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    return spark.createDataFrame(
        fetch_detailed_sleep(start, end), _sleep_schema()
    )
