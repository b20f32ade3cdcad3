"""Raw zone: range-partitioned landing area, one write and one scan per run.

The reference lands every API response as one JSON blob under a
range-encoded GCS path ``raw/oura/{type}/{start}_{end}/data.json`` and
prunes scans by *parsing dates out of paths* in driver Python
(reference ``constants.py:55``, ``load.py:243-270``,
``common_utils.py:34-83``). The Spark-native layout makes the type and
the range Hive partition columns instead::

    {root}/data_type=daily_sleep/range_start=2024-01-01/range_end=2024-01-07/

and keeps the reference's pruning idea: :func:`landed_ranges` lists the
partition directories in the driver (no data file touched), and both
directions of traffic work from that listing.

* :func:`write_raw` lands every data type's new range in ONE
  ``partitionBy("data_type", "range_start", "range_end")`` write with
  dynamic partition overwrite: only the landed partitions are
  replaced, a rerun of a range overwrites it, and per-type row counts
  ride along the write as observed metrics.
* :func:`scan_raw` hands the reader exactly the partition directories
  that overlap the window, for every requested type at once. There is
  no glob, so the landed past is never listed: the cost of a daily
  scan follows the new day. Up to Spark's 32-path
  ``parallelPartitionDiscovery.threshold`` Spark lists the directories
  without a job; a longer window (a backfill, a catch-up after
  ``truncate_warehouse``) starts one listing job, whose task count
  ``get_spark`` caps at the shuffle-partition count instead of one
  task per directory.

Files are JSON to mirror the raw-zone format (S5); the scan declares
the record schema up front (no inference pass). Empty extractions still
leave a partition directory holding only a ``_SUCCESS`` marker, so the
range counts as processed (``extract.py:187-193``).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re
import shutil
from functools import reduce
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from personal_health_etl_pipeline_spark.functions.sqltext import quote_ident, sql_string

_PART_RE = re.compile(
    r"data_type=(?P<dtype>[^/]+)/range_start=(?P<start>\d{4}-\d{2}-\d{2})/"
    r"range_end=(?P<end>\d{4}-\d{2}-\d{2})$"
)
_PARTITION_COLUMNS = ("data_type", "range_start", "range_end")


class OverlappingRangeError(ValueError):
    """Two landed ranges for one data type overlap (common_utils.py:60-67)."""


def _partition_path(root: str, data_type: str, start: dt.date, end: dt.date) -> str:
    return (
        f"{root}/data_type={data_type}/range_start={start.isoformat()}"
        f"/range_end={end.isoformat()}"
    )


def write_raw(
    root: str, landings: Mapping[str, tuple[DataFrame, dt.date, dt.date]]
) -> dict[str, int]:
    """S5: land one extracted range per data type, all in one write.

    ``landings`` maps each data type to ``(records, start, end)``. Each
    frame is tagged with its partition values, the frames are unioned,
    and the union is written once. Returns the rows landed per type,
    counted by the write itself. A type with no rows still gets its
    partition directory, holding only a ``_SUCCESS`` marker.
    """
    tagged = [
        df.selectExpr(
            "*",
            f"{sql_string(dtype)} AS `data_type`",
            f"{sql_string(start.isoformat())} AS `range_start`",
            f"{sql_string(end.isoformat())} AS `range_end`",
        )
        for dtype, (df, start, end) in landings.items()
    ]
    obs = Observation()
    reduce(DataFrame.unionByName, tagged).observe(
        obs,
        *[
            F.expr(f"count_if(`data_type` = {sql_string(t)}) AS {quote_ident(t)}")
            for t in landings
        ],
    ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *_PARTITION_COLUMNS
    ).json(root)
    counts = {t: obs.get[t] for t in landings}
    for dtype, (_, start, end) in landings.items():
        if counts[dtype] == 0:
            # no row means no partition in the write: leave the
            # processed-marker by hand, replacing whatever was there
            path = _partition_path(root, dtype, start, end)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            open(os.path.join(path, "_SUCCESS"), "w").close()
    return counts


def landed_ranges(root: str, data_type: str) -> list[tuple[dt.date, dt.date]]:
    """Discover landed (start, end) ranges for a data type, sorted;
    overlapping ranges are a hard error (reference invariant).

    Driver-side directory listing of *partition directories only* (no
    data files touched) — the streaming-scale equivalent is the
    metastore/manifest listing every table format already maintains.
    """
    pattern = f"{root}/data_type={data_type}/range_start=*/range_end=*"
    ranges: list[tuple[dt.date, dt.date]] = []
    for path in glob.glob(pattern):
        m = _PART_RE.search(path)
        if not m or m.group("dtype") != data_type:
            raise ValueError(f"malformed raw-zone partition path: {path}")
        ranges.append(
            (dt.date.fromisoformat(m.group("start")), dt.date.fromisoformat(m.group("end")))
        )
    ranges.sort()
    for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
        if s2 <= e1:
            raise OverlappingRangeError(
                f"{data_type}: range {s2}..{e2} overlaps {s1}..{e1}"
            )
    return ranges


def max_landed_date(root: str, data_type: str) -> dt.date | None:
    """A1 over the raw zone: latest landed range end (None if nothing)."""
    ranges = landed_ranges(root, data_type)
    return ranges[-1][1] if ranges else None


def scan_raw(
    spark: SparkSession,
    root: str,
    data_types: str | Sequence[str],
    start: dt.date,
    end: dt.date,
    schema: StructType,
) -> DataFrame:
    """S6 + P2: one relation over every landed range of ``data_types``
    that overlaps ``[start, end)``, with a ``data_type`` column.

    The overlapping ranges are picked from the driver listing
    (:func:`landed_ranges`) and read as explicit partition directories
    under ``basePath``: ranges outside the window are never listed or
    opened. The half-open day filter then drops out-of-range rows
    *inside* kept ranges, mirroring ``load.py:286-288``.
    """
    types = (data_types,) if isinstance(data_types, str) else tuple(data_types)
    paths = [
        _partition_path(root, t, lo, hi)
        for t in types
        for lo, hi in landed_ranges(root, t)
        if hi >= start and lo < end
    ]
    # partition values are declared strings: no type inference, and a
    # window of marker-only directories still yields the full schema
    full = StructType(
        schema.fields + [StructField(c, StringType()) for c in _PARTITION_COLUMNS]
    )
    if not paths:
        df = spark.createDataFrame([], full)
    else:
        df = spark.read.schema(full).option("basePath", root).json(paths)
    # ISO date strings compare lexicographically == chronologically, so
    # the filter works whether `day` is a wire string or a date
    in_range = (
        f"CAST(`day` AS STRING) >= {sql_string(start.isoformat())}"
        f" AND CAST(`day` AS STRING) < {sql_string(end.isoformat())}"
    )
    return df.where(in_range).drop("range_start", "range_end")
