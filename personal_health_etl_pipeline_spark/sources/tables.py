"""Load the benchmark/test star schema from a scale-factor directory.

``/root/testdata/sf*/`` holds one parquet file per table (TESTDATA.md).
Reads are plain ``spark.read.parquet`` so Catalyst keeps full pushdown /
pruning freedom; no DATA is cached or collected here. What IS cached is
the relation handle: ``spark.read.parquet`` pays a driver-side file
listing + footer schema read (~120-170 ms per call measured at sf0.1),
so :func:`load_table` memoizes the resolved DataFrame per (session,
path, file mtime) — the same metadata a warehouse catalog would hold;
a real deployment registers tables ONCE, it does not re-infer schemas
per query (the DuckDB baseline likewise creates its views once). The
mtime in the key makes the memo self-invalidating when a test fixture
overwrites the path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should be broadcast when joined against a
# fact table at any scale factor (region/nation are bounded; customer,
# supplier and part grow with SF but stay orders of magnitude below
# lineitem — at 100 TB they may exceed the broadcast threshold, which is
# why joins below use broadcast() only for the bounded dims and let AQE
# decide for the rest).
BOUNDED_DIMS = ("region", "nation")


_LOAD_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None  # non-local path (or missing): skip the memo
    key = (spark.sparkContext.applicationId, path, mtime)
    if mtime is not None and key in _LOAD_MEMO:
        return _LOAD_MEMO[key]
    df = _read_table(spark, path, name)
    if mtime is not None:
        _LOAD_MEMO[key] = df
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores INT64 TIMESTAMP(NANOS); Spark refuses that
        # physical type unless nanosAsLong is on. The repo's own session
        # factory sets it at build time (session.py), but load_table must
        # also work on a vanilla SparkSession (e.g. an external harness),
        # and the conf is runtime-settable SQLConf, so set it here too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet read via nanosAsLong: truncate to µs
            # (same truncation DuckDB applies reading the file).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Plain timestamp[us] parquet (no UTC adjustment flag) reads as
            # TIMESTAMP_NTZ, which Spark 4 refuses to cast to numeric types
            # downstream. Pin the wall clock to UTC explicitly — NOT via a
            # plain cast, which would shift the epoch under a non-UTC
            # session timezone (load_table must behave identically on a
            # vanilla harness session).
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df
