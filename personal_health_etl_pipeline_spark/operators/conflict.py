"""Duplicate-key conflict detection (reference J3).

The reference raises mid-scan when two raw blobs contain the same day
(``load.py:277-302``). Per-row raising doesn't exist in a distributed
transform, so the engine restructures it as validate-then-act
(SURVEY.md §7 "error-as-dataflow"): an aggregate counts conflicting
keys, the pipeline fails *before* the write if any exist.

``conflicting_keys`` is also exposed as a plain query (groupBy + HAVING
count > 1) so data-quality probes can run it without the raise.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DuplicateKeyError(ValueError):
    """Raised when a frame violates a uniqueness invariant."""


def conflicting_keys(df: DataFrame, key: str | Sequence[str] = "day") -> DataFrame:
    """Keys appearing more than once, with their multiplicities."""
    return _key_counts(df, key).where(F.col("n_records") > 1)


def _key_counts(df: DataFrame, key: str | Sequence[str]) -> DataFrame:
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_records"))


def assert_unique_key(
    df: DataFrame, key: str | Sequence[str] = "day", sample: int = 5
) -> int:
    """Fail fast (with offending keys cited) if ``key`` is not unique.

    ``key`` is one column or a composite, e.g. ``("data_type", "day")``.
    Returns the number of distinct keys, so the check doubles as the
    caller's emptiness probe: one aggregation reduces the per-key counts
    to (distinct keys, conflicting keys). Only on failure does a second
    job bring ``sample`` offending keys to the driver for the message.
    """
    counts = _key_counts(df, key)
    n_keys, n_bad = counts.agg(
        F.count(F.lit(1)), F.count_if(F.col("n_records") > 1)
    ).first()
    if n_bad:
        keys = counts.columns[:-1]  # the key columns, then n_records
        bad = conflicting_keys(df, key).limit(sample).collect()
        cited = ", ".join(
            ", ".join(f"{k}={r[k]!r}" for k in keys) + f" (x{r['n_records']})"
            for r in bad
        )
        raise DuplicateKeyError(
            f"{n_bad} duplicate {key!r} values detected: {cited}"
        )
    return n_keys
