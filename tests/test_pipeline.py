"""End-to-end batch ETL tests: extract -> raw zone -> transform -> load.

Mirrors the reference pipeline's behavior contract (SURVEY.md §3):
watermark incrementality, chunked extraction, pruned raw scans, wide
combine, schema-aligned append, duplicate-day failure, overlapping
raw ranges failure, idempotence (running twice loads nothing new).
"""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.operators.conflict import DuplicateKeyError
from personal_health_etl_pipeline_spark.pipeline import (
    OverlappingRangeError,
    PipelineConfig,
    landed_ranges,
    max_landed_date,
    run_extract,
    run_pipeline,
    run_transform,
    scan_raw,
    warehouse_distinct_days,
    warehouse_has_day,
    write_raw,
)
from personal_health_etl_pipeline_spark.pipeline import etl
from personal_health_etl_pipeline_spark.pipeline.etl import truncate_warehouse, warehouse_schema
from personal_health_etl_pipeline_spark.pipeline.fixtures import (
    RECORD_SCHEMA,
    fetch_range,
    fetch_range_df,
)

TODAY = dt.date(2024, 3, 1)


def _cfg(tmp_path, **kw) -> PipelineConfig:
    return PipelineConfig(
        raw_root=str(tmp_path / "raw"),
        warehouse_path=str(tmp_path / "warehouse"),
        historical_days=kw.pop("historical_days", 9),
        **kw,
    )


class TestExtract:
    def test_backfill_then_incremental(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        landed = run_extract(spark, cfg, TODAY)
        # 10 days landed per type: yesterday-9 .. yesterday inclusive
        assert landed == {t: 10 for t in cfg.data_types}
        assert max_landed_date(cfg.raw_root, "daily_sleep") == TODAY - dt.timedelta(1)

        # next day: exactly one new day per type
        landed2 = run_extract(spark, cfg, TODAY + dt.timedelta(days=1))
        assert landed2 == {t: 1 for t in cfg.data_types}
        # same day again: nothing to do
        assert run_extract(spark, cfg, TODAY + dt.timedelta(days=1)) == {}

    def test_empty_type_still_marks_its_range(self, spark, tmp_path):
        cfg = _cfg(tmp_path)

        def source(spark, dtype, start, end):
            if dtype == "daily_sleep":
                return spark.createDataFrame([], RECORD_SCHEMA)
            return fetch_range_df(spark, dtype, start, end)

        landed = run_extract(spark, cfg, TODAY, source=source)
        assert landed == {t: 0 if t == "daily_sleep" else 10 for t in cfg.data_types}
        # the empty range is processed: the next run starts after it
        assert max_landed_date(cfg.raw_root, "daily_sleep") == TODAY - dt.timedelta(1)
        assert run_extract(spark, cfg, TODAY + dt.timedelta(days=1)) == {
            t: 1 for t in cfg.data_types
        }

    def test_chunked_extraction_equals_unchunked(self, spark, tmp_path):
        cfg = _cfg(tmp_path, data_types=("heartrate",), chunk_days={"heartrate": 3})
        run_extract(spark, cfg, TODAY)
        got = scan_raw(
            spark,
            cfg.raw_root,
            "heartrate",
            TODAY - dt.timedelta(days=10),
            TODAY,
            RECORD_SCHEMA,
        )
        expect = fetch_range("heartrate", TODAY - dt.timedelta(days=10), TODAY - dt.timedelta(days=1))
        assert sorted(r["day"] for r in got.collect()) == sorted(r["day"] for r in expect)


class TestRawZone:
    def test_scan_prunes_nonoverlapping_ranges(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        jan = fetch_range_df(spark, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        feb = fetch_range_df(spark, "daily_sleep", dt.date(2024, 2, 1), dt.date(2024, 2, 7))
        write_raw(root, {"daily_sleep": (jan, dt.date(2024, 1, 1), dt.date(2024, 1, 7))})
        write_raw(root, {"daily_sleep": (feb, dt.date(2024, 2, 1), dt.date(2024, 2, 7))})

        got = scan_raw(
            spark, root, "daily_sleep", dt.date(2024, 2, 1), dt.date(2024, 2, 4), RECORD_SCHEMA
        )
        days = sorted(r["day"] for r in got.collect())
        assert days == ["2024-02-01", "2024-02-02", "2024-02-03"]
        # partition pruning: the scan reads partition directories ...
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "range_start" in plan
        # ... and no January file is ever opened
        files = got.inputFiles()
        assert files and all("range_start=2024-02-01" in f for f in files)
        assert not any("range_start=2024-01" in f for f in files)

    def test_overlapping_ranges_raise(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        df = fetch_range_df(spark, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        write_raw(root, {"daily_sleep": (df, dt.date(2024, 1, 1), dt.date(2024, 1, 7))})
        write_raw(root, {"daily_sleep": (df, dt.date(2024, 1, 5), dt.date(2024, 1, 9))})
        with pytest.raises(OverlappingRangeError):
            landed_ranges(root, "daily_sleep")

    def test_empty_extraction_is_processed_marker(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        empty = spark.createDataFrame([], RECORD_SCHEMA)
        assert write_raw(
            root, {"daily_sleep": (empty, dt.date(2024, 1, 1), dt.date(2024, 1, 2))}
        ) == {"daily_sleep": 0}
        # the range counts as landed (watermark advances past it) ...
        assert max_landed_date(root, "daily_sleep") == dt.date(2024, 1, 2)
        # ... and scanning it yields zero rows, not an error
        got = scan_raw(
            spark, root, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 2, 1), RECORD_SCHEMA
        )
        assert got.count() == 0


class TestTransformLoad:
    def test_end_to_end_wide_rows(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 10}

        wh = spark.read.parquet(cfg.warehouse_path)
        # parquet read-back loses nullability flags; names+types must match
        assert [(f.name, f.dataType) for f in wh.schema.fields] == [
            (f.name, f.dataType) for f in warehouse_schema(cfg.data_types).fields
        ]
        assert wh.count() == 10
        row = wh.where(F.col("day") == dt.date(2024, 2, 25)).first()
        expect = fetch_range("daily_sleep", dt.date(2024, 2, 25), dt.date(2024, 2, 25))[0]
        assert row["daily_sleep__score"] == expect["score"]
        assert row["daily_sleep__contributors__latency"] == expect["contributors"]["latency"]
        # arrays serialized as JSON strings at the boundary (F4)
        assert row["daily_sleep__met_items"].startswith("[")
        # wire timestamp coerce-parsed to a real timestamp (F3)
        assert row["daily_sleep__timestamp"].date() == dt.date(2024, 2, 25)

    def test_incremental_append_and_idempotence(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        run_transform(spark, cfg, TODAY)
        # property (SURVEY.md §5.3): transform twice -> zero new rows
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 0}
        assert spark.read.parquet(cfg.warehouse_path).count() == 10

        nxt = TODAY + dt.timedelta(days=1)
        run_extract(spark, cfg, nxt)
        assert run_transform(spark, cfg, nxt) == {"new_rows": 1}
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 11
        assert wh.select("day").distinct().count() == 11

    def test_duplicate_day_fails_before_write(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        dup_day = dt.date(2024, 2, 25)
        df = fetch_range_df(spark, "daily_sleep", dup_day, dup_day)
        # land the same day twice in two disjoint ranges (ranges don't
        # overlap, but the *row* appears in both -> J3 must fire)
        write_raw(cfg.raw_root, {"daily_sleep": (df, dup_day, dup_day)})
        nxt = dup_day + dt.timedelta(days=1)
        write_raw(
            cfg.raw_root,
            {"daily_sleep": (df.withColumn("day", F.lit(dup_day.isoformat())), nxt, nxt)},
        )
        write_raw(
            cfg.raw_root,
            {
                dtype: (fetch_range_df(spark, dtype, dup_day, dup_day), dup_day, dup_day)
                for dtype in cfg.data_types
                if dtype != "daily_sleep"
            },
        )
        with pytest.raises(DuplicateKeyError):
            run_transform(spark, cfg, TODAY)
        # validate-then-act: nothing was written
        import os

        assert not os.path.isdir(cfg.warehouse_path)


class TestFailBeforeWrite:
    """Every type's ranges and keys are checked before anything lands:
    a bad later type stops the whole run, not just its own slice."""

    def test_overlap_in_later_type_lands_nothing(self, spark, tmp_path):
        import os

        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        # a stray range of the LAST type overlapping its landed history
        last = cfg.data_types[-1]
        stray = f"{cfg.raw_root}/data_type={last}/range_start=2024-02-28/range_end=2024-03-05"
        os.makedirs(stray)
        open(f"{stray}/_SUCCESS", "w").close()

        def snapshot():
            return sorted(
                os.path.join(d, n) for d, _, names in os.walk(cfg.raw_root) for n in names
            )

        before = snapshot()
        with pytest.raises(OverlappingRangeError, match=last):
            run_extract(spark, cfg, TODAY + dt.timedelta(days=2))
        assert snapshot() == before

    def test_duplicate_in_any_type_cites_type_and_day(self, spark, tmp_path):
        import os

        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        # the last type re-lands an already-landed day in a new range
        last, dup_day, nxt = cfg.data_types[-1], dt.date(2024, 2, 25), TODAY
        df = fetch_range_df(spark, last, dup_day, dup_day)
        write_raw(cfg.raw_root, {last: (df, nxt, nxt)})
        with pytest.raises(DuplicateKeyError) as err:
            run_transform(spark, cfg, nxt + dt.timedelta(days=1))
        assert f"data_type={last!r}" in str(err.value)
        assert f"day={dup_day.isoformat()!r}" in str(err.value)
        assert not os.path.isdir(cfg.warehouse_path)


class TestRunCostFlatInHistory:
    """A daily run costs the same number of Spark jobs and tasks over
    20 or 60 days of landed history: its scan lists only the new day's
    partitions, so history past Spark's 32-path parallel-listing
    threshold adds no listing job."""

    MAX_JOBS = 12

    @staticmethod
    def _land_history(root: str, data_types, first: dt.date, last: dt.date) -> None:
        """One single-day range per type per day, written in the raw
        zone's partition layout without Spark."""
        import json
        import os

        day = first
        while day <= last:
            for dtype in data_types:
                part = f"{root}/data_type={dtype}/range_start={day}/range_end={day}"
                os.makedirs(part)
                with open(f"{part}/part-00000.json", "w") as fh:
                    for rec in fetch_range(dtype, day, day):
                        fh.write(json.dumps(rec) + "\n")
                open(f"{part}/_SUCCESS", "w").close()
            day += dt.timedelta(days=1)

    def _daily_run_cost(self, spark, tmp_path, history_days: int) -> tuple[int, int]:
        cfg = _cfg(tmp_path / f"h{history_days}", historical_days=history_days)
        self._land_history(
            cfg.raw_root,
            cfg.data_types,
            TODAY - dt.timedelta(days=history_days),
            TODAY - dt.timedelta(days=1),
        )
        assert run_pipeline(spark, cfg, TODAY)["new_rows"] == history_days
        group = f"daily-run-cost-{history_days}"
        with _job_group(spark, group):
            out = run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        assert out["new_rows"] == 1
        tasks = _tasks_per_job(spark, group)
        return len(tasks), sum(tasks)

    def test_daily_run_cost_is_flat_in_history(self, spark, tmp_path):
        jobs_20, tasks_20 = self._daily_run_cost(spark, tmp_path, 20)
        jobs_60, tasks_60 = self._daily_run_cost(spark, tmp_path, 60)
        assert jobs_20 <= self.MAX_JOBS and jobs_60 <= self.MAX_JOBS
        assert tasks_60 == tasks_20


class TestListingCap:
    """A scan of more than 32 partition directories (a backfill, or a
    catch-up after ``truncate_warehouse``) starts one listing job. Its
    task count follows ``spark.sql.shuffle.partitions``, not the number
    of landed directories."""

    def test_backfill_listing_job_is_capped(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        types = ("daily_sleep", "daily_activity", "daily_readiness")
        first, last = TODAY - dt.timedelta(days=60), TODAY - dt.timedelta(days=1)
        TestRunCostFlatInHistory._land_history(root, types, first, last)
        with _job_group(spark, "backfill-listing"):
            raw = scan_raw(spark, root, types, first, TODAY, RECORD_SCHEMA)
        tasks = _tasks_per_job(spark, "backfill-listing")
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert tasks, "a 180-directory scan lists in a Spark job"
        assert max(tasks) <= cap, f"listing jobs ran {tasks} tasks, cap {cap}"
        assert raw.count() == 60 * len(types)


class TestPy4jRoundTrips:
    """A daily run builds its projections (fold, flatten, schema align,
    raw-zone tagging) as SQL text with every name quoted, so its py4j
    traffic follows the number of projections, not of types x columns.
    Three types: about 4,100 round trips per daily run with ``Column``
    chains, about 460 as SQL text (both counts include py4j's
    object-release commands)."""

    MAX_CALLS = 1000

    def test_daily_run_round_trip_budget(self, spark, tmp_path, monkeypatch):
        import gc

        from py4j.clientserver import ClientServerConnection

        cfg = _cfg(tmp_path)
        run_pipeline(spark, cfg, TODAY)
        gc.collect()  # release earlier tests' JVM objects outside the count
        calls = []
        real_send = ClientServerConnection.send_command

        def counting_send(self, command):
            calls.append(1)
            return real_send(self, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
        out = run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        monkeypatch.undo()
        assert out["new_rows"] == 1
        assert 0 < len(calls) <= self.MAX_CALLS, f"{len(calls)} py4j round trips"

    def test_wide_fold_quotes_names_and_values(self, spark):
        """The fold's SQL text survives a column named with a dot, a
        space, a backtick and braces, and a type name with a quote: same
        schema and rows as the ``Column``-built fold."""
        flat = spark.createDataFrame(
            [("d1", "it's", 1, "x"), ("d1", "b", 2, "y"), ("d2", "b", 3, None)],
            "day string, data_type string, `v.{0} w` int, `x``y` string",
        )
        types = ("it's", "b")
        values = ["v.{0} w", "x`y"]
        want = flat.groupBy("day").agg(
            *[
                F.max(F.when(F.col("data_type") == t, flat[f"`{c.replace('`', '``')}`"]))
                .alias(f"{t}__{c}")
                for t in types
                for c in values
            ]
        )
        got = etl._wide_by_day(flat, types)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


class TestProbes:
    def test_distinct_days_and_existence(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        assert warehouse_distinct_days(spark, cfg).count() == 0
        assert not warehouse_has_day(spark, cfg, TODAY)
        run_extract(spark, cfg, TODAY)
        run_transform(spark, cfg, TODAY)
        assert warehouse_distinct_days(spark, cfg).count() == 10
        assert warehouse_has_day(spark, cfg, TODAY - dt.timedelta(days=1))
        assert not warehouse_has_day(spark, cfg, TODAY)


@contextmanager
def _job_group(spark, group: str):
    """Run the block's Spark jobs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _tasks_per_job(spark, group: str) -> list[int]:
    """Tasks run by each job of ``group``."""
    sc = spark.sparkContext
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = []
    for job_id in tracker.getJobIdsForGroup(group):
        tasks = 0
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                tasks += st.numCompletedTasks + st.numFailedTasks
        out.append(tasks)
    return out


def _days(first: dt.date, last: dt.date) -> list[dt.date]:
    return [first + dt.timedelta(days=i) for i in range((last - first).days + 1)]


def _warehouse_days(spark, cfg) -> list[dt.date]:
    """Every warehouse row's day, sorted, duplicates kept."""
    import os

    if not os.path.isdir(cfg.warehouse_path):
        return []
    return sorted(r.day for r in spark.read.parquet(cfg.warehouse_path).select("day").collect())


class TestWarehouseRead:
    def test_unreadable_file_fails_the_run_instead_of_reloading_history(
        self, spark, tmp_path
    ):
        """Only a missing or data-less warehouse means "no watermark"; an
        unreadable file must not reset it and re-append the window."""
        import os

        cfg = _cfg(tmp_path, historical_days=4)
        assert run_pipeline(spark, cfg, TODAY)["new_rows"] == 5
        before = _warehouse_days(spark, cfg)
        stray = os.path.join(cfg.warehouse_path, "a-garbage.parquet")
        with open(stray, "wb") as fh:
            fh.write(b"not parquet")
        with pytest.raises(Exception, match="a-garbage.parquet"):
            run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        os.remove(stray)
        assert _warehouse_days(spark, cfg) == before

    def test_truncate_then_run_reloads_the_window(self, spark, tmp_path):
        cfg = _cfg(tmp_path, historical_days=4)
        run_pipeline(spark, cfg, TODAY)
        truncate_warehouse(spark, cfg)
        assert warehouse_distinct_days(spark, cfg).count() == 0
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 5}
        assert _warehouse_days(spark, cfg) == _days(
            TODAY - dt.timedelta(days=5), TODAY - dt.timedelta(days=1)
        )


class TestFailureDrill:
    """The daily ETL lands each day exactly once across a failure
    between extract and transform, a failure in the middle of the
    warehouse append, and a rerun of the same day."""

    def test_each_day_lands_once_across_failures_and_reruns(
        self, spark, tmp_path, monkeypatch
    ):
        cfg = _cfg(tmp_path, historical_days=3)
        first = TODAY - dt.timedelta(days=4)
        watermarks = []

        def check(today: dt.date, loaded_through: dt.date | None) -> None:
            days = _warehouse_days(spark, cfg)
            # one row per day, no duplicates, no gaps
            assert days == (_days(first, loaded_through) if loaded_through else [])
            watermarks.append(days[-1] if days else dt.date.min)
            assert watermarks == sorted(watermarks)  # never goes backwards
            for dtype in cfg.data_types:
                assert max_landed_date(cfg.raw_root, dtype) == today - dt.timedelta(1)

        # 1. transform fails once after extract has landed, then rerun
        real_transform = etl.run_transform
        failed = []

        def transform_fails_once(*args, **kwargs):
            if not failed:
                failed.append(True)
                raise RuntimeError("injected transform failure")
            return real_transform(*args, **kwargs)

        monkeypatch.setattr(etl, "run_transform", transform_fails_once)
        with pytest.raises(RuntimeError, match="injected transform"):
            run_pipeline(spark, cfg, TODAY)
        check(TODAY, None)
        out = run_pipeline(spark, cfg, TODAY)
        assert out["extracted"] == {} and out["new_rows"] == 4
        check(TODAY, TODAY - dt.timedelta(1))

        # 2. the warehouse append fails mid-job on one of two new days
        later = TODAY + dt.timedelta(days=2)
        bad_day = TODAY + dt.timedelta(days=1)
        real_align = etl.align_to_schema

        def align_then_fail_on_bad_day(df, schema):
            aligned = real_align(df, schema)
            return aligned.withColumn(
                "day",
                F.when(
                    F.col("day") == F.lit(bad_day),
                    F.raise_error(F.lit("injected append failure")),
                ).otherwise(F.col("day")),
            )

        monkeypatch.setattr(etl, "align_to_schema", align_then_fail_on_bad_day)
        with pytest.raises(Exception, match="injected append failure"):
            run_pipeline(spark, cfg, later)
        check(later, TODAY - dt.timedelta(1))
        monkeypatch.setattr(etl, "align_to_schema", real_align)
        out = run_pipeline(spark, cfg, later)
        assert out["extracted"] == {} and out["new_rows"] == 2
        check(later, later - dt.timedelta(1))

        # 3. rerun of the same day: nothing lands twice
        out = run_pipeline(spark, cfg, later)
        assert out == {"extracted": {}, "new_rows": 0}
        check(later, later - dt.timedelta(1))


class TestSingleExecution:
    def test_driver_never_recounts_lineage(self, spark, tmp_path, monkeypatch):
        """run_extract/run_transform report row counts via observed write
        metrics — any DataFrame.count() inside them would re-execute the
        full source/transform lineage (double-scan at warehouse scale)."""
        from pyspark.sql import DataFrame

        cfg = _cfg(tmp_path)

        def _no_count(self):
            raise AssertionError(
                "DataFrame.count() called inside the ETL driver path"
            )

        monkeypatch.setattr(DataFrame, "count", _no_count)
        out = run_pipeline(spark, cfg, TODAY)
        assert out["new_rows"] == 10
        # 3 data types x 10 days landed, counted via observed metrics
        assert out["extracted"] == {
            "daily_sleep": 10,
            "daily_activity": 10,
            "daily_readiness": 10,
        }


class TestSpecialCategorySlice:
    """SPECIAL-category end-to-end: heartrate (the reference's
    datetime-range, 7-day-chunked type, extract.py:48-80,133-149 /
    constants.py:20-49) must land in chunked ranges AND flow through
    the transform into the wide warehouse row. The reference stubs the
    SPECIAL transform as a TODO (transform.py:120-128); the engine
    carries the category the whole way."""

    def test_heartrate_lands_chunked_and_transforms(self, spark, tmp_path):
        import glob as _glob

        cfg = _cfg(
            tmp_path,
            data_types=("daily_sleep", "heartrate"),
            chunk_days={"heartrate": 7},
        )
        out = run_pipeline(spark, cfg, TODAY)
        # 10 days landed for both types; heartrate fetched in 7+3 chunks
        assert out["extracted"] == {"daily_sleep": 10, "heartrate": 10}
        assert out["new_rows"] == 10
        # chunking is an extract-window concern, landing is one range:
        # the union of chunk fetches lands as a single (start, end) dir
        dirs = _glob.glob(
            f"{cfg.raw_root}/data_type=heartrate/range_start=*/range_end=*"
        )
        assert len(dirs) == 1
        # transformed wide rows carry the SPECIAL type's columns
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 10
        row = wh.orderBy("day").first()
        assert row["heartrate__score"] is not None
        assert row["daily_sleep__score"] is not None
        assert row["heartrate__id"].startswith("heartrate-")

    def test_special_category_routes_through_registry(self, spark):
        """S2/S3: heartrate dispatches through the SPECIAL category with
        7-day fetch windows; an inverted window yields empty, matching
        the reference API contract."""
        import datetime as _dt

        from personal_health_etl_pipeline_spark.sources.registry import (
            CATEGORY_SPECIAL,
            DEFAULT_REGISTRY,
            extract_data_type,
        )

        spec = DEFAULT_REGISTRY["heartrate"]
        assert spec.category == CATEGORY_SPECIAL
        assert spec.chunk_days == 7
        start = _dt.date(2024, 3, 1)
        df = extract_data_type(spark, "heartrate", start, _dt.date(2024, 3, 17))
        assert df.count() == 17  # 7 + 7 + 3 chunk windows, unioned
        empty = extract_data_type(spark, "heartrate", start, _dt.date(2024, 2, 1))
        assert empty.count() == 0


class TestDetailedCategorySlice:
    """DETAILED-category end-to-end: workout (constants.py:20-49) —
    the last untested registry category. The reference stubs the
    DETAILED transform as a TODO (transform.py:120-128); the engine
    carries the category through extract -> raw zone -> transform ->
    warehouse exactly like DAILY, proving category routing never
    forks the data path."""

    def test_workout_lands_and_transforms(self, spark, tmp_path):
        cfg = _cfg(tmp_path, data_types=("daily_sleep", "workout"))
        out = run_pipeline(spark, cfg, TODAY)
        assert out["extracted"] == {"daily_sleep": 10, "workout": 10}
        assert out["new_rows"] == 10
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 10
        row = wh.orderBy("day").first()
        assert row["workout__score"] is not None
        assert row["workout__id"].startswith("workout-")
        # incremental day-2 run stays incremental for the DETAILED type
        out2 = run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        assert out2["extracted"] == {"daily_sleep": 1, "workout": 1}
        assert out2["new_rows"] == 1

    def test_detailed_category_routes_through_registry(self, spark):
        from personal_health_etl_pipeline_spark.sources.registry import (
            CATEGORY_DETAILED,
            DEFAULT_REGISTRY,
            extract_data_type,
        )

        spec = DEFAULT_REGISTRY["workout"]
        assert spec.category == CATEGORY_DETAILED
        assert spec.chunk_days is None
        got = extract_data_type(
            spark, "workout", dt.date(2024, 3, 1), dt.date(2024, 3, 3)
        )
        assert got.count() == 3
        # inverted window -> empty frame, reference API contract
        empty = extract_data_type(
            spark, "workout", dt.date(2024, 3, 3), dt.date(2024, 3, 1)
        )
        assert empty.count() == 0
