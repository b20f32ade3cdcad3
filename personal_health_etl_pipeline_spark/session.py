"""SparkSession factory with scale-oriented defaults.

The reference pipeline runs single-process pandas inside an Airflow
PythonOperator (reference ``composer_dags/dags/oura_dag.py:32-42``); here
every stage is a Spark job. The defaults below are the ones that matter
at 100 TB and cost nothing locally:

* **AQE on** — runtime shuffle-partition coalescing, skew-join splitting
  and dynamic broadcast decisions replace hand-tuned partition counts.
* **UTC session timezone** — deterministic timestamp semantics across
  executors (and vs the DuckDB oracle, which is timezone-naive).
* **Arrow on** — any pandas interchange (the slow path) is batched.
* **Parquet pushdown/pruning left enabled** — operators are written so
  filters and projections reach the scan (verified in tests via
  ``.explain``).
* **Listing jobs capped at the shuffle-partition count** — a read of
  more than 32 paths (a backfill over hundreds of landed raw-zone
  ranges) starts a listing job; without the cap it runs one task per
  path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "personal-health-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    so tests and the bench harness share one code path; on a real cluster
    the caller passes the cluster master / relies on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # Python workers deserialize pandas-UDF closures by module reference,
    # so the package root must be importable on every worker regardless
    # of the driver's cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (pkg_root, os.environ.get("PYTHONPATH")) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        # managed-table home for bucketed tables (sources/bucketed.py);
        # kept out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # some testdata generations store events.ts as TIMESTAMP(NANOS),
        # which Spark's reader rejects unless nanos are surfaced as long;
        # the events loader (sources/tables.py) then converts to
        # truncated-µs timestamps, matching DuckDB's ns->µs truncation.
        # Harmless when the data is already µs (current generation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
