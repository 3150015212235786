"""SparkSession factory (SURVEY.md §7 M0).

One place to encode the engine's scale posture: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (fast
pandas interchange for the pandas-UDF operators), UTC session timezone,
and a shuffle-partition count that scales with the configured
parallelism instead of the 200 default.

On the test rig this runs ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same builder is used with whatever master the deployment
provides — nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "nfl_predictions_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale notes (100 TB posture):
    - ``spark.sql.adaptive.enabled``: AQE re-plans joins, coalesces
      post-shuffle partitions and splits skewed ones at runtime — the
      main defense against skew at 1000-executor scale.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number;
      AQE coalesces down. We size it to ~4x parallelism locally; a
      cluster deployment should size it to ~2-3x total cores.
    - Arrow execution makes the pandas-UDF operators (grouped-map
      normalization, embedding ops) batch-transfer instead of
      row-at-a-time pickling.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TESTDATA events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read nanos as long and convert at
        # the source (sources/tables.py) — truncation to micros matches
        # what DuckDB/Arrow do when downcasting.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The UI is off by default (test speed; perfbench/common.py pins
        # SPARK_GRAFT_UI=false). SPARK_GRAFT_UI=true turns it on, to read
        # per-stage shuffle/spill metrics from the status REST API.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.retainedStages", "20000")
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED") and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    else:  # pragma: no cover - cluster deployment path
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()
