"""SparkSession factory (SURVEY.md §7 M0).

One place to encode the engine's scale posture: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (fast
pandas interchange for the pandas-UDF operators), UTC session timezone,
and a shuffle-partition count that scales with the configured
parallelism instead of the 200 default.

``get_spark`` is the one writer of session conf. A session is shared by
every query, stream and fit that runs in the process, so a query that
re-tunes it changes the plans of whatever runs next, and a set-and-restore
pair around one query races with any other thread using the session.
Queries therefore read the conf, never write it. The one sanctioned
exception is ``scoped_conf``: a handful of queries demonstrate a plan
posture (CBO join reordering, AQE's runtime broadcast, runtime Bloom
filters, the RocksDB state store) that needs a non-default flag while
their own plan is built, and restore it before they return.

On the test rig this runs ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same builder is used with whatever master the deployment
provides — nothing here assumes local mode.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "nfl_predictions_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale notes (100 TB posture):
    - ``spark.sql.adaptive.enabled``: AQE re-plans joins, coalesces
      post-shuffle partitions and splits skewed ones at runtime — the
      main defense against skew at 1000-executor scale.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number:
      2x the configured parallelism. AQE coalesces post-shuffle
      partitions towards its advisory size
      (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB by
      default), which is what scales the shuffle with the input. A
      cluster sizes it through ``SPARK_GRAFT_CPUS`` (total cores).
      Streams bake the count into their state layout at start; their
      results do not depend on it.
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
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
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
        # Without Hadoop's native library (libhadoop) the local file system
        # starts a shell per file op: a `chmod` for every file it creates
        # (twice with the .crc checksum sidecar) and, through FileContext's
        # renames, a `readlink` per link-status lookup. The raw local FS (no
        # .crc, file:// paths only) and the FileSystem-based checkpoint
        # manager (plain FileSystem.rename for the offset, commit and
        # _spark_metadata logs) cut an 80k-row stream_route round from
        # 1 424 process launches to 202 on a 4-vCPU host.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Compiled whole-stage codegen classes live in one LRU cache per JVM,
        # built when the SparkContext starts, so only a context this factory
        # creates gets this size. Spark's default of 100 entries is below
        # the perfbench analytics mix's working set (12 queries, 166-177
        # classes), so the LRU evicted each class before its next use and
        # every repeated pass recompiled ~160 of them with Janino. 1000
        # holds ~6x that set, and metaspace after three passes is no larger
        # than with 100 (recompiled classes are loaded anew each time).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED") and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    else:  # pragma: no cover - cluster deployment path
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body only. On exit, also when the body
    raises, every key gets its earlier value back, and a key that was
    not set before is unset again."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
