"""Streaming window/watermark/dedup transformations (SURVEY §2B Q31-Q35).

Each builder takes a *streaming* events DataFrame and returns the
transformed streaming DataFrame; ``run_to_batch`` executes any of them
to completion with Trigger.AvailableNow into a memory sink and returns
the materialized result — deterministic because the file source replays
identical time-ordered chunks.

Scale notes: every one of these is a standard stateful streaming agg —
state is partitioned by group key across executors, watermarks bound
state size (windows older than the watermark are evicted), and the same
code runs unchanged in a continuous deployment (drop the trigger).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_counter = itertools.count()


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """Q31: events per 1-minute tumbling window."""
    return (
        stream.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )


def sliding_counts(stream: DataFrame) -> DataFrame:
    """Q32: 2-minute windows sliding every 1 minute."""
    return (
        stream.groupBy(F.window("ts", "2 minutes", "1 minute").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )


def session_counts(stream: DataFrame, gap: str = "30 seconds") -> DataFrame:
    """Q33: per-user session windows with a 30 s inactivity gap."""
    return (
        stream.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )


def watermarked_tumbling(stream: DataFrame, delay: str = "1 minute") -> DataFrame:
    """Q34: tumbling counts under a watermark — in append mode only
    windows finalized below the final watermark are emitted; later
    windows stay in (bounded) state."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "cnt")
    )


def stateful_dedup(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Q35: exactly-once by event_id within the watermark horizon —
    duplicate arrivals in later micro-batches are dropped by keyed
    state; the watermark bounds how long each key is remembered."""
    return (
        stream.withWatermark("ts", delay)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def run_to_batch(
    spark: SparkSession, streaming_df: DataFrame, mode: str = "append"
) -> DataFrame:
    """Execute a streaming transformation to completion (AvailableNow)
    into a memory sink; return the sink contents as a batch DataFrame.
    The query runs on Spark's temporary checkpoint, which the session
    deletes when the query stops.

    The query runs at the session's shuffle-partition count, which it
    bakes into its state layout at start; results do not depend on it.
    """
    name = f"nflspark_sink_{next(_counter)}"
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)
