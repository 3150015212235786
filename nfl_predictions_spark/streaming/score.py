"""Streaming score-and-route (SURVEY §2A#25-26, §2B Q36).

The reference's NiFi flow POSTs each simulated play to the Flask /api
and routes response vs failure flowfiles. The engine form is two plain
Structured Streaming queries over the same request stream, each written
by the native parquet file sink:

- **scored**: the rows ``request_error`` passes, scored by both models
  (``score_best_play``), to ``out_root/scored``;
- **dead_letter**: every other row, with the ``request_error`` string as
  ``reason``, to ``out_root/dead_letter``.

Validation is declarative (``ml.score.request_error``, the rules the /api
applies), so a null field or an unseen label routes to the dead letter
instead of failing the batch. The model transforms are planned once per
query, and each micro-batch is one JVM-planned job with no Python
callback.

Each query keeps its checkpoint under ``out_root/_checkpoints/<route>``,
and the file sink records committed batches in its ``_spark_metadata``
log, so a rerun with the same ``out_root`` resumes where the last one
stopped and neither sink gains duplicates. That exactly-once guarantee
holds for readers that go through Spark (``spark.read.parquet``), which
honours the metadata log; a reader listing the directory itself may
also see files of a batch that failed before its commit.
"""

from __future__ import annotations

import os

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession

from nfl_predictions_spark.ml.score import request_error, score_best_play

#: Seconds each query may take to drain its input.
TIMEOUT_S = 300


def score_and_route(
    spark: SparkSession,
    requests_stream: DataFrame,
    pass_model: PipelineModel,
    run_model: PipelineModel,
    out_root: str,
) -> tuple[str, str]:
    """Run both routes to completion (AvailableNow); returns the success
    and dead-letter sink dirs (parquet). If either query fails or does
    not finish within ``TIMEOUT_S``, stops both and raises."""
    labels = set(pass_model.stages[0].labels) & set(run_model.stages[0].labels)
    error = request_error(labels)
    routes = {
        # started first: perfbench's stream_route times the first query started
        "scored": score_best_play(pass_model, run_model, requests_stream.filter(error.isNull())),
        "dead_letter": requests_stream.filter(error.isNotNull()).withColumn("reason", error),
    }
    queries = []
    try:
        for route, df in routes.items():
            queries.append(
                df.writeStream.format("parquet")
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(out_root, "_checkpoints", route))
                .start(os.path.join(out_root, route))
            )
        for q in queries:
            if not q.awaitTermination(TIMEOUT_S):
                raise TimeoutError(f"query {q.id} did not finish within {TIMEOUT_S} s")
    finally:
        for q in queries:
            q.stop()
    return os.path.join(out_root, "scored"), os.path.join(out_root, "dead_letter")
