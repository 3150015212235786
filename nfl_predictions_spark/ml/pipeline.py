"""The two-model pipeline (SURVEY.md §2A#17-20), retrained natively.

Reference saved-model contract (decoded from
``assets/static/assets/nfl_model_pass/`` metadata):
  StringIndexer(PlayType_lag -> PlayType_lag_index,
                handleInvalid='error', labels frequency-desc)
  -> VectorAssembler([qtr, down, TimeSecs, yrdline100, ydstogo, ydsnet,
                      month_day, PlayType_lag_index] -> features)
  -> GBTRegressor(labelCol='Yards_Gained', maxIter=20, maxDepth=5,
                  maxBins=350, stepSize=0.1, lossType='squared',
                  impurity='variance', subsamplingRate=1.0, seed=12345)

The engine does NOT depend on the 2017 Spark-2.1 artifacts: it retrains
with the same params/seed on whatever plays table it is given (SURVEY §7
risk 2 — cross-version tree reproducibility is not guaranteed, so golden
tests pin *our* predictions, semantic tests guard regressions).

On-disk form: ``save_models``/``load_models`` own it. ``save_models``
writes Spark ML's *local* format: the JVM thread-local
``ReadWriteUtils.localSavingModeState`` (Spark 4.x; Spark Connect's
model cache uses it) makes every stage writer and reader do plain file
I/O instead of ``spark.read.text``/``parquet`` jobs, so loading the two
pipelines launches no Spark job (Spark's standard layout costs 26 small
jobs, the first a fresh JVM runs, ~8 s of server start-up). The flag is
Spark-internal, so its contract is pinned by tests/test_ml.py: zero
jobs per load, round-trip equality, the flag reset after each call. A
pipeline whose ``metadata`` is a directory is Spark's standard layout
(the reference's shipped artifacts, or a cache from an older writer);
``load_models`` still loads it, through ``PipelineModel.load``, and logs
one warning.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame

from nfl_predictions_spark.ml.features import split_by_playtype
from nfl_predictions_spark.schemas import FEATURE_COLS

log = logging.getLogger(__name__)

#: Tag of the format ``save_models`` writes; part of every cache key.
MODEL_FORMAT = "local"

#: GBT params as decoded from the reference model metadata (§2A#19).
GBT_PARAMS = dict(
    maxIter=20,
    maxDepth=5,
    maxBins=350,
    stepSize=0.1,
    lossType="squared",
    impurity="variance",
    subsamplingRate=1.0,
    seed=12345,
)


def build_pipeline(label_col: str = "Yards_Gained") -> Pipeline:
    indexer = StringIndexer(
        inputCol="PlayType_lag",
        outputCol="PlayType_lag_index",
        handleInvalid="error",  # unseen label => error, reference contract
        stringOrderType="frequencyDesc",
    )
    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    gbt = GBTRegressor(featuresCol="features", labelCol=label_col, **GBT_PARAMS)
    return Pipeline(stages=[indexer, assembler, gbt])


def train_models(plays_with_features: DataFrame) -> tuple[PipelineModel, PipelineModel]:
    """Fit the pass and run pipelines on their PlayType subsets.

    The input should already have PlayType_lag/month_day (see
    ``features.build_features``). Both subsets are derived from one
    scan; Spark caches nothing implicitly here — callers training on big
    data should ``.persist()`` the featurized table first so the two
    fits don't re-read the source.
    """
    pass_df, run_df = split_by_playtype(plays_with_features)
    return build_pipeline().fit(pass_df), build_pipeline().fit(run_df)


@contextmanager
def _local_format():
    """Switch this thread's JVM ML readers and writers to the local format."""
    state = SparkContext._jvm.org.apache.spark.ml.util.ReadWriteUtils.localSavingModeState()
    state.set(True)
    try:
        yield
    finally:
        state.set(False)


def save_models(pass_model: PipelineModel, run_model: PipelineModel, root: str) -> None:
    """Write both pipelines in the local format (see the module docstring)."""
    with _local_format():
        pass_model.write().overwrite().save(f"{root}/nfl_model_pass")
        run_model.write().overwrite().save(f"{root}/nfl_model_run")


def _load(path: str) -> PipelineModel:
    metadata = os.path.join(path, "metadata")
    if os.path.isfile(metadata):
        with _local_format():
            java_model = SparkContext._jvm.org.apache.spark.ml.PipelineModel.load(path)
        return PipelineModel._from_java(java_model)
    if os.path.isdir(metadata):
        log.warning("%s is in Spark's standard layout; loading it with Spark jobs", path)
    return PipelineModel.load(path)


def load_models(root: str) -> tuple[PipelineModel, PipelineModel]:
    """Load the pair ``save_models`` wrote: no Spark job in the local
    format, Spark's standard layout through ``PipelineModel.load``."""
    return _load(f"{root}/nfl_model_pass"), _load(f"{root}/nfl_model_run")
