"""Driver-facing ML queries (SURVEY.md §2B Q37).

q37/q37b remain rows-only (end-to-end best-play composite and the
evaluator-metric surface), but since round 7 GBT INFERENCE itself is
value-exact: q37d dumps both saved ensembles' node tables + the
assembled per-request features and the DuckDB oracle re-runs every
prediction with a recursive-CTE root-to-leaf walk and the boosting
dot in tree order — bit-equal to MLlib's transform before the 1e-6
rounding. The pipeline's deterministic prefix — StringIndexer label
assignment and the assembled feature vector — is checked by q37c on
the driver's events table, and q87's feature importances replay the
gain aggregation from the same node parquet (round 5).
"""

from __future__ import annotations

import contextlib
import logging
import os

import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_predictions_spark import state
from nfl_predictions_spark.ml.features import build_features
from nfl_predictions_spark.ml.pipeline import (
    MODEL_FORMAT,
    load_models,
    save_models,
    train_models,
)
from nfl_predictions_spark.ml.score import GOLDEN_REQUEST, score_best_play
from nfl_predictions_spark.ml.synthetic import synthetic_plays
from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

log = logging.getLogger(__name__)

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

_TRAIN_GAMES = 24
_TRAIN_PLAYS = 120
#: fixed at import: the q87/q37d oracle strings read files under it
_CACHE_ROOT = state.path(
    # the local format belongs to the Spark version that wrote it
    f"models_g{_TRAIN_GAMES}x{_TRAIN_PLAYS}_pyspark{pyspark.__version__}_{MODEL_FORMAT}",
)


#: in-process handle memo: (root, session id) -> loaded PipelineModels.
#: Loading launches no Spark job but still builds both ensembles in the
#: JVM; the reference loads models ONCE at boot (assets/app_nfl.py:
#: 337-338), never per request, so the engine keeps the deserialized
#: handles for the life of the session. Keyed by session id because a
#: JVM restart invalidates the handles.
_LOADED_MODELS: dict = {}


def trained_models(spark: SparkSession):
    """Train-or-load the two pipelines on the deterministic synthetic
    plays table. Models are persisted by ``save_models`` in Spark ML's
    local format (loading them launches no Spark job), under a cache key
    that names the training size, the pyspark version and the format,
    and are loaded once per session — the reference loads models once
    at boot (assets/app_nfl.py:337-338), never per query.

    The cache is one ``state.atomic_stage`` entry: saved in a private
    directory, marked ``_SUCCESS`` and renamed into place, so two cold
    processes never interleave their writes and only a complete cache is
    loaded. Everything derived from the models (``_gbt_dirs``, the q87
    and q37d dumps) lives inside that entry, so a rebuilt cache replaces
    them too. A complete cache that fails to load is logged, demoted and
    rebuilt."""
    memo_key = (_CACHE_ROOT, spark.sparkContext.applicationId)
    cached = _LOADED_MODELS.get(memo_key)
    if cached is not None:
        return cached
    done = os.path.join(_CACHE_ROOT, "_SUCCESS")
    if os.path.exists(done):
        try:
            models = load_models(_CACHE_ROOT)
            _LOADED_MODELS[memo_key] = models
            return models
        except Exception:
            log.warning("model cache %s failed to load; retraining", _CACHE_ROOT, exc_info=True)
            with contextlib.suppress(OSError):
                os.remove(done)
    plays = build_features(synthetic_plays(spark, _TRAIN_GAMES, _TRAIN_PLAYS)).persist()
    try:
        pass_model, run_model = train_models(plays)
    finally:
        plays.unpersist()
    state.atomic_stage(_saver(lambda tmp: save_models(pass_model, run_model, tmp)), _CACHE_ROOT)
    _LOADED_MODELS[memo_key] = (pass_model, run_model)
    return pass_model, run_model


def _saver(save):
    """An ``atomic_stage`` writer: ``save(tmp)``, then mark it complete."""

    def write(tmp: str) -> None:
        save(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return write


#: lazy request-batch PLAN memo: (appId, n) -> DataFrame. The batch is
#: a pure deterministic function of n (seeded synthetic source, no
#: fixture dependence); rebuilding it cost ~0.5 s of py4j expression
#: construction per q37/q37d call. Same class as the table()/model
#: handle memos: a plan handle, re-executed from scratch at every sink.
_REQUEST_BATCH: dict = {}


def _request_batch(spark: SparkSession, n: int = 25) -> DataFrame:
    """Golden fixture + n deterministic synthetic requests."""
    key = (spark.sparkContext.applicationId, n)
    out = _REQUEST_BATCH.get(key)
    if out is None:
        golden = tuple(GOLDEN_REQUEST[f.name] for f in SCORE_REQUEST_SCHEMA.fields)
        plays = build_features(synthetic_plays(spark, 2, 60)).limit(n)
        reqs = plays.select(*[f.name for f in SCORE_REQUEST_SCHEMA.fields])
        one = spark.createDataFrame([golden], SCORE_REQUEST_SCHEMA)
        out = one.unionByName(reqs)
        _REQUEST_BATCH[key] = out
    return out


def q37_ml_best_play(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstructed reference pipeline end-to-end: StringIndexer
    (freq-desc, handleInvalid=error) -> VectorAssembler(8) -> GBT
    (seed 12345) x2, then the best-play rule as one vectorized pass."""
    pass_model, run_model = trained_models(spark)
    batch = _request_batch(spark)
    scored = score_best_play(pass_model, run_model, batch)
    return scored.select(
        "qtr",
        "down",
        "TimeSecs",
        "yrdline100",
        "ydstogo",
        "ydsnet",
        "month_day",
        "PlayType_lag",
        "best_play",
        F.round("passing_yards", 2).alias("passing_yards"),
        F.round("running_yards", 2).alias("running_yards"),
    ).orderBy("TimeSecs", "yrdline100", "ydstogo")


QUERIES["q37_ml_best_play"] = q37_ml_best_play


def q37b_ml_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of both models: RMSE/MAE/R2 on a disjoint
    deterministic synthetic season, plus the constant-mean baseline RMSE
    the model must beat (SURVEY §7 risk 2: semantic guards instead of
    cross-version tree equality)."""
    from pyspark.ml.evaluation import RegressionEvaluator

    pass_model, run_model = trained_models(spark)
    # Different game count => disjoint id space from the training table.
    holdout = build_features(synthetic_plays(spark, 6, 90)).persist()
    rows = []
    for label, model, ptype in (
        ("pass", pass_model, "Pass"),
        ("run", run_model, "Run"),
    ):
        subset = holdout.filter(F.col("PlayType") == ptype)
        pred = model.transform(subset).persist()
        evals = {
            m: RegressionEvaluator(
                labelCol="Yards_Gained", predictionCol="prediction", metricName=m
            ).evaluate(pred)
            for m in ("rmse", "mae", "r2")
        }
        base = subset.agg(
            F.stddev_pop("Yards_Gained").alias("sd"), F.count("*").alias("n")
        ).first()
        rows.append(
            (
                label,
                int(base.n),
                round(evals["rmse"], 4),
                round(evals["mae"], 4),
                round(evals["r2"], 4),
                round(float(base.sd), 4),
            )
        )
        pred.unpersist()
    holdout.unpersist()
    return spark.createDataFrame(
        rows, "model string, n_rows int, rmse double, mae double, r2 double, baseline_rmse double"
    ).orderBy("model")


QUERIES["q37b_ml_eval"] = q37b_ml_eval


def q37c_ml_index_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ML pipeline's deterministic prefix, value-checked against SQL:
    a REAL ``StringIndexer`` (handleInvalid=error, frequencyDesc — the
    exact config of the reference's saved stage, assets/static/assets/
    nfl_model_pass/stages/0_StringIndexer_*/metadata/part-00000:1) fit
    on a lag-derived categorical (the PlayType_lag shape of §2A#27,
    built from events exactly like q16), then a REAL ``VectorAssembler``
    (§2A#18). The emitted columns pin everything SQL can express:

    - ``lag_idx``: the fitted label index. Spark's frequencyDesc orders
      labels by count desc then alphabetically for ties — reproduced in
      the oracle as ``row_number() OVER (ORDER BY c DESC, lbl) - 1``.
    - ``vec_checksum``: a position-weighted sum of the assembled vector
      (1*value + 2*lag_idx + 3*user_id). Identical IEEE doubles on
      identical inputs, so a wrong slot order or dropped feature shows
      as a value mismatch, not just a row-count blip.

    The GBT remainder stays rows-only by necessity (q37); this entry
    turns the rest of the Q37 pipeline from 'trust the tests' into a
    driver-checkable green row. Scale: indexer fit = one map-side-
    combined count of a low-cardinality column; transform = broadcast
    label map, shuffle-free."""
    from pyspark.ml.feature import StringIndexer, VectorAssembler
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    from nfl_predictions_spark.sources.tables import table

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", F.col("value").cast("double")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn(
        "lag_label", F.lag("event_type", 1, "FirstEvent").over(w)
    ).withColumn("user_d", F.col("user_id").cast("double"))
    indexer = StringIndexer(
        inputCol="lag_label",
        outputCol="lag_idx",
        handleInvalid="error",
        stringOrderType="frequencyDesc",
    ).fit(lagged)
    assembled = VectorAssembler(
        inputCols=["value", "lag_idx", "user_d"], outputCol="features"
    ).transform(indexer.transform(lagged))
    arr = vector_to_array("features")
    return assembled.select(
        "event_id",
        "lag_label",
        F.col("lag_idx").cast("double").alias("lag_idx"),
        F.round(
            arr[0] * 1 + arr[1] * 2 + arr[2] * 3, 6
        ).alias("vec_checksum"),
    ).orderBy("event_id")


QUERIES["q37c_ml_index_assemble"] = q37c_ml_index_assemble
ORACLE["q37c_ml_index_assemble"] = """
WITH lagd AS (
  SELECT event_id, user_id, value,
    COALESCE(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             'FirstEvent') AS lag_label
  FROM events
), freq AS (
  SELECT lag_label AS lbl, count(*) AS c FROM lagd GROUP BY lbl
), ranked AS (
  SELECT lbl,
    CAST(row_number() OVER (ORDER BY c DESC, lbl) - 1 AS DOUBLE) AS lag_idx
  FROM freq
)
SELECT l.event_id, l.lag_label, r.lag_idx,
       ROUND(l.value * 1 + r.lag_idx * 2 + l.user_id * 3, 6) AS vec_checksum
FROM lagd l JOIN ranked r ON l.lag_label = r.lbl
ORDER BY l.event_id
"""


def _gbt_dirs(spark: SparkSession) -> dict[str, str]:
    """Each pipeline's GBT stage in Spark's standard layout — the
    ``data`` (tree nodes) and ``treesMetadata`` parquet tables the
    reference ships (the "fitted model as persisted dataset", PAPER.md
    §1) — written once per model-cache generation by a plain
    ``write().save()`` inside the model-cache entry, installed by
    ``state.atomic_stage``. The model cache itself holds the local
    format, which is not parquet."""
    out = {}
    for name, pipeline in zip(("pass", "run"), trained_models(spark)):
        path = os.path.join(_CACHE_ROOT, f"gbt_{name}")
        state.atomic_stage(_saver(pipeline.stages[-1].write().save), path)
        out[name] = path
    return out


_Q87_NODES = os.path.join(_CACHE_ROOT, "q87_nodes.parquet")


def dump_tree_nodes(spark: SparkSession) -> str:
    """Normalize both pipelines' saved GBT tree tables (``_gbt_dirs``:
    the reference's own on-disk model schema, data with treeID +
    nodeData(gain, split.featureIndex, impurityStats)) into ONE parquet
    at a deterministic path: (model, treeID, fidx, feature, gain, cnt)
    for internal nodes, plus treeID=-1 dimension rows carrying the full
    8-feature list. Written once per model-cache generation (atomic
    tempdir rename, the q164 idiom); both the Spark query and the DuckDB
    oracle then read the SAME bytes."""
    pass_model, _ = trained_models(spark)
    if os.path.exists(os.path.join(_Q87_NODES, "_SUCCESS")):
        return _Q87_NODES
    feats = list(pass_model.stages[-2].getInputCols())
    parts = []
    for model_name, gbt_dir in _gbt_dirs(spark).items():
        nodes = (
            spark.read.parquet(os.path.join(gbt_dir, "data"))
            .select(
                F.lit(model_name).alias("model"),
                F.col("treeID"),
                F.col("nodeData.split.featureIndex").alias("fidx"),
                F.col("nodeData.gain").alias("gain"),
                F.element_at("nodeData.impurityStats", 1).alias("cnt"),
            )
            .filter(F.col("fidx") >= 0)  # internal nodes only
        )
        dim = spark.createDataFrame(
            [(model_name, -1, i, 0.0, 0.0) for i in range(len(feats))],
            "model: string, treeID: int, fidx: int, gain: double, cnt: double",
        )
        parts.append(nodes.unionByName(dim))
    fmap = spark.createDataFrame(
        list(enumerate(feats)), "fidx: int, feature: string"
    )
    out = parts[0].unionByName(parts[1]).join(F.broadcast(fmap), "fidx")
    # state.atomic_stage owns the build-dir + rename-with-self-heal
    # idiom (one copy of the concurrency logic, not three)
    from nfl_predictions_spark.state import atomic_stage

    atomic_stage(out.coalesce(1), _Q87_NODES)
    return _Q87_NODES


def _tree_weights(spark: SparkSession, gbt_dir: str) -> DataFrame:
    """Read a saved GBT's treesMetadata as (treeID, weight).

    treesMetadata carries (treeID, metadata json, boosting weight). The
    reference's shipped artifacts (assets/static/assets/nfl_model_pass/
    stages/2_GBTRegressor_*/treesMetadata) use the NAMED columns
    treeID/metadata/weights; some MLlib writers serialize the row as an
    unnamed tuple (_1/_2/_3). Accept both (ADVICE r07 #1) so a
    reference-format checkpoint loads unchanged."""
    tm = spark.read.parquet(os.path.join(gbt_dir, "treesMetadata"))
    if "treeID" in tm.columns:
        return tm.select("treeID", F.col("weights").alias("weight"))
    return tm.select(F.col("_1").alias("treeID"), F.col("_3").alias("weight"))


def q87_ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model GBT feature importances — MLlib's exact algorithm
    (per internal node: gain * instance count; per tree: normalize to
    sum 1; sum across trees; global normalize) re-expressed as a
    relational gain-walk over the dumped tree-node table, so a DuckDB
    oracle can replay it value-for-value (VERDICT r04 next-round #7 —
    formerly rows-only via gbt.featureImportances; parity with the MLlib
    scalar is pinned in tests/test_ml.py). Every order-dependent double
    sum is quantized to decimal at the source (the q246 rule), making
    the result hash-exact across engines. Reference models:
    assets/static/assets/nfl_model_pass/stages/2_GBTRegressor_*/
    (maxIter 20, seed 12345)."""
    path = dump_tree_nodes(spark)
    nodes = spark.read.parquet(path)
    # GBTs accumulate gain x count RAW across the whole ensemble and
    # normalize ONCE (perTreeNormalization=false in treeModels.scala —
    # pinned by tests/test_ml.py's independent py4j node walk; the
    # per-tree-normalized RandomForest variant differs by ~1e-2).
    term = F.round(F.col("gain") * F.col("cnt"), 9).cast("decimal(30,9)")
    tot = (
        nodes.filter(F.col("treeID") >= 0)
        .select("model", "fidx", term.alias("term"))
        .groupBy("model", "fidx")
        .agg(F.sum("term").alias("s"))
    )
    grand = tot.groupBy("model").agg(F.sum("s").alias("g"))
    dim = nodes.filter(F.col("treeID") == -1).select("model", "fidx", "feature")
    return (
        dim.join(tot, ["model", "fidx"], "left")
        .join(grand, "model")
        .select(
            "model",
            "feature",
            F.round(
                F.coalesce(
                    F.col("s").cast("double") / F.col("g").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("importance"),
        )
        .orderBy("model", F.desc("importance"), "feature")
    )


QUERIES["q87_ml_feature_importance"] = q87_ml_feature_importance
ORACLE["q87_ml_feature_importance"] = f"""
WITH nodes AS (
  -- GBT importances: RAW gain x count across the ensemble, ONE final
  -- normalization (perTreeNormalization=false for GBTs in MLlib)
  SELECT model, fidx,
         CAST(round(gain * cnt, 9) AS DECIMAL(30,9)) AS term
  FROM read_parquet('{_Q87_NODES}/*.parquet') WHERE treeID >= 0
), tot AS (
  SELECT model, fidx, sum(term) AS s FROM nodes GROUP BY model, fidx
), grand AS (
  SELECT model, sum(s) AS g FROM tot GROUP BY model
), dim AS (
  SELECT DISTINCT model, fidx, feature
  FROM read_parquet('{_Q87_NODES}/*.parquet') WHERE treeID = -1
)
SELECT d.model, d.feature,
       round(COALESCE(CAST(t.s AS DOUBLE) / CAST(gr.g AS DOUBLE), 0.0), 6)
         AS importance
FROM dim d
LEFT JOIN tot t ON t.model = d.model AND t.fidx = d.fidx
JOIN grand gr ON gr.model = d.model
ORDER BY d.model, importance DESC, d.feature
"""


# ---------------------------------------------------------------------------
# q37d — GBT inference itself, oracle-replayed (promotes the last
# rows-only ML surface to a value-exact driver check)
# ---------------------------------------------------------------------------

_Q37D_NODES = os.path.join(_CACHE_ROOT, "q37d_nodes.parquet")
_Q37D_FEATS = os.path.join(_CACHE_ROOT, "q37d_feats.parquet")


def _dump_scoring_frames(spark: SparkSession) -> tuple[str, str]:
    """Dump (once per model-cache generation) the two relations a pure
    SQL engine needs to re-run GBT inference from scratch:

    - nodes: every tree node of both saved ensembles, denormalized with
      its tree's boosting weight — (model, treeID, id, fidx, thr[],
      ncat, l, r, pred, weight). Leaf rows carry fidx = -1 (the saved
      format's own marker). Read from each GBT stage's ``data``/
      ``treesMetadata`` parquet (``_gbt_dirs``; layout as in the
      reference's checkpoints, assets/static/assets/nfl_model_pass/
      stages/2_GBTRegressor_*, which name the columns treeID/metadata/
      weights; unnamed-tuple (_1/_2/_3) writers are also accepted).
    - feats: the assembled 8-feature vector per request per model (the
      two StringIndexers order labels differently, so slot 7 differs) —
      (model, req_id, feats DOUBLE[8]). The deterministic prefix that
      PRODUCES these features is itself oracle-checked by q37c; dumping
      them lets the oracle verify the tree walk in isolation, the same
      shared-bytes discipline as q87's node dump.
    """
    if os.path.exists(os.path.join(_Q37D_NODES, "_SUCCESS")) and os.path.exists(
        os.path.join(_Q37D_FEATS, "_SUCCESS")
    ):
        return _Q37D_NODES, _Q37D_FEATS
    pass_model, run_model = trained_models(spark)
    gbt_dirs = _gbt_dirs(spark)
    batch = _request_batch(spark).withColumn("req_id", _req_id_col())

    node_parts, feat_parts = [], []
    for model_name, pipeline in (("pass", pass_model), ("run", run_model)):
        gbt_dir = gbt_dirs[model_name]
        weights = _tree_weights(spark, gbt_dir)
        nodes = (
            spark.read.parquet(os.path.join(gbt_dir, "data"))
            .select(
                F.lit(model_name).alias("model"),
                "treeID",
                F.col("nodeData.id").alias("id"),
                F.col("nodeData.split.featureIndex").alias("fidx"),
                F.col("nodeData.split.leftCategoriesOrThreshold").alias("thr"),
                F.col("nodeData.split.numCategories").alias("ncat"),
                F.col("nodeData.leftChild").alias("l"),
                F.col("nodeData.rightChild").alias("r"),
                F.col("nodeData.prediction").alias("pred"),
            )
            .join(F.broadcast(weights), "treeID")
        )
        node_parts.append(nodes)

        from pyspark.ml.functions import vector_to_array

        staged = pipeline.stages[1].transform(
            pipeline.stages[0].transform(batch)
        )
        feat_parts.append(
            staged.select(
                F.lit(model_name).alias("model"),
                "req_id",
                vector_to_array("features").alias("feats"),
            )
        )

    from nfl_predictions_spark.state import atomic_stage

    for path, frame in (
        (_Q37D_NODES, node_parts[0].unionByName(node_parts[1])),
        (_Q37D_FEATS, feat_parts[0].unionByName(feat_parts[1])),
    ):
        atomic_stage(frame.coalesce(1), path)
    return _Q37D_NODES, _Q37D_FEATS


def _req_id_col():
    """Deterministic request id: rank over the full request tuple (the
    batch has no duplicate rows by construction)."""
    from pyspark.sql import Window

    order = [F.col(f.name) for f in SCORE_REQUEST_SCHEMA.fields]
    return F.row_number().over(Window.orderBy(*order)).cast("long")


def q37d_ml_gbt_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBT ensemble inference, value-checked end-to-end: the same
    26-request batch q37 scores is run through BOTH saved pipelines via
    MLlib's own ``transform`` (JVM tree walk + weighted dot), and the
    DuckDB oracle re-derives every prediction from the dumped node
    table with a recursive-CTE root-to-leaf walk — continuous splits
    (feature <= threshold, Node.scala semantics) and categorical splits
    (feature IN leftCategories) — then folds the leaf predictions with
    the boosting weights in tree order, exactly
    GBTRegressionModel.predict's sequential dot. Predictions agree to
    the bit before the emitted 1e-6 rounding, which is what finally
    moves raw GBT scoring (rows-only since round 1) into the
    value-exact set; q37/q37b remain the end-to-end/metric surfaces.

    Scale: inference is one broadcast of node tables (ensembles are
    KB-MB — 2x20 trees here) against a shuffle-free map over requests;
    the oracle's recursion is bounded by maxDepth=5."""
    pass_model, run_model = trained_models(spark)
    _dump_scoring_frames(spark)
    batch = _request_batch(spark).withColumn("req_id", _req_id_col())
    out = []
    for model_name, pipeline in (("pass", pass_model), ("run", run_model)):
        out.append(
            pipeline.transform(batch).select(
                F.lit(model_name).alias("model"),
                "req_id",
                F.round("prediction", 6).alias("yards"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("model", "req_id")


QUERIES["q37d_ml_gbt_scoring"] = q37d_ml_gbt_scoring
ORACLE["q37d_ml_gbt_scoring"] = f"""
WITH RECURSIVE nodes AS (
  SELECT model, treeID, id, fidx, thr, ncat, l, r, pred, weight
  FROM read_parquet('{_Q37D_NODES}/*.parquet')
), feats AS (
  SELECT model, req_id, feats FROM read_parquet('{_Q37D_FEATS}/*.parquet')
), walk AS (
  -- one walker per (request, model, tree), starting at each root (id 0)
  SELECT f.model, f.req_id, n.treeID, n.fidx, n.thr, n.ncat,
         n.l, n.r, n.pred, n.weight, f.feats
  FROM feats f JOIN nodes n ON n.model = f.model AND n.id = 0
  UNION ALL
  SELECT w.model, w.req_id, w.treeID, n.fidx, n.thr, n.ncat,
         n.l, n.r, n.pred, n.weight, w.feats
  FROM walk w
  JOIN nodes n ON n.model = w.model AND n.treeID = w.treeID
   AND n.id = CASE
        WHEN w.ncat = -1 THEN  -- continuous: left iff feature <= threshold
          CASE WHEN w.feats[w.fidx + 1] <= w.thr[1] THEN w.l ELSE w.r END
        ELSE                   -- categorical: left iff feature in left set
          CASE WHEN list_contains(w.thr, w.feats[w.fidx + 1])
               THEN w.l ELSE w.r END
      END
  WHERE w.fidx >= 0
), leaves AS (
  SELECT model, req_id, treeID, pred, weight FROM walk WHERE fidx = -1
)
SELECT model, req_id,
       round(list_sum(list(weight * pred ORDER BY treeID)), 6) AS yards
FROM leaves GROUP BY model, req_id ORDER BY model, req_id
"""
