"""ML pipeline tests (SURVEY.md §5 engine test strategy).

Golden e2e: the feature build must reproduce the reference dataset's
own derived columns exactly; the retrained two-model pipeline must
score the reference's golden request fixture; the best-play tie rule
and handleInvalid=error contracts are pinned explicitly.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Feature build parity against the reference's own data (SURVEY §1.4)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def reference_plays(spark):
    """Reference plays with the file row order preserved as ``seq``
    (the true play sequence — TimeSecs has 65 tied drive/clock groups)."""
    import pandas as pd

    from nfl_predictions_spark.ml.reference_data import (
        REFERENCE_CSV,
        reference_csv_available,
    )
    from nfl_predictions_spark.schemas import PLAYS_SCHEMA

    if not reference_csv_available():
        pytest.skip("reference dataset not present")
    pdf = pd.read_csv(REFERENCE_CSV, header=None, names=[f.name for f in PLAYS_SCHEMA.fields])
    pdf["Date"] = pd.to_datetime(pdf["Date"]).dt.tz_localize(None)
    pdf["seq"] = range(len(pdf))
    return spark.createDataFrame(pdf).cache()


def test_feature_build_reproduces_reference_lag(spark, reference_plays):
    """Recomputed PlayType_lag must equal the shipped column on all
    29,412 rows (verified invariant, SURVEY §1.4)."""
    from nfl_predictions_spark.ml.features import build_features

    recomputed = build_features(
        reference_plays.withColumnRenamed("PlayType_lag", "lag_shipped").drop("month_day"),
        order_by=["seq"],
    )
    mismatches = recomputed.filter(F.col("PlayType_lag") != F.col("lag_shipped")).count()
    assert recomputed.count() == 29412
    assert mismatches == 0


def test_feature_build_reproduces_reference_month_day(spark, reference_plays):
    from nfl_predictions_spark.functions.scalars import month_day

    mismatches = reference_plays.filter(
        month_day("Date") != F.col("month_day")
    ).count()
    assert mismatches == 0


def test_firstplay_count_equals_drive_count(spark, reference_plays):
    drives = reference_plays.select("GameID", "Drive").distinct().count()
    firsts = reference_plays.filter(F.col("PlayType_lag") == "FirstPlay").count()
    assert drives == firsts == 5698


# ---------------------------------------------------------------------------
# Synthetic generator invariants (property tests, FIXTURES.md §1)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def synthetic(spark):
    from nfl_predictions_spark.ml.features import build_features
    from nfl_predictions_spark.ml.synthetic import synthetic_plays

    return build_features(synthetic_plays(spark, 8, 60)).cache()


def test_synthetic_deterministic(spark, synthetic):
    from nfl_predictions_spark.ml.features import build_features
    from nfl_predictions_spark.ml.synthetic import synthetic_plays

    again = build_features(synthetic_plays(spark, 8, 60))
    assert synthetic.exceptAll(again).count() == 0
    assert again.exceptAll(synthetic).count() == 0


def test_synthetic_domains(synthetic):
    from nfl_predictions_spark.schemas import TEAMS

    bad = synthetic.filter(
        ~F.col("posteam").isin(TEAMS)
        | ~F.col("DefensiveTeam").isin(TEAMS)
        | (F.col("posteam") == F.col("DefensiveTeam"))
        | (F.col("Yards_Gained") < -5)
        | (F.col("Yards_Gained") > 20)
        | ~F.col("down").between(1, 4)
        | ~F.col("yrdline100").between(1, 99)
    ).count()
    assert bad == 0


def test_synthetic_lag_invariants(synthetic):
    drives = synthetic.select("GameID", "Drive").distinct().count()
    firsts = synthetic.filter(F.col("PlayType_lag") == "FirstPlay").count()
    assert drives == firsts


# ---------------------------------------------------------------------------
# Compiled single-play scoring, without Spark
# ---------------------------------------------------------------------------

_CATEGORICAL = 9  # the last of 10 features takes the categories 0..3


def _random_tree(rng, depth):
    """A tree of depth <= ``depth`` in ``Tree``'s flat form, with
    continuous splits on features 0..8 and categorical ones on 9."""
    from nfl_predictions_spark.ml.score import Tree

    tree = Tree([], [], [], [], [])

    def node(d):
        i = len(tree.feature)
        for column, v in zip(tree, (-1, None, -1, -1, 0.0)):
            column.append(v)
        if d == depth or (d and rng.random() < 0.25):
            tree.value[i] = rng.uniform(-30.0, 30.0)
            return i
        f = rng.randrange(_CATEGORICAL + 1)
        tree.feature[i] = f
        if f == _CATEGORICAL:
            tree.split[i] = frozenset(float(c) for c in rng.sample(range(4), rng.randint(1, 3)))
        else:
            tree.split[i] = rng.randrange(-10, 10) + 0.5
        tree.left[i] = node(d + 1)
        tree.right[i] = node(d + 1)
        return i

    node(0)
    return tree


@pytest.mark.parametrize("n_trees", [20, 23])
def test_compiled_ensemble_is_ddot_of_the_tree_walk(n_trees):
    """For every candidate order the generated function equals the
    reference ``ddot`` over the tree walk bit for bit. 20 and 23 trees
    give lanes of one tree (order 16), two (8) and more (2, 4), with and
    without a tail."""
    import random

    from nfl_predictions_spark.ml.score import ORDERS, compile_ensemble, ddot

    rng = random.Random(n_trees)
    trees = [_random_tree(rng, rng.randint(1, 5)) for _ in range(n_trees)]
    weights = [1.0] + [rng.uniform(0.01, 1.0) for _ in range(n_trees - 1)]
    # Half the continuous values sit exactly on a threshold (x.5).
    xs = [
        [rng.randrange(-11, 12) + rng.choice((0.0, 0.5)) for _ in range(_CATEGORICAL)]
        + [float(rng.randrange(4))]
        for _ in range(400)
    ]
    walked = [[t.value[t.leaf(x)] for t in trees] for x in xs]
    by_order = {}
    for order in ORDERS:
        predict = compile_ensemble(trees, weights, order)
        got = [predict(x).hex() for x in xs]
        assert got == [ddot(p, weights, order).hex() for p in walked], order
        by_order[order] = got
    # The orders round differently on some inputs, so a mixed-up order
    # shows; one tree per lane (order 16) is the sequential order.
    assert by_order[16] == by_order[0]
    assert len({tuple(by_order[k]) for k in (0, 2, 4, 8)}) == 4


def test_compiled_ensemble_too_deep_for_python_raises():
    """A tree nested past the tokenizer's 100 indentation levels fails to
    compile with a ``SyntaxError``, which ``certify`` turns into the Spark
    fallback (MLlib's depth limit of 30 stays well below it)."""
    from nfl_predictions_spark.ml.score import Tree, compile_ensemble

    depth = 100
    tree = Tree([], [], [], [], [])
    for d in range(depth):  # a chain: node 2d splits, 2d+1 is its left leaf
        tree.feature.extend([0, -1])
        tree.split.extend([float(d), None])
        tree.left.extend([2 * d + 1, -1])
        tree.right.extend([2 * d + 2, -1])
        tree.value.extend([0.0, float(d)])
    for column, v in zip(tree, (-1, None, -1, -1, -1.0)):
        column.append(v)
    assert tree.value[tree.leaf([1e9])] == -1.0
    with pytest.raises(SyntaxError):
        compile_ensemble([tree], [1.0], 0)


# ---------------------------------------------------------------------------
# Pipeline contract
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def models(spark):
    from nfl_predictions_spark.ml.queries import trained_models

    return trained_models(spark)


def test_stringindexer_labels_frequency_desc(spark, models):
    pass_model, run_model = models
    for model in (pass_model, run_model):
        labels = list(model.stages[0].labels)
        assert set(labels) == {"FirstPlay", "Run", "Pass"}
        # FirstPlay is one row per drive; Run/Pass dominate.
        assert labels[-1] == "FirstPlay"


def test_golden_request_scores(spark, models):
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST, score_record

    out = score_record(spark, *models, GOLDEN_REQUEST)
    assert set(out) == {"best_play", "passing_yards", "running_yards"}
    assert out["best_play"] in ("Passing Play", "Running Play")
    assert -5.0 <= out["passing_yards"] <= 20.0
    assert -5.0 <= out["running_yards"] <= 20.0


def test_best_play_tie_goes_to_running(spark):
    from nfl_predictions_spark.functions.scalars import best_play

    df = spark.createDataFrame([(3.0, 3.0), (4.0, 3.0), (3.0, 4.0)], ["p", "r"])
    got = [r[0] for r in df.select(best_play("p", "r")).collect()]
    assert got == ["Running Play", "Passing Play", "Running Play"]


def test_unseen_label_errors(spark, models):
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST, score_record

    bad = dict(GOLDEN_REQUEST, PlayType_lag="Bogus")
    with pytest.raises(Exception, match="(?i)unseen|invalid"):
        score_record(spark, *models, bad)


def test_batch_scoring_one_pass(spark, models):
    """Batch scoring is a single plan over N rows — predictions align
    with single-record scoring."""
    from nfl_predictions_spark.ml.queries import q37_ml_best_play

    rows = q37_ml_best_play(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 26  # golden + 25 synthetic
    assert all(r.best_play in ("Passing Play", "Running Play") for r in rows)


def test_model_rmse_reasonable(spark, models, synthetic):
    """Semantic guard (SURVEY §7 risk 2): the trained model must beat a
    constant-mean predictor on its own training distribution."""
    from pyspark.ml.evaluation import RegressionEvaluator

    pass_model, _ = models
    test_df = synthetic.filter(F.col("PlayType") == "Pass")
    pred = pass_model.transform(test_df)
    rmse = RegressionEvaluator(
        labelCol="Yards_Gained", predictionCol="prediction", metricName="rmse"
    ).evaluate(pred)
    stats = test_df.agg(F.stddev("Yards_Gained").alias("sd")).first()
    assert rmse < stats.sd


def test_feature_importance_matches_mllib_scalar(spark, models):
    """q87's relational gain-walk over the dumped tree-node parquet must
    reproduce gbt.featureImportances itself at round-6 for BOTH models —
    the fidelity pin behind promoting q87 from rows-only to oracle-backed
    (VERDICT r04 next-round #7)."""
    from nfl_predictions_spark.ml.queries import q87_ml_feature_importance
    from tests.conftest import SF_SMOKE

    pass_model, run_model = models
    expected = {}
    for name, pipeline in (("pass", pass_model), ("run", run_model)):
        gbt = pipeline.stages[-1]
        feats = list(pipeline.stages[-2].getInputCols())
        for i, f in enumerate(feats):
            expected[(name, f)] = round(float(gbt.featureImportances[i]), 6)
    got = {
        (r.model, r.feature): r.importance
        for r in q87_ml_feature_importance(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 2e-6, (k, got[k], expected[k])


def test_feature_importance_invariants(spark):
    """Both models: importances cover the 8-feature vector, are
    non-negative, and sum to ~1 (normalized total gain)."""
    from nfl_predictions_spark.ml.queries import q87_ml_feature_importance
    from tests.conftest import SF_SMOKE

    rows = q87_ml_feature_importance(spark, SF_SMOKE).collect()
    by_model = {}
    for r in rows:
        assert r.importance >= 0
        by_model.setdefault(r.model, []).append(r)
    assert set(by_model) == {"pass", "run"}
    for model, rs in by_model.items():
        assert len(rs) == 8
        assert abs(sum(r.importance for r in rs) - 1.0) < 1e-3


_SHIPPED_MODELS = "/root/reference/assets/static/assets"


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(_SHIPPED_MODELS, "nfl_model_pass")),
    reason="reference's shipped Spark 2.1 PipelineModel artifacts not present",
)
def test_shipped_model_golden_parity(spark):
    """Serving-semantics parity against the reference's SHIPPED artifacts
    (assets/static/assets/nfl_model_pass|run, Spark 2.1.0 persistence
    format - loads cleanly under the current Spark): the engine's
    vectorized score_best_play must be bit-identical to the reference's
    own scoring path (assets/app_nfl.py:151-160, per-model transform of
    an untyped one-row DataFrame) on the golden /api request
    (assets/app_nfl.py:286).

    Pinned observation: the code comment at assets/app_nfl.py:314
    claims ('Running Play', 3.984419701538829, 5.375515688399204), but
    the SHIPPED models produce (4.213519030614256, 5.338774165685845)
    even through the reference's own code path - the comment predates
    the shipped training run. Best play agrees ('Running Play'); the
    regression values here are pinned to what the artifacts actually
    produce, which is the strongest parity statement the shipped assets
    support."""
    from pyspark.ml import PipelineModel

    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST, score_best_play
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    p = PipelineModel.load(os.path.join(_SHIPPED_MODELS, "nfl_model_pass"))
    r = PipelineModel.load(os.path.join(_SHIPPED_MODELS, "nfl_model_run"))

    # Reference path, verbatim semantics (app_nfl.py:153-158).
    input_df = spark.createDataFrame(
        [(3, 3, 60, 50, 8, 15, 920, "PIT", "NE", "Run")],
        "qtr long, down long, TimeSecs long, yrdline100 long, ydstogo long, "
        "ydsnet long, month_day long, posteam string, DefensiveTeam string, "
        "PlayType_lag string",
    )
    ref_pass = p.transform(input_df).select("prediction").collect()[0][0]
    ref_run = r.transform(input_df).select("prediction").collect()[0][0]
    assert ("Passing Play" if ref_pass > ref_run else "Running Play") == "Running Play"
    assert ref_pass == pytest.approx(4.213519030614256, abs=1e-12)
    assert ref_run == pytest.approx(5.338774165685845, abs=1e-12)

    # Engine path on the same artifacts: bit-identical predictions.
    row = tuple(GOLDEN_REQUEST[f.name] for f in SCORE_REQUEST_SCHEMA.fields)
    df = spark.createDataFrame([row], SCORE_REQUEST_SCHEMA)
    out = score_best_play(p, r, df).select(
        "best_play", "passing_yards", "running_yards"
    ).collect()[0]
    assert out.best_play == "Running Play"
    assert out.passing_yards == ref_pass
    assert out.running_yards == ref_run


def test_feature_importance_parity_with_independent_gain_walk(spark, models):
    """q87's importances come from MLlib's featureImportances; this
    recomputes the gain vector INDEPENDENTLY by walking each tree's
    node structure over py4j: sum of gain x instance-count per split
    feature accumulated RAW across the ensemble, one final
    normalization (GBTs skip MLlib's per-tree normalization —
    perTreeNormalization=false in treeModels.scala; the per-tree
    variant differs by ~1e-2 and was rejected by this very test).
    Requires exact agreement. Certifies the rows-only
    q87_ml_feature_importance driver entry (VERDICT r03 #4)."""
    import numpy as np

    pass_model, _ = models
    gbt = pass_model.stages[-1]
    n_feats = gbt.numFeatures

    def walk_gain(tree_model) -> np.ndarray:
        imp = np.zeros(n_feats)
        stack = [tree_model._call_java("rootNode")]
        while stack:
            node = stack.pop()
            if "InternalNode" not in node.getClass().getSimpleName():
                continue
            f = node.split().featureIndex()
            imp[f] += node.gain() * node.impurityStats().count()
            stack.append(node.leftChild())
            stack.append(node.rightChild())
        return imp

    total = np.zeros(n_feats)
    for t in gbt.trees:
        total += walk_gain(t)
    total /= total.sum()

    mllib = np.array(gbt.featureImportances.toArray())
    assert np.allclose(total, mllib, atol=1e-12), (total, mllib)


# ---------------------------------------------------------------------------
# Model persistence: save_models/load_models own the on-disk form
# ---------------------------------------------------------------------------


def _local_format_flag(spark) -> bool:
    return spark._jvm.org.apache.spark.ml.util.ReadWriteUtils.localSavingModeState().get()


@pytest.fixture(scope="module")
def saved_models(models, tmp_path_factory):
    from nfl_predictions_spark.ml.pipeline import save_models

    root = str(tmp_path_factory.mktemp("saved_models"))
    save_models(*models, root)
    return root


def test_load_models_launches_no_spark_job(spark, saved_models):
    """Loading a save_models directory reads the local format with plain
    file I/O: zero Spark jobs (Spark's standard layout costs 26)."""
    from nfl_predictions_spark.ml.pipeline import load_models

    sc = spark.sparkContext
    group = "load-models-jobs"
    sc.setJobGroup(group, "load_models", interruptOnCancel=False)
    try:
        pass_model, run_model = load_models(saved_models)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert len(pass_model.stages) == len(run_model.stages) == 3


def _assert_same_pipelines(pair, other):
    for a, b in zip(pair, other):
        assert list(a.stages[0].labels) == list(b.stages[0].labels)
        assert a.stages[0].getHandleInvalid() == b.stages[0].getHandleInvalid() == "error"
        assert a.stages[1].getInputCols() == b.stages[1].getInputCols()
        assert a.stages[2].treeWeights == b.stages[2].treeWeights
        assert a.stages[2].toDebugString == b.stages[2].toDebugString


def test_saved_models_round_trip(spark, models, saved_models):
    """A trained pair and its saved-and-reloaded pair are the same models:
    same stage parameters, bit-identical batch predictions, and the
    reloaded pair certifies for compiled scoring in the same order."""
    from nfl_predictions_spark.api import ScoringService
    from nfl_predictions_spark.ml.pipeline import load_models
    from nfl_predictions_spark.ml.queries import _request_batch
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    reloaded = load_models(saved_models)
    _assert_same_pipelines(models, reloaded)

    batch = _request_batch(spark)
    order = [f.name for f in SCORE_REQUEST_SCHEMA.fields]

    def raw(service):
        out = service.score_batch(batch).orderBy(*order)
        return [(r.passing_yards.hex(), r.running_yards.hex(), r.best_play) for r in out.collect()]

    trained, loaded = ScoringService(spark, *models), ScoringService(spark, *reloaded)
    assert raw(trained) == raw(loaded)
    assert loaded._compiled is not None
    assert [m.order for m in loaded._compiled] == [m.order for m in trained._compiled]


def test_standard_layout_still_loads(spark, models, tmp_path, caplog):
    """Spark's standard layout (a plain write().save(), as the reference
    ships) still loads through load_models, with one warning per model."""
    from nfl_predictions_spark.ml.pipeline import load_models

    for name, model in zip(("pass", "run"), models):
        model.write().save(str(tmp_path / f"nfl_model_{name}"))
    assert (tmp_path / "nfl_model_pass" / "metadata").is_dir()
    with caplog.at_level("WARNING", logger="nfl_predictions_spark.ml.pipeline"):
        loaded = load_models(str(tmp_path))
    assert caplog.text.count("standard layout") == 2
    _assert_same_pipelines(models, loaded)


def test_local_format_flag_is_reset(spark, models, tmp_path):
    """The local format is a JVM thread-local: save_models and
    load_models leave it off, also when a load fails, so a later plain
    write().save() still writes Spark's standard layout."""
    from nfl_predictions_spark.ml.pipeline import load_models, save_models

    save_models(*models, str(tmp_path))
    assert _local_format_flag(spark) is False
    load_models(str(tmp_path))
    assert _local_format_flag(spark) is False
    (tmp_path / "nfl_model_pass" / "metadata").write_text("not a model")
    with pytest.raises(Exception):
        load_models(str(tmp_path))
    assert _local_format_flag(spark) is False


def test_model_cache_without_success_marker_is_rebuilt(spark, models, tmp_path, monkeypatch):
    """A model cache with no ``_SUCCESS`` (an interrupted writer's
    leftover) is rebuilt through ``state.atomic_stage``, never loaded, and
    the derived GBT copies inside it go with it."""
    import shutil

    from nfl_predictions_spark.ml import queries as mq

    leftover = tmp_path / "models"
    for name in ("nfl_model_pass", "nfl_model_run"):
        shutil.copytree(os.path.join(mq._CACHE_ROOT, name), leftover / name)
    (leftover / "gbt_pass").mkdir()
    (leftover / "gbt_pass" / "stale").write_text("from an older generation")
    monkeypatch.setattr(mq, "_CACHE_ROOT", str(leftover))
    monkeypatch.setattr(mq, "_LOADED_MODELS", {})
    loads = []
    real_load = mq.load_models
    monkeypatch.setattr(mq, "load_models", lambda root: loads.append(root) or real_load(root))

    pass_model, _ = mq.trained_models(spark)
    assert loads == []
    assert (leftover / "_SUCCESS").exists()
    assert not (leftover / "gbt_pass").exists()
    assert pass_model.stages[0].labels == models[0].stages[0].labels

    mq._LOADED_MODELS.clear()
    mq.trained_models(spark)
    assert loads == [str(leftover)]
