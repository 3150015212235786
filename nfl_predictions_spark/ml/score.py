"""Batch and single-record scoring (SURVEY.md §3 entry points 1-2).

Batch scoring (``score_best_play``) is one vectorized MLlib pass over N
rows: both model transforms chained on the same DataFrame, best play
picked by a Catalyst ``when`` expression (ties -> Running Play, the
exact ``assets/app_nfl.py:158`` semantics). The stream and
``score_batch`` use it.

Single-record scoring has two paths that give the same reply:

- ``ScoringModel`` compiles one ``PipelineModel`` (StringIndexer ->
  VectorAssembler -> GBTRegressionModel) into a direct tree walk: the
  label -> index map, the trees in flat form and the tree weights.
  Scoring a play is pure Python and launches no Spark job (the approach
  of Hummingbird, OSDI 2020, for serving tree ensembles).
- ``score_record`` is the reference's form (``assets/app_nfl.py:151-160``):
  two transforms on a one-row DataFrame plus ``first()``.

The compiled path is used only when it is certified bit-identical to
MLlib. ``GBTRegressionModel.predict`` is ``ddot(treePredictions,
treeWeights)``, and the order in which BLAS accumulates that dot product
depends on the host (sequential in the f2j BLAS; FMA lanes in the JDK
vector-API BLAS, 8 of them with AVX-512). ``ScoringModel.compile`` scores
a fixed probe set with each candidate order and with ``gbt.predict`` (one
py4j call, no Spark job) and keeps the first order that matches every
probe bit for bit. If none does, it logs a warning and returns None, and
the caller stays on ``score_record``.

Both paths check a request with ``validate_request`` first, so neither
scores a record the other would reject. ``request_error`` states the same
rules as a column, for the stream's dead-letter route.
"""

from __future__ import annotations

import logging
import math
import random
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import NamedTuple

from pyspark.ml import PipelineModel
from pyspark.ml.feature import StringIndexerModel, VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import GBTRegressionModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nfl_predictions_spark.functions.scalars import best_play
from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

log = logging.getLogger(__name__)

#: Golden request fixture (reference assets/app_nfl.py:286).
GOLDEN_REQUEST = dict(
    qtr=3,
    down=3,
    TimeSecs=60,
    yrdline100=50,
    ydstogo=8,
    ydsnet=15,
    month_day=920,
    posteam="PIT",
    DefensiveTeam="NE",
    PlayType_lag="Run",
)

_MODEL_TEMP_COLS = ("PlayType_lag_index", "features", "prediction")

#: Python type a request value must have, by schema field type (strict:
#: PySpark's createDataFrame verifier rejects a bool or float for an int).
_PY_TYPES = {T.IntegerType(): int, T.StringType(): str}
_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def validate_request(record: object, labels) -> tuple:
    """Check one scoring request against ``SCORE_REQUEST_SCHEMA`` and the
    models' PlayType_lag labels; return it as a schema-ordered row.

    Raises ``ValueError`` naming the field for: a missing field; a value
    of the wrong type (a bool, float, str or None in an integer field, a
    non-string team or label); an integer outside int32; a label the
    StringIndexers have not seen. Extra keys are ignored."""
    if not isinstance(record, dict):
        raise ValueError("request must be a JSON object")
    missing = [f.name for f in SCORE_REQUEST_SCHEMA.fields if f.name not in record]
    if missing:
        raise ValueError(f"missing required fields: {missing}")
    row = []
    for f in SCORE_REQUEST_SCHEMA.fields:
        v, want = record[f.name], _PY_TYPES[f.dataType]
        if not isinstance(v, want) or isinstance(v, bool):
            raise ValueError(f"{f.name}: expected {want.__name__}, got {type(v).__name__}")
        if want is int and not _INT32_MIN <= v <= _INT32_MAX:
            raise ValueError(f"{f.name}: {v} is outside the int32 range")
        row.append(v)
    if record["PlayType_lag"] not in labels:
        raise ValueError(
            f"PlayType_lag: unseen label {record['PlayType_lag']!r}, "
            f"expected one of {sorted(labels)}"
        )
    return tuple(row)


def request_error(labels) -> Column:
    """``validate_request``'s rules as a column over request rows: null for
    a scorable row, else a string naming the first bad field, checked in
    the same order: a null in any ``SCORE_REQUEST_SCHEMA`` field, then a
    PlayType_lag outside ``labels``. A row it passes crashes neither the
    VectorAssembler (null feature) nor the StringIndexer (unseen label)."""
    labels = sorted(labels)
    label = F.col("PlayType_lag")
    unseen = F.concat(
        F.lit("PlayType_lag: unseen label '"), label, F.lit(f"', expected one of {labels}")
    )
    return F.coalesce(
        *(
            F.when(F.col(f.name).isNull(), F.lit(f"{f.name}: null"))
            for f in SCORE_REQUEST_SCHEMA.fields
        ),
        F.when(~label.isin(*labels), unseen),
    )


def score_best_play(
    pass_model: PipelineModel, run_model: PipelineModel, requests: DataFrame
) -> DataFrame:
    """Score a batch of request rows with both models and pick the best
    play. Output adds: passing_yards, running_yards, best_play."""
    scored = pass_model.transform(requests).withColumnRenamed(
        "prediction", "passing_yards"
    )
    scored = scored.drop("PlayType_lag_index", "features")
    scored = run_model.transform(scored).withColumnRenamed(
        "prediction", "running_yards"
    )
    scored = scored.drop("PlayType_lag_index", "features")
    return scored.withColumn(
        "best_play", best_play("passing_yards", "running_yards")
    )


def score_record(
    spark: SparkSession,
    pass_model: PipelineModel,
    run_model: PipelineModel,
    record: dict,
) -> dict:
    """Single-record scoring through Spark — the reference /api contract
    (10 typed fields in, {best_play, passing_yards, running_yards} out).
    Builds a LocalRelation; no shuffle, no file scan."""
    labels = set(pass_model.stages[0].labels) & set(run_model.stages[0].labels)
    row = validate_request(record, labels)
    df = spark.createDataFrame([row], SCORE_REQUEST_SCHEMA)
    out = (
        score_best_play(pass_model, run_model, df)
        .select(
            "best_play",
            F.round("passing_yards", 2).alias("passing_yards"),
            F.round("running_yards", 2).alias("running_yards"),
        )
        .first()
    )
    return out.asDict()


# -- compiled single-record scoring ------------------------------------------


class Tree(NamedTuple):
    """One decision tree in flat form; node 0 is the root. A leaf has
    ``feature == -1``. An internal node sends a vector left when its
    feature is ``<= split`` (continuous) or ``in split`` (a frozenset of
    left categories)."""

    feature: list
    split: list
    left: list
    right: list
    value: list

    def leaf(self, x: list) -> int:
        i = 0
        while (f := self.feature[i]) >= 0:
            s = self.split[i]
            go_left = x[f] in s if type(s) is frozenset else x[f] <= s
            i = self.left[i] if go_left else self.right[i]
        return i


_SPLIT = re.compile(r"If \(feature (\d+) (<=|in) (\S+)\)")


def parse_trees(debug_string: str) -> list[Tree]:
    """Trees of a tree-ensemble model's ``toDebugString``. Java prints
    doubles with ``Double.toString``, which ``float`` reads back exactly."""
    lines = iter(line.strip() for line in debug_string.splitlines())
    trees = []
    for line in lines:
        if line.startswith("Tree "):
            tree = Tree([], [], [], [], [])
            _parse_node(lines, tree)
            trees.append(tree)
    return trees


def _parse_node(lines, tree: Tree) -> int:
    i = len(tree.feature)
    line = next(lines)
    for column, v in zip(tree, (-1, None, -1, -1, 0.0)):
        column.append(v)
    if line.startswith("Predict: "):
        tree.value[i] = float(line[len("Predict: "):])
        return i
    m = _SPLIT.fullmatch(line)
    if m is None:
        raise ValueError(f"unexpected tree line: {line!r}")
    feature, op, arg = m.groups()
    tree.feature[i] = int(feature)
    tree.split[i] = (
        float(arg) if op == "<=" else frozenset(float(c) for c in arg.strip("{}").split(","))
    )
    tree.left[i] = _parse_node(lines, tree)
    next(lines)  # the matching "Else (...)" line
    tree.right[i] = _parse_node(lines, tree)
    return i


def _fma(a: float, b: float, c: float) -> float:
    """``Math.fma``: a * b + c rounded once (Python 3.11 has no math.fma).
    The sum is exact in integers, and int / int rounds correctly."""
    (an, ad), (bn, bd) = a.as_integer_ratio(), b.as_integer_ratio()
    cn, cd = c.as_integer_ratio()
    return (an * bn * cd + cn * ad * bd) / (ad * bd * cd)


def ddot(x: list, y: list, lanes: int) -> float:
    """The BLAS dot product in a given accumulation order. ``lanes == 0``
    is a sequential multiply-add (f2j ``ddot``). ``lanes == k`` is the
    vector-API ``ddot``: k FMA lanes over the first ``n - n % k``
    elements, the lanes summed in lane order, then a sequential
    multiply-add over the tail."""
    if lanes == 0:
        total = 0.0
        for a, b in zip(x, y):
            total += a * b
        return total
    acc = [0.0] * lanes
    bound = len(x) - len(x) % lanes
    for i in range(bound):
        acc[i % lanes] = _fma(x[i], y[i], acc[i % lanes])
    total = 0.0
    for a in acc:
        total += a
    for a, b in zip(x[bound:], y[bound:]):
        total += a * b
    return total


#: Candidate ``ddot`` orders, tried in this order by ``certify``.
ORDERS = (0, 2, 4, 8, 16)
_N_PROBES = 64


class ScoringModel:
    """One StringIndexer -> VectorAssembler -> GBTRegressionModel pipeline
    as plain Python data, scored by walking its trees."""

    def __init__(self, source: str, labels: list, inputs: list, trees: list, weights: list):
        self.source = source  # the indexed request field (PlayType_lag)
        self.index = {label: float(i) for i, label in enumerate(labels)}
        self.inputs = inputs  # assembled columns; `source` stands for its index
        self.trees = trees
        self.weights = weights
        self.order: int | None = None  # set by certify

    @classmethod
    def from_pipeline(cls, model: PipelineModel) -> ScoringModel:
        indexer, assembler, gbt = model.stages
        if not (
            isinstance(indexer, StringIndexerModel)
            and isinstance(assembler, VectorAssembler)
            and isinstance(gbt, GBTRegressionModel)
        ):
            raise ValueError(f"not an indexer/assembler/GBT pipeline: {model.stages}")
        trees = parse_trees(gbt._java_obj.toDebugString())
        counts = [t.numNodes for t in gbt.trees]
        if [len(t.feature) for t in trees] != counts:
            raise ValueError(f"parsed tree sizes differ from the model's {counts}")
        inputs = [
            indexer.getInputCol() if c == indexer.getOutputCol() else c
            for c in assembler.getInputCols()
        ]
        return cls(indexer.getInputCol(), indexer.labels, inputs, trees, list(gbt.treeWeights))

    @classmethod
    def compile(cls, model: PipelineModel) -> ScoringModel | None:
        """A certified compiled model, or None (logged) when it cannot
        reproduce MLlib bit for bit."""
        try:
            compiled = cls.from_pipeline(model)
        except ValueError as e:
            log.warning("single-play scoring stays on Spark: %s", e)
            return None
        if compiled.certify(model.stages[-1]) is None:
            log.warning(
                "single-play scoring stays on Spark: no ddot order in %s "
                "reproduces GBTRegressionModel.predict on this host", ORDERS
            )
            return None
        return compiled

    def features(self, record: dict) -> list:
        return [
            self.index[record[c]] if c == self.source else float(record[c])
            for c in self.inputs
        ]

    def tree_predictions(self, x: list) -> list:
        return [t.value[t.leaf(x)] for t in self.trees]

    def predict(self, record: dict) -> float:
        """Raw prediction for a validated record, in the certified order."""
        return ddot(self.tree_predictions(self.features(record)), self.weights, self.order)

    def probes(self) -> list:
        """A fixed set of feature vectors: label indices in turn, every
        other feature drawn (seeded) from either side of the trees'
        thresholds on it."""
        rng = random.Random(0)
        sides: list = [set() for _ in self.inputs]
        for t in self.trees:
            for f, s in zip(t.feature, t.split):
                if f >= 0 and type(s) is not frozenset:
                    sides[f].update((math.floor(s), math.floor(s) + 1))
        sides = [sorted(s) or [0] for s in sides]
        label_at = self.inputs.index(self.source)
        out = []
        for k in range(_N_PROBES):
            x = [float(rng.choice(s)) for s in sides]
            x[label_at] = float(k % len(self.index))
            out.append(x)
        return out

    def certify(self, gbt: GBTRegressionModel) -> int | None:
        """Set and return the first order in ``ORDERS`` whose ``ddot``
        equals ``gbt.predict`` bit for bit on every probe, else None."""
        probes = self.probes()
        want = [gbt.predict(Vectors.dense(x)).hex() for x in probes]
        preds = [self.tree_predictions(x) for x in probes]
        self.order = next(
            (
                lanes
                for lanes in ORDERS
                if all(ddot(p, self.weights, lanes).hex() == w for p, w in zip(preds, want))
            ),
            None,
        )
        return self.order


def _round2(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: ``BigDecimal`` of
    ``Double.toString(x)``, HALF_UP to 2 places. ``+ 0.0`` because a
    BigDecimal has no negative zero."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)) + 0.0


def score_compiled(pass_model: ScoringModel, run_model: ScoringModel, record: dict) -> dict:
    """Single-record scoring with no Spark job: the reply ``score_record``
    gives for the same record."""
    validate_request(record, pass_model.index.keys() & run_model.index.keys())
    passing, running = pass_model.predict(record), run_model.predict(record)
    return {
        "best_play": "Passing Play" if passing > running else "Running Play",
        "passing_yards": _round2(passing),
        "running_yards": _round2(running),
    }
