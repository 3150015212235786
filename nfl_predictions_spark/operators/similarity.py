"""Similarity search over embeddings (north-star; SURVEY §2B Q39/Q41).

Three tiers, mirroring how a production vector pipeline scales:

1. ``q41_ann_topk`` — exact brute-force cosine top-k, pure Catalyst
   (zip_with + aggregate fold): the correctness baseline, oracle-checked
   against DuckDB's double-precision dot products.
2. ``q41b_ann_topk_pandas`` — the same computation as an Arrow-batched
   pandas UDF doing one numpy matmul per batch: the single-node perf
   path (tested equal to tier 1 in tests/test_similarity.py).
3. ``q41c_ann_lsh`` — random-hyperplane LSH bucketing: candidates only
   meet inside a bucket, so the join never enumerates the cross
   product — the 100 TB path. Deterministic planes derive from seeded
   xxhash64, recall is measured against tier 1 in tests.

Plus ``q42_embedding_near_dup``: metadata-blocked exact cosine pairs —
the embedding-space analogue of the text near-dup suite.
"""

from __future__ import annotations

import math
import os

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark import state
from nfl_predictions_spark.sources.tables import spread, table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


_N_QUERIES = 5
_TOP_K = 10


def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision fold — same element order as the
    oracle's list_dot_product, so results agree to the last bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
p AS (
  SELECT qid, vec_id AS cid,
    list_dot_product(qe, emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(emb, emb))) AS cos
  FROM q, e
), r AS (
  -- rank on the 6-decimal-rounded cosine (ties broken by cid): raw
  -- cosines differ between engines by float noise, so ranking on the
  -- emitted rounded value is the only cross-engine-stable ordering
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q41_ann_topk", _ANN_ORACLE)
def q41_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first 5 vectors against the full
    table. The 5-row query side is broadcast; the big side streams —
    no shuffle of the embedding table."""
    emb = table(spark, sf_dir, "embeddings")
    # ||qe|| / ||ce|| folded once per query / once per candidate row
    # instead of once per PAIR — ~3x fewer flops; identical IEEE
    # values, qn * cn keeps _norm(qe) * _norm(ce)'s order
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    # spread: the per-row dot-product folds are interpreted CPU, and a
    # single-row-group corpus file would run them all in ONE task
    cands = spread(emb).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _norm(F.col("embedding")).alias("cn"),
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    scored = cands.crossJoin(F.broadcast(queries)).withColumn("cos_raw", cos)
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


@_q("q41b_ann_topk_pandas", _ANN_ORACLE)
def q41b_ann_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k via an Arrow-batched pandas UDF: one numpy
    matrix-multiply per batch against the broadcast query matrix —
    vectorized float64 math, ~10-100x the throughput of per-row UDFs.

    Oracle: shares q41's DuckDB SQL. Cosines are rounded to 6 decimals
    on both sides, which absorbs the summation-order difference between
    numpy's blocked matmul and DuckDB's sequential fold; rank ties are
    broken by cid on both sides."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qids = [r.vec_id for r in q_rows]
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bQ = spark.sparkContext.broadcast((qids, Qn))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def cos_all(embs: pd.Series) -> pd.Series:
        qids_, Qn_ = bQ.value
        X = np.array(embs.tolist(), dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = Xn @ Qn_.T  # (batch, n_queries)
        return pd.Series(list(S))

    scored = spread(emb).select(
        F.col("vec_id").alias("cid"), cos_all("embedding").alias("cos_vec")
    ).select(
        "cid",
        F.posexplode("cos_vec").alias("qpos", "cos_raw"),
    )
    qid_map = F.array(*[F.lit(q) for q in qids])
    scored = scored.withColumn("qid", F.element_at(qid_map, F.col("qpos") + 1)).drop("qpos")
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path)
# ---------------------------------------------------------------------------

_N_TABLES = 8
_PLANES_PER_TABLE = 6
_DIM = 64


def _plane_value(table_i: int, plane_j: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    a fixed integer mix (splitmix-style) of (table, plane, dim) — no
    RNG state, reproducible on any executor."""
    x = (table_i * 1_000_003 + plane_j * 10_007 + dim * 101 + 12345) & 0xFFFFFFFFFFFFFFFF
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
    x = x ^ (x >> 31)
    return (x % 2_000_001) / 1_000_000.0 - 1.0


def _plane_sql(table_i: int, plane_j: int) -> str:
    """One hyperplane as a parsed array-literal SQL fragment. CAST(
    'repr' AS DOUBLE) round-trips every double exactly (repr is
    shortest-exact), so the literal values — and hence the sign bits
    and buckets — are bit-identical to the element-wise ``F.lit`` form
    and to the DuckDB oracle."""
    return "array(" + ",".join(
        f"CAST('{_plane_value(table_i, plane_j, d)!r}' AS DOUBLE)"
        for d in range(_DIM)
    ) + ")"


def lsh_signatures(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-table bucket ids: sign bits of the embedding projected onto
    fixed hyperplanes, packed into an int per table.

    Each bucket column is ONE ``F.expr`` (VERDICT r06 #3): building the
    48 planes of 64 dims element-wise out of ``F.lit``/``zip_with``
    lambdas cost ~3100 py4j round-trips (~4 s of q41c's construction);
    the single parse per table costs 8. The SQL fold is the exact
    ``_dot`` semantics — zip_with multiply in element order, 0D seed,
    left-to-right aggregate — so results agree to the last bit."""
    sig_cols = []
    for t in range(_N_TABLES):
        cases = []
        for j in range(_PLANES_PER_TABLE):
            proj = (
                f"aggregate(zip_with(embedding, {_plane_sql(t, j)}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0D, (acc, x) -> acc + x)"
            )
            cases.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
        sig_cols.append(F.expr(" + ".join(cases)).alias(f"bucket{t}"))
    return emb.select(id_col, "embedding", *sig_cols)


def _lsh_oracle_sql() -> str:
    """DuckDB oracle for the LSH path. The hyperplanes are a pure
    function of (table, plane, dim) — no RNG state — so the oracle can
    recompute the exact same bucket ids from literal plane arrays and
    replicate the candidate join in SQL. Both engines evaluate the
    projection as an in-order double-precision fold over identical
    literals, so the sign bits (and hence the buckets) agree bit-for-bit.
    """
    sig_exprs = []
    for t in range(_N_TABLES):
        cases = []
        for j in range(_PLANES_PER_TABLE):
            plane = "[" + ",".join(
                repr(_plane_value(t, j, d)) for d in range(_DIM)
            ) + "]"
            cases.append(
                f"CASE WHEN list_dot_product(emb, {plane}) > 0 "
                f"THEN {1 << j} ELSE 0 END"
            )
        sig_exprs.append("(" + " + ".join(cases) + f") AS bucket{t}")
    bands = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bucket{t} AS b FROM sig"
        for t in range(_N_TABLES)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
sig AS (SELECT vec_id, {", ".join(sig_exprs)} FROM e),
bands AS ({bands}),
q AS (SELECT vec_id AS qid, t, b FROM bands WHERE vec_id < {_N_QUERIES}),
cand AS (
  SELECT DISTINCT q.qid, c.vec_id AS cid
  FROM q JOIN bands c ON q.t = c.t AND q.b = c.b
),
p AS (
  SELECT cand.qid, cand.cid,
    list_dot_product(qe.emb, ce.emb)
      / (sqrt(list_dot_product(qe.emb, qe.emb)) * sqrt(list_dot_product(ce.emb, ce.emb)))
      AS cos
  FROM cand
  JOIN e qe ON qe.vec_id = cand.qid
  JOIN e ce ON ce.vec_id = cand.cid
), r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q41c_ann_lsh", _lsh_oracle_sql())
def q41c_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: candidates are vectors sharing the query's bucket
    in any of the 8 hash tables; exact cosine rescoring inside the
    candidate set only. Recall vs the exact baseline is measured in
    tests (union of 8 tables keeps it high while each join stays tiny)."""
    emb = spread(table(spark, sf_dir, "embeddings"))
    sigs = lsh_signatures(emb)
    tables = F.array(
        *[
            F.struct(F.lit(t).alias("t"), F.col(f"bucket{t}").alias("b"))
            for t in range(_N_TABLES)
        ]
    )
    banded = sigs.select("vec_id", "embedding", F.explode(tables).alias("tb")).select(
        "vec_id", "embedding", F.col("tb.t").alias("t"), F.col("tb.b").alias("b")
    )
    # ||qe|| folded once per (query, table) row on the broadcast side
    # instead of once per candidate pair (deterministic function of qe,
    # so carrying it through the distinct changes nothing). Identical
    # IEEE values; qn * _norm(ce) keeps the multiplication order.
    queries = banded.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
        "t",
        "b",
    )
    cands = (
        banded.join(F.broadcast(queries), on=["t", "b"])
        .select(
            "qid",
            "qe",
            "qn",
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
        )
        .distinct()
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * _norm(F.col("ce")))
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


_Q42_BLOCK_CAP = 4096


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.4,
    block_cap: int = _Q42_BLOCK_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup with metadata blocking: only same-label
    pairs are compared (the blocking key is the shuffle partition), and
    each block's pairwise cosines are one numpy matmul inside
    applyInPandas — a pairwise expression join would evaluate an
    interpreted dot per pair (~40x slower measured at sf0.1).

    A block must fit one executor, and a skewed label must not get to
    decide whether it does: labels above ``block_cap`` rows are
    salt-split into ``s = ceil(n / block_cap)`` buckets by hashed id,
    and every unordered salt pair (sa <= sb) becomes its own task — the
    standard triangle partitioning of an all-pairs join. Each row is
    replicated s times (once per partner bucket), each task holds at
    most 2*block_cap rows, and each pair is produced exactly once: the
    pair (x, y) lives only in the block keyed by its two salts. For
    labels under the cap s == 1 and the plan degenerates to the simple
    per-label block."""
    import numpy as np

    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    salted = (
        emb.join(F.broadcast(sizes), "label")
        .withColumn("s", F.ceil(F.col("n_label") / F.lit(block_cap)).cast("int"))
        .withColumn("salt", F.pmod(F.xxhash64("vec_id"), F.col("s")).cast("int"))
    )
    # Replicate each row to every salt-pair block it participates in:
    # partner buckets t in [0, s); block key is (min(salt,t), max(salt,t)).
    partnered = salted.select(
        "label",
        "vec_id",
        "embedding",
        "salt",
        F.explode(F.sequence(F.lit(0), F.col("s") - 1)).alias("t"),
    ).select(
        "label",
        "vec_id",
        "embedding",
        "salt",
        F.least("salt", "t").alias("sa"),
        F.greatest("salt", "t").alias("sb"),
    )

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        sa, sb = int(pdf["sa"].iloc[0]), int(pdf["sb"].iloc[0])
        if sa == sb:
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ Xn.T
            i, j = np.triu_indices(len(ids), k=1)
            mask = S[i, j] >= threshold
            return pd.DataFrame(
                {
                    "d1": ids[i[mask]],
                    "d2": ids[j[mask]],
                    "cos": np.round(S[i[mask], j[mask]], 6),
                }
            )
        a = pdf[pdf["salt"] == sa]
        b = pdf[pdf["salt"] == sb]
        ida, idb = a["vec_id"].to_numpy(), b["vec_id"].to_numpy()
        A = np.array(a["embedding"].tolist(), dtype=np.float64)
        B = np.array(b["embedding"].tolist(), dtype=np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = An @ Bn.T
        i, j = np.nonzero(S >= threshold)
        d1 = np.minimum(ida[i], idb[j])
        d2 = np.maximum(ida[i], idb[j])
        return pd.DataFrame({"d1": d1, "d2": d2, "cos": np.round(S[i, j], 6)})

    return partnered.groupBy("label", "sa", "sb").applyInPandas(
        block, schema="d1 long, d2 long, cos double"
    )


@_q(
    "q42_embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
        list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
          AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT d1, d2, round(cos, 6) AS cos FROM p WHERE cos >= 0.4 ORDER BY d1, d2
    """,
)
def q42_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    return embedding_near_dup(emb).orderBy("d1", "d2")


def q41d_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the index-based scale path next to the
    LSH variant: a KMeans coarse quantizer partitions vectors into nlist
    cells; each query probes only the nprobe nearest cells and rescores
    exactly inside them, so the per-query work is nprobe/nlist of brute
    force. At 100 TB the cell id is the PARTITION KEY: vectors cluster-
    partition by cell, a probe touches nprobe partitions, and the
    centroid table (nlist x dim) broadcasts. Seeded KMeans makes the
    index deterministic; not SQL-expressible -> rows-only driver check,
    recall vs the exact baseline pinned in tests/test_northstar.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    nlist, nprobe = 16, 4
    emb = spread(table(spark, sf_dir, "embeddings")).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=nlist, seed=42, maxIter=10).fit(emb.select("features"))
    assigned = model.transform(emb).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    queries = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # nprobe nearest cells per query: tiny cross join vs the broadcast
    # centroid table, ranked by true L2 distance
    d2 = F.aggregate(
        F.zip_with(
            F.col("qe").cast("array<double>"),
            F.col("centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("d2", d2)
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qe", "cell")
    )
    cands = assigned.join(F.broadcast(probed), on="cell").select(
        "qid", "qe", F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (_norm(F.col("qe")) * _norm(F.col("ce")))
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


QUERIES["q41d_ann_ivf"] = q41d_ann_ivf


def q94_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over the embedding column: build
    one mean vector per label (posexplode -> per-dimension avg -> the
    exploded form IS the centroid — no array rebuild needed), score
    every vector against every centroid through a position join, and
    report the label-vs-predicted confusion counts. Centroids are
    rounded to 6 decimals so both engines agree despite different
    summation orders; 10 centroids x 64 dims is broadcast-sized, so the
    only wide op on the corpus is the per-(vector, candidate) partial
    aggregation — at 100 TB this is a scan plus a map-side-combined agg,
    no vector ever shuffles whole."""
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    ex = emb.select("vec_id", "label", F.posexplode("e").alias("pos", "x"))
    cent = (
        ex.groupBy(F.col("label").alias("cand"), "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    scored = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "cand")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
        .withColumn("cos", F.col("dot") / (F.col("nv") * F.col("nc")))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("cand").alias("pred"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("label", "pred")
    )


QUERIES["q94_nearest_centroid"] = q94_nearest_centroid
ORACLE["q94_nearest_centroid"] = """
WITH ex AS (
  SELECT vec_id, label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), cm AS (
  SELECT label AS cand, pos, ROUND(avg(x), 6) AS c
  FROM ex GROUP BY cand, pos
), cl AS (
  SELECT cand, list(c ORDER BY pos) AS cv FROM cm GROUP BY cand
), sc AS (
  SELECT e.vec_id, e.label, cl.cand,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv) AS cos
  FROM embeddings e, cl
), pick AS (
  SELECT vec_id, label, cand,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand) AS rn
  FROM sc
)
SELECT label, cand AS pred, count(*) AS cnt FROM pick WHERE rn = 1
GROUP BY label, pred ORDER BY label, pred
"""


# ---------------------------------------------------------------------------
# q41e — IVF with a deterministic medoid coarse quantizer (full oracle)
# ---------------------------------------------------------------------------

_IVF_NLIST = 16
_IVF_NPROBE = 4

#: Declared coarse-quantizer training budget (VERDICT r11 #2): the
#: KMeans fit runs on ONE sorted partition for determinism, so its
#: input must be hard-bounded — above this many vectors the fit trains
#: on a deterministic hash-ordered sample (see _fit_centroid_dir), the
#: standard IVF practice (a 16-cell quantizer saturates far below this
#: budget). Every bench fixture (<= ~4k vectors incl. absorbed batches)
#: sits far under it, so fixture fits are bit-identical to the
#: unsampled form.
_IVF_FIT_SAMPLE = 65_536

#: shared squared-L2 form: three sequential dot-product folds combined
#: with the identical expression on both engines, so assignment
#: distances agree bit-for-bit (same trick as the q41 cosine parity).
_D2_DUCK = (
    "list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
    " + list_dot_product({c}, {c})"
)

_IVF_MEDOID_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
m AS (SELECT vec_id AS cell, emb AS c FROM e WHERE vec_id < {_IVF_NLIST}),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q41e_ann_ivf_medoid", _IVF_MEDOID_ORACLE)
def q41e_ann_ivf_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer: the {_IVF_NLIST}
    cells are anchored on sampled data points (medoids = the vectors at
    vec_id < {_IVF_NLIST}) instead of KMeans centroids — the classic
    random-sample quantizer that trades a few recall points for a
    training-free, fully reproducible index. Unlike q41d (KMeans,
    rows-only driver check because centroids depend on the input
    split), every stage here is SQL-expressible, so this variant gives
    the IVF *structure* — assign / probe nprobe={_IVF_NPROBE} cells /
    exact rescore inside — a full value-level oracle.

    Scale shape: the medoid table broadcasts; cell assignment is a
    map-side struct-min aggregate (min over (rounded d2, cell) — the
    deterministic argmin, no window over the corpus); the probe side is
    {_N_QUERIES} queries x {_IVF_NLIST} cells — tiny — and candidates
    meet through a broadcast join on the cell id, which at 100 TB is
    the partition key so a probe touches nprobe partitions. Distances
    use the 3-fold dot-product identity so both engines agree
    bit-for-bit before rounding."""
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    med = emb.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("c")
    )

    def d2(x: str, c: str) -> Column:
        return (
            _dot(F.col(x), F.col(x))
            - 2 * _dot(F.col(x), F.col(c))
            + _dot(F.col(c), F.col(c))
        )

    assign = (
        emb.crossJoin(F.broadcast(med))
        .select(
            "vec_id",
            F.struct(F.round(d2("emb", "c"), 6).alias("d"), F.col("cell")).alias(
                "dc"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", F.col("best.cell").alias("cell"))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    wp = Window.partitionBy("qid").orderBy(
        F.asc(F.round(d2("qe", "c"), 6)), F.asc("cell")
    )
    probe = (
        q.crossJoin(F.broadcast(med))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "qe", "cell")
    )
    cands = (
        assign.join(F.broadcast(probe), "cell")
        .join(emb, "vec_id")
        .select("qid", "qe", F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (
        _norm(F.col("qe")) * _norm(F.col("ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# q41f — IVF with FITTED KMeans centroids, oracle-replayed (shared bytes)
# ---------------------------------------------------------------------------

#: fixed at import: the oracle strings below glob this path
_IVF_FITTED_ROOT = state.path("ivf_centroids_v2")

#: deterministic integer content key of an embeddings fixture — the
#: SAME expression both engines can evaluate exactly (double mul and
#: floor are IEEE-deterministic on the shared parquet bytes), used to
#: give each fixture its OWN immutable centroid directory and to let
#: the static oracle SQL pick it out when two scale factors share an
#: embedding count (sf0.001 and sf0.01 both have 500 vectors).
_SRC_KEY_DUCK = (
    "(SELECT CAST(sum(CAST(floor(abs(CAST(embedding[1] AS DOUBLE)) * 1000) "
    "AS BIGINT)) AS BIGINT) FROM embeddings)"
)
#: warm-call cache: embeddings fingerprint -> centroid dir (skips the
#: n_vec count job when the fixture bytes are unchanged)
_IVF_FITTED_CACHE: dict = {}


def _fitted_centroids_path(spark: SparkSession, sf_dir: str) -> str:
    """Fit (once per fixture generation) the q41d KMeans coarse
    quantizer and dump its centroids as parquet at a path the STATIC
    oracle string can glob. Round-10 protocol (VERDICT r09 #1): the
    directory is keyed by (n_vec, fixture CONTENT key) and therefore
    IMMUTABLE once complete — two scale factors sharing an embedding
    count get separate dirs, so nothing ever rebuilds in place and no
    reader can catch a mid-swap state. Rows carry
    (cell, c DOUBLE[], n_vec, src_key, gen): the oracle picks its dir
    via ``n_vec = count(*) AND src_key = <deterministic content key>``
    (both sides of which DuckDB evaluates from the registered
    ``embeddings`` view), and ``gen`` is an md5 of the centroid VALUES
    themselves — the in-band stamp the staged-assignment store
    validates against, so two processes that fit different centroids
    for the same fixture (k-means|| init is partitioning-dependent)
    can never alias. The install race is a plain atomic rename: the
    loser adopts the winner's immutable bytes."""
    import shutil

    # deferred GC of the legacy pre-round-10 v1 root (VERDICT r10
    # "What's wrong" #3): nothing reads it since the ivf_centroids_v2
    # bump, but stranded mixed-schema dirs would otherwise accumulate
    # on a long-lived host. Same 30-min quiet grace as state.staged_path.
    v1_root = os.path.join(os.path.dirname(_IVF_FITTED_ROOT), "ivf_centroids")
    try:
        import time as _time

        if os.path.isdir(v1_root) and (
            _time.time() - os.stat(v1_root).st_mtime > 1800.0
        ):
            shutil.rmtree(v1_root, ignore_errors=True)
    except OSError:
        pass
    fp = state.fingerprint(sf_dir, ("embeddings",))
    cached = _IVF_FITTED_CACHE.get(fp)
    if cached is not None and os.path.exists(os.path.join(cached, "_SUCCESS")):
        return cached
    emb = spread(table(spark, sf_dir, "embeddings"))
    agg = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.abs(F.col("embedding").getItem(0).cast("double")) * 1000)
        ).cast("long").alias("k"),
    ).first()
    n_vec, src_key = int(agg["n"]), int(agg["k"])
    out = os.path.join(_IVF_FITTED_ROOT, f"nv{n_vec}_k{src_key}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        _IVF_FITTED_CACHE[fp] = out
        return out
    _fit_centroid_dir(
        spark,
        emb.select(F.col("embedding").cast("array<double>").alias("emb")),
        n_vec,
        src_key,
        out,
    )
    _IVF_FITTED_CACHE[fp] = out
    return out


def _fit_centroid_dir(
    spark: SparkSession, vecs: DataFrame, n_vec: int, src_key: int, out: str
) -> str:
    """Fit the KMeans coarse quantizer on ``vecs`` (one ``emb``
    array<double> column) and install the centroids at the immutable
    content-keyed directory ``out`` via atomic rename. The in-band
    ``gen`` column is an md5 of the centroid VALUES — the stamp every
    staged-assignment reader validates against. Losing the install
    race adopts the winner's bytes (two fits of the same data can
    differ: k-means|| init is partitioning-dependent), which is safe
    because every consumer pins + stamps the bytes it actually
    serves."""
    import hashlib

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Deterministic fit input: k-means|| init samples per partition, so
    # the fitted centroids are a function of (partition contents, order).
    # Pinning one partition in a fully sorted order makes the fit a pure
    # function of the fixture bytes — no dependence on core count, active
    # shuffle conf, or which caller fits first (the round-10 protocol
    # tolerated divergent fits; the policy-branch pins q342 carries need
    # the fit itself reproducible).
    #
    # BOUNDED by construction (VERDICT r11 #2): above _IVF_FIT_SAMPLE
    # rows the training set is a deterministic hash-ordered sample —
    # ORDER BY (md5 of the vector's canonical string, the vector) LIMIT
    # N, a per-partition top-K heap (TakeOrderedAndProject), never a
    # full shuffle — so the single fit partition holds at most N rows
    # at any corpus scale (the sampling every production IVF trainer
    # applies). Below the budget the limit is the identity and the fit
    # input is bit-identical to the unsampled form, which keeps every
    # fixture-pinned fit (q342 policy branches, the IVF-family oracles)
    # unchanged. The downstream sortWithinPartitions re-sorts, so only
    # the sampled SET matters, and ties (duplicate vectors) are
    # interchangeable.
    fit_input = vecs
    if n_vec > _IVF_FIT_SAMPLE:
        skey = F.col("emb").cast("string")
        fit_input = (
            vecs.orderBy(F.md5(skey).asc(), skey.asc()).limit(_IVF_FIT_SAMPLE)
        )
    feat = (
        fit_input.coalesce(1)
        .sortWithinPartitions("emb")
        .withColumn("features", array_to_vector(F.col("emb")))
    )
    model = KMeans(k=_IVF_NLIST, seed=42, maxIter=10).fit(feat.select("features"))
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    gen = hashlib.md5(
        ";".join(
            f"{i}:" + ",".join(repr(x) for x in c) for i, c in enumerate(centers)
        ).encode()
        + f"|{n_vec}|{src_key}".encode()
    ).hexdigest()[:12]
    rows = [(i, c, n_vec, src_key, gen) for i, c in enumerate(centers)]
    cent = spark.createDataFrame(
        rows, "cell int, c array<double>, n_vec long, src_key long, gen string"
    )
    # losing the install race adopts the winner's immutable bytes
    state.atomic_stage(cent.coalesce(1), out)
    return out


_IVF_FITTED_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY_DUCK}
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q41f_ivf_fitted", _IVF_FITTED_ORACLE)
def q41f_ivf_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the FITTED KMeans coarse quantizer, value-exact:
    q41d's centroids (KMeans k={_IVF_NLIST}, seed 42 — the actual
    trained index) are dumped once per fixture as parquet, and BOTH
    engines build the whole lattice from those shared bytes with the
    q41e machinery — deterministic argmin assignment, nprobe=
    {_IVF_NPROBE} probes, exact cosine rescore inside probed cells.
    This closes the gap q41e left: that twin proved the IVF structure
    with medoid anchors; this one proves it with the fitted centroids
    themselves, so the only remaining unverified ML content anywhere
    is training internals (same stance as q37d: verify inference, pin
    training by seed + artifact tests). q41d stays as the
    MLlib-transform path (rows-only by design).

    Scale: identical to q41e — centroid table broadcasts, assignment
    is a map-side struct-min, candidates meet on the cell partition
    key. Distances use the 3-fold dot identity so both engines agree
    bit-for-bit before rounding."""
    cent_path = _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    med = _served_centroids(spark, cent_path)[0].select(
        "cell", F.col("c").cast("array<double>").alias("c")
    )

    def d2(x: str, c: str) -> Column:
        return (
            _dot(F.col(x), F.col(x))
            - 2 * _dot(F.col(x), F.col(c))
            + _dot(F.col(c), F.col(c))
        )

    # assignment via the shared helper (q337/q340's path), which folds
    # ||x||^2 / ||c||^2 once per row instead of once per pair — same
    # IEEE values, ~3x fewer flops in the corpus-scale stage
    assign = _ivf_assign(emb, med)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    wp = Window.partitionBy("qid").orderBy(
        F.asc(F.round(d2("qe", "c"), 6)), F.asc("cell")
    )
    # ||qe|| folded once per probe row, not once per candidate (the
    # _ivf_probe_topk discipline; qn * _norm(ce) keeps the order)
    probe = (
        q.crossJoin(F.broadcast(med))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "qe", _norm(F.col("qe")).alias("qn"), "cell")
    )
    cands = (
        assign.join(F.broadcast(probe), "cell")
        .join(emb, "vec_id")
        .select(
            "qid",
            "qe",
            "qn",
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("ce"),
        )
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (
        F.col("qn") * _norm(F.col("ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# q337 — incremental IVF absorb (vector-index analogue of q333)
# ---------------------------------------------------------------------------

_ANN_OFF = 1000000  # absorbed vector ids live in a disjoint id space

_IVF_ABSORB_ORACLE = f"""
WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
nb AS (
  SELECT vec_id + {_ANN_OFF} AS vec_id,
         CAST(list_reverse(embedding) AS DOUBLE[]) AS emb
  FROM embeddings
),
e AS (SELECT * FROM eb UNION ALL SELECT * FROM nb),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY_DUCK}
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM eb WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


def _served_centroids(spark: SparkSession, cent_path: str):
    """Snapshot the SERVED centroid generation: (pinned frame, gen).

    The nv<count> dir rebuilds in place when two fixtures share an
    embedding count, so any two separate reads of it can straddle a
    generation swap. An eager ``localCheckpoint`` materializes the
    bytes NOW; every downstream use (gen extraction, assignment
    build, probe join) reads the checkpoint, never the live files —
    so the generation string and the centroid vectors are atomic by
    construction (VERDICT r09 #1: no more marker-then-parquet
    two-step). Retries once around the two-rename swap window."""
    last = None
    for _ in range(3):
        try:
            med = spark.read.parquet(cent_path).localCheckpoint(eager=True)
            gens = [r[0] for r in med.select("gen").distinct().collect()]
            if len(gens) == 1 and gens[0]:
                return med, gens[0]
        except Exception as exc:  # mid-swap listing/read: retry
            last = exc
        import time

        time.sleep(0.2)
    raise RuntimeError(f"centroid store unreadable at {cent_path}: {last}")


def _staged_base_assign(
    spark: SparkSession, sf_dir: str, emb: DataFrame, med: DataFrame,
    gen: str,
) -> DataFrame:
    """The staged base inverted list — SELF-VALIDATING (VERDICT r09
    #1). Keyed by the embeddings fixture fingerprint (via
    state.staged_path) AND the centroid generation, and — the round-10
    hardening — the generation is also stamped IN-BAND as a ``cgen``
    column carried through the very scan that computed the
    assignment, then validated at read time against the served
    generation. A raced or legacy artifact (keyed to one generation,
    computed against another — the interleaving the round-9 judge
    hit, which previously served silently wrong q337/q339 answers
    until a manual wipe) now fails validation and is rebuilt in
    place. ``med`` must be the pinned frame from _served_centroids
    so stamp, key, and probe all come from the same bytes."""
    import os as _os
    import shutil as _sh

    from nfl_predictions_spark.state import atomic_stage, staged_path

    aroot = staged_path(sf_dir, "ivf_assign", sources=("embeddings",))
    aout = _os.path.join(aroot, f"base_{gen}")
    for attempt in (0, 1):
        if not _os.path.exists(_os.path.join(aout, "_SUCCESS")):
            atomic_stage(_ivf_assign(emb, med, stamp=True), aout)
        staged = spark.read.parquet(aout)
        if "cgen" in staged.columns:
            stamped = [
                r[0] for r in staged.select("cgen").distinct().collect()
            ]
            if stamped == [gen]:
                return staged.drop("cgen")
        # stamp missing (pre-round-10 artifact) or disagrees with the
        # served generation (raced writer): the artifact is untrusted
        # — wipe and rebuild from the pinned centroids.
        if attempt == 0:
            _sh.rmtree(aout, ignore_errors=True)
    raise RuntimeError(
        f"staged IVF assignment at {aout} failed generation validation "
        f"twice (want gen={gen})"
    )


def _ivf_assign(
    emb: DataFrame, med: DataFrame, stamp: bool = False
) -> DataFrame:
    """Deterministic argmin cell assignment vs broadcast centroids —
    the q41e/q41f contract (round-6 d2, cell tie-break). With
    ``stamp=True`` the centroid generation is carried THROUGH the
    scan into a ``cgen`` output column: the stamp is whatever bytes
    this job actually read, so a staged artifact can never claim a
    generation it wasn't computed against (VERDICT r09 #1)."""

    # ||x||^2 and ||c||^2 are invariant across the (vector x centroid)
    # pair grid: computing them once per row / once per centroid (instead
    # of once per PAIR) cuts the assignment flops ~3x. Bit-identical:
    # the same IEEE value is produced by the same fold, only earlier,
    # and the (x2 - 2*dot) + c2 association is unchanged.
    emb = emb.withColumn("_x2", _dot(F.col("emb"), F.col("emb")))
    med = med.withColumn("_c2", _dot(F.col("c"), F.col("c")))
    d2p = F.col("_x2") - 2 * _dot(F.col("emb"), F.col("c")) + F.col("_c2")

    cols = ["vec_id", F.struct(
        F.round(d2p, 6).alias("d"), F.col("cell")
    ).alias("dc")]
    aggs = [F.min("dc").alias("best")]
    outs = ["vec_id", F.col("best.cell").alias("cell")]
    if stamp:
        cols.append(F.col("gen"))
        aggs.append(F.min("gen").alias("cgen"))
        outs.append("cgen")
    return (
        emb.crossJoin(F.broadcast(med))
        .select(*cols)
        .groupBy("vec_id")
        .agg(*aggs)
        .select(*outs)
    )


def _ivf_probe_topk(
    emb: DataFrame, alle: DataFrame, med: DataFrame, assign: DataFrame
) -> DataFrame:
    """The shared IVF probe lattice (q41e/q41f shape): the first
    {_N_QUERIES} base vectors probe their nprobe nearest cells against
    the broadcast centroid table, candidates meet the inverted list on
    the cell key, and exact cosine re-ranks the bounded candidate set.
    Used by q337 (absorb), q340 (migrated index), and q341 (streamed
    ingest) so stream == batch == migration shares one plan."""

    def d2(x: str, c: str) -> Column:
        return (
            _dot(F.col(x), F.col(x))
            - 2 * _dot(F.col(x), F.col(c))
            + _dot(F.col(c), F.col(c))
        )

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    wp = Window.partitionBy("qid").orderBy(
        F.asc(F.round(d2("qe", "c"), 6)), F.asc("cell")
    )
    # ||qe|| is invariant across a query's candidate rows: fold it once
    # per probe row (queries x nprobe) instead of once per candidate.
    # Bit-identical — same IEEE fold, and qn * ||ce|| keeps the same
    # multiplication order as _norm(qe) * _norm(ce).
    probe = (
        q.crossJoin(F.broadcast(med.select("cell", "c")))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "qe", _norm(F.col("qe")).alias("qn"), "cell")
    )
    cands = (
        assign.join(F.broadcast(probe), "cell")
        .join(alle, "vec_id")
        .select(
            "qid",
            "qe",
            "qn",
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("ce"),
        )
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (
        F.col("qn") * _norm(F.col("ce"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    return (
        cands.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


@_q("q337_ivf_absorb", _IVF_ABSORB_ORACLE)
def q337_ivf_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index absorb — the vector-search analogue of
    q333's dedup-index absorb, i.e. production vector-DB ingest: a
    NEW vector batch (element-reversed embeddings in a disjoint id
    space — deterministic on both engines) is assigned to the FROZEN
    fitted centroids (q41f's staged bytes) and appended to the staged
    inverted lists as a DELTA; base assignments are READ from the
    staged component, never recomputed. Top-{_TOP_K} queries then
    probe the merged index. Because the quantizer is frozen, base
    assignments are invariant under absorption, so incremental ==
    rebuild — and the oracle IS the rebuild: it re-assigns every
    vector (base + batch) from the shared centroid bytes from
    scratch. Occupancy drift after absorb (the retrain trigger) is
    q324's hubness audit shape; re-fitting the quantizer is q41f's
    staging path — together the full IVF lifecycle.

    Scale shape: per-ingest work is O(batch x nlist) map-side
    (broadcast centroids, no shuffle for assignment); the probe is
    q41e/q41f's cell-bounded join lattice. Nothing rebuilds."""
    cent_path = _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # pinned centroid snapshot: gen + vectors from the same bytes, so
    # the staged assignment, the batch assignment, and the probe all
    # see ONE generation even if the shared nv<count> dir swaps
    # mid-query (VERDICT r09 #1)
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    # staged base inverted list — built once per (fixture, centroid
    # generation), stamp-validated on every read
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    assign = base_assign.unionByName(_ivf_assign(nb, med))
    alle = emb.unionByName(nb).localCheckpoint(eager=False)

    return _ivf_probe_topk(emb, alle, med, assign)


# ---------------------------------------------------------------------------
# q339 — IVF occupancy drift after absorb (the re-train trigger)
# ---------------------------------------------------------------------------

_IVF_DRIFT_ORACLE = f"""
WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
nb AS (
  SELECT vec_id + {_ANN_OFF} AS vec_id,
         CAST(list_reverse(embedding) AS DOUBLE[]) AS emb
  FROM embeddings
),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY_DUCK}
),
ab AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM eb e, m
  ) WHERE rn = 1
),
an AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM nb e, m
  ) WHERE rn = 1
),
cb AS (SELECT cell, count(*) AS n_base FROM ab GROUP BY cell),
cn AS (SELECT cell, count(*) AS n_new FROM an GROUP BY cell),
tot AS (SELECT (SELECT count(*) FROM ab) AS tb, (SELECT count(*) FROM an) AS tn)
SELECT m.cell,
       CAST(coalesce(cb.n_base, 0) AS BIGINT) AS n_base,
       CAST(coalesce(cn.n_new, 0) AS BIGINT) AS n_new,
       round(coalesce(cb.n_base, 0) * 1.0 / tot.tb, 6) AS share_base,
       round(coalesce(cn.n_new, 0) * 1.0 / tot.tn, 6) AS share_new,
       round(
         CASE WHEN coalesce(cb.n_base, 0) = 0 THEN -1.0
              ELSE (coalesce(cn.n_new, 0)
                    - tot.tn * (cb.n_base * 1.0 / tot.tb))
                   * (coalesce(cn.n_new, 0)
                      - tot.tn * (cb.n_base * 1.0 / tot.tb))
                   / (tot.tn * (cb.n_base * 1.0 / tot.tb))
         END, 6) AS chi2_term
FROM m
LEFT JOIN cb ON cb.cell = m.cell
LEFT JOIN cn ON cn.cell = m.cell
CROSS JOIN tot
ORDER BY m.cell
"""


@_q("q339_ivf_drift", _IVF_DRIFT_ORACLE)
def q339_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy drift — the monitoring query that closes the
    q337 ingest loop by deciding WHEN the frozen quantizer must be
    re-fitted: per cell, base vs absorbed-batch occupancy, occupancy
    shares, and the per-cell Pearson chi-square term of the new batch
    against the base distribution (expected = batch_total *
    base_share; sentinel -1 for cells empty in base, where the term is
    undefined and the cell alone already signals drift). A large
    chi-square total means the ingest stream no longer matches the
    trained cell structure — the production retrain trigger; the
    retrain itself is q41f's staged fitting path.

    Scale shape: base occupancy comes from the STAGED inverted list
    (one component scan + a 16-cell groupBy); only the batch is
    assigned per run (broadcast centroids, map-side). Everything
    downstream is a 16-row frame. Exactness: counts are BIGINT;
    shares and chi-square terms are single fixed-order float
    expressions rounded at 6 on both engines."""
    cent_path = _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    new_assign = _ivf_assign(nb, med).localCheckpoint(eager=False)

    cb = base_assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_base"))
    cn = new_assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_new"))
    tb = base_assign.count()
    tn = new_assign.count()

    nb_ = F.coalesce(F.col("n_base"), F.lit(0)).cast("long")
    nn_ = F.coalesce(F.col("n_new"), F.lit(0)).cast("long")
    expected = F.lit(tn) * (F.col("n_base") * F.lit(1.0) / F.lit(tb))
    return (
        med.select("cell")
        .join(cb, "cell", "left")
        .join(cn, "cell", "left")
        .select(
            "cell",
            nb_.alias("n_base"),
            nn_.alias("n_new"),
            F.round(nb_ * F.lit(1.0) / F.lit(tb), 6).alias("share_base"),
            F.round(nn_ * F.lit(1.0) / F.lit(tn), 6).alias("share_new"),
            F.round(
                F.when(nb_ == 0, F.lit(-1.0)).otherwise(
                    (nn_ - expected) * (nn_ - expected) / expected
                ),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q340 — IVF quantizer re-fit + index migration (the act q339 triggers)
# ---------------------------------------------------------------------------

#: content key of base + absorbed batch (reversed embeddings): the
#: absorbed batch's first component is the original LAST component
_SRC_KEY2_DUCK = (
    "(SELECT CAST("
    "sum(CAST(floor(abs(CAST(embedding[1] AS DOUBLE)) * 1000) AS BIGINT))"
    " + sum(CAST(floor(abs(CAST(embedding[len(embedding)] AS DOUBLE))"
    " * 1000) AS BIGINT)) AS BIGINT) FROM embeddings)"
)

_IVF_MIGRATE_ORACLE = f"""
WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
nb AS (
  SELECT vec_id + {_ANN_OFF} AS vec_id,
         CAST(list_reverse(embedding) AS DOUBLE[]) AS emb
  FROM embeddings
),
e AS (SELECT * FROM eb UNION ALL SELECT * FROM nb),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = 2 * (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY2_DUCK}
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM eb WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q340_ivf_refit_migrate", _IVF_MIGRATE_ORACLE)
def q340_ivf_refit_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer RE-FIT + index migration — the act q339's drift
    monitor triggers, completing the vector-index lifecycle (VERDICT
    r09 #4): after enough absorbed batches shift the distribution, the
    coarse quantizer is re-fit on base + absorbed and the inverted
    list migrates to the new generation, while probes against the OLD
    generation keep answering untouched (its centroid dir and staged
    assignment are immutable; q337/q339 remain correct mid-migration —
    pinned in tests). Top-{_TOP_K} queries then probe the MIGRATED
    index. The oracle is the from-scratch rebuild under the new
    centroids (q333's incremental-equals-rebuild discipline): it
    re-assigns every vector from the shared refit bytes.

    Scale shape: the re-fit is MLlib KMeans over base+absorbed (one
    cached pass per iteration, map-side assignment cost O(N x nlist));
    migration itself is ONE map-side pass over all vectors against the
    broadcast new centroids staged as a fresh generation of the
    self-validating assignment store — no shuffle, no index rewrite,
    and the old generation serves until the new one's _SUCCESS lands.
    The probe is q41e/q41f's cell-bounded join lattice."""
    # old generation stays serveable throughout (probe-during-migration)
    _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    alle = emb.unionByName(nb).localCheckpoint(eager=False)
    agg = alle.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.abs(F.col("emb").getItem(0)) * 1000))
        .cast("long")
        .alias("k"),
    ).first()
    n2, key2 = int(agg["n"]), int(agg["k"])
    new_path = os.path.join(_IVF_FITTED_ROOT, f"nv{n2}_k{key2}")
    if not os.path.exists(os.path.join(new_path, "_SUCCESS")):
        _fit_centroid_dir(spark, alle.select("emb"), n2, key2, new_path)
    cent2, gen2 = _served_centroids(spark, new_path)
    med2 = cent2.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    # migration = the new generation of the staged assignment store,
    # stamped + validated exactly like the base index
    migrated = _staged_base_assign(spark, sf_dir, alle, med2, gen2)

    return _ivf_probe_topk(emb, alle, med2, migrated)


# ---------------------------------------------------------------------------
# q165 — k-means (Lloyd) as a deterministic relational iteration
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_DEC = "decimal(30,15)"


def _kmeans_oracle(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unroll Lloyd's iterations as CTE stages (same trick as q160's BPE
    rounds): assignment = decimal-exact argmin with cluster-id
    tie-break, update = round-6 quantized mean, so every engine decides
    identically at every step."""
    parts = [
        """
    WITH x AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS xi
      FROM embeddings
    ), c0 AS (
      SELECT CAST(vec_id AS BIGINT) AS c, i, xi AS ci
      FROM x WHERE vec_id < %d
    )"""
        % k
    ]
    for t in range(iters):
        parts.append(
            """
    , a{t} AS (
      SELECT vec_id, c FROM (
        SELECT x.vec_id, c{t}.c,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY sum(CAST((x.xi - c{t}.ci) * (x.xi - c{t}.ci)
                              AS DECIMAL(30,15))), c{t}.c
               ) AS rn
        FROM x JOIN c{t} ON x.i = c{t}.i
        GROUP BY x.vec_id, c{t}.c
      ) WHERE rn = 1
    ), c{n} AS (
      SELECT a.c, x.i,
             ROUND(CAST(sum(CAST(x.xi AS DECIMAL(30,15))) AS DOUBLE)
                   / count(*), 6) + 0.0 AS ci
      FROM a{t} a JOIN x ON a.vec_id = x.vec_id
      GROUP BY a.c, x.i
    )""".format(t=t, n=t + 1)
        )
    parts.append(
        """
    SELECT f.c AS cluster, f.i AS i, f.ci AS coord, m.n AS n_members
    FROM c{n} f
    JOIN (SELECT c, CAST(count(*) AS BIGINT) AS n FROM a{t} GROUP BY c) m
      ON f.c = m.c
    ORDER BY cluster, i
    """.format(t=iters - 1, n=iters)
    )
    return "".join(parts)


@_q("q165_kmeans_lloyd", _kmeans_oracle())
def q165_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table as a pure relational
    iteration — the canonical iterative-refinement algorithm expressed
    the way Catalyst can run it at 100 TB.

    Determinism contract (shared with the unrolled-CTE oracle):
    initial centroids are the first k vectors by vec_id; each
    assignment minimizes a DECIMAL-exact squared distance (per-term
    squares are IEEE-identical doubles, the sum is exact, ties break on
    cluster id); each update quantizes the new centroid to 6 decimals —
    so both engines walk the identical centroid trajectory and the
    result is hash-exact, not tolerance-based.

    Scale: per iteration the plan is one broadcast of the k*d centroid
    table into the exploded fact (no shuffle of the corpus), a
    (vec_id, c)-keyed partial-agg distance reduce, and a (c, i) mean —
    all map-side-combinable. k*d is bounded driver state; the corpus
    never leaves its partitioning. Empty clusters cannot arise at the
    tested sizes (k=8 seeds among >=500 points) and would surface as a
    row-count mismatch, not silent drift.
    """
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", F.posexplode("embedding").alias("i", "xi")).select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.col("xi").cast("double").alias("xi"),
    )
    cent = x.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("c"), "i", F.col("xi").alias("ci")
    )
    assign = None
    from pyspark.sql import Window as W

    for _ in range(_KM_ITERS):
        d2 = (
            x.join(F.broadcast(cent), "i")
            .select(
                "vec_id",
                "c",
                ((F.col("xi") - F.col("ci")) * (F.col("xi") - F.col("ci")))
                .cast(_KM_DEC)
                .alias("sq"),
            )
            .groupBy("vec_id", "c")
            .agg(F.sum("sq").alias("d2"))
        )
        rn = F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("c").asc())
        )
        assign = d2.withColumn("rn", rn).where(F.col("rn") == 1).select("vec_id", "c")
        cent = (
            assign.join(x, "vec_id")
            .groupBy("c", "i")
            .agg(
                (
                    F.round(
                        F.sum(F.col("xi").cast(_KM_DEC)).cast("double")
                        / F.count(F.lit(1)),
                        6,
                    )
                    + F.lit(0.0)
                ).alias("ci")
            )
        )
    members = assign.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    return (
        cent.join(members, "c")
        .select(
            F.col("c").alias("cluster"),
            "i",
            F.col("ci").alias("coord"),
            F.col("n").alias("n_members"),
        )
        .orderBy("cluster", "i")
    )


# ---------------------------------------------------------------------------
# q342 — drift-triggered refit policy (q339's monitor wired to q340's act)
# ---------------------------------------------------------------------------

#: chi-square critical value at alpha=0.05 for nlist-1 = 15 dof — the
#: standard retrain trigger threshold
_DRIFT_CRIT = 25.0

#: identity batch ids live in a second disjoint id space
_ANN_OFF2 = 2 * _ANN_OFF

#: deterministic vector tombstone sets (q338's doc-side discipline):
#: the accumulated GDPR/takedown deletes at the two policy decision
#: points — the steady-state (identity) scenario has few deletes, the
#: drifted (reversed) scenario has accumulated many
_EVICT_VEC_MOD = 7  # drifted scenario: vec_id % 7 == 0 (~14.3%)
_EVICT_VEC_MOD_SLOW = 29  # steady-state scenario: vec_id % 29 == 0 (~3.4%)
#: tombstone fraction above which merge-on-read probes pay too much
#: and the deletes must be compacted into the next refit migration
_TOMB_VEC_CRIT = 0.10

_IVF_POLICY_ORACLE = f"""
WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
rev AS (
  SELECT vec_id + {_ANN_OFF} AS vec_id,
         CAST(list_reverse(embedding) AS DOUBLE[]) AS emb
  FROM embeddings
),
ident AS (
  SELECT vec_id + {_ANN_OFF2} AS vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY_DUCK}
),
m2 AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = 2 * (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY2_DUCK}
),
ab AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM eb e, m
  ) WHERE rn = 1
),
batches AS (
  SELECT 'identity' AS batch_tag, vec_id, emb FROM ident
  UNION ALL
  SELECT 'reversed' AS batch_tag, vec_id, emb FROM rev
),
an AS (
  SELECT batch_tag, vec_id, cell FROM (
    SELECT b.batch_tag, b.vec_id, m.cell,
      row_number() OVER (PARTITION BY b.batch_tag, b.vec_id ORDER BY
        round({_D2_DUCK.format(x='b.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM batches b, m
  ) WHERE rn = 1
),
cb AS (SELECT cell, count(*) AS n_base FROM ab GROUP BY cell),
cn AS (SELECT batch_tag, cell, count(*) AS n_new FROM an
       GROUP BY batch_tag, cell),
tot AS (SELECT (SELECT count(*) FROM ab) AS tb,
               (SELECT count(*) FROM eb) AS tn),
chi AS (
  SELECT t.batch_tag,
         round(sum(
           CASE WHEN cb.n_base IS NULL OR cb.n_base = 0 THEN 0.0
                ELSE (coalesce(cn.n_new, 0)
                      - tot.tn * (cb.n_base * 1.0 / tot.tb))
                     * (coalesce(cn.n_new, 0)
                        - tot.tn * (cb.n_base * 1.0 / tot.tb))
                     / (tot.tn * (cb.n_base * 1.0 / tot.tb))
           END), 6) AS chi2_total
  FROM (SELECT DISTINCT batch_tag FROM batches) t
  CROSS JOIN cb
  LEFT JOIN cn ON cn.batch_tag = t.batch_tag AND cn.cell = cb.cell
  CROSS JOIN tot
  GROUP BY t.batch_tag
),
moved AS (
  -- migration bill under the refit quantizer: SURVIVING base + REVERSED
  -- batch vectors whose cell changes (the q340 index). Tombstoned base
  -- vectors (drifted-scenario set, vec_id % {_EVICT_VEC_MOD} = 0) are
  -- NOT migrated — the refit migration is where deletes compact for free
  SELECT count(*) AS n FROM (
    SELECT e.vec_id,
      (SELECT m.cell FROM m ORDER BY
         round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC
         LIMIT 1) AS c_old,
      (SELECT m2.cell FROM m2 ORDER BY
         round({_D2_DUCK.format(x='e.emb', c='m2.c')}, 6) ASC, m2.cell ASC
         LIMIT 1) AS c_new
    FROM (SELECT vec_id, emb FROM eb UNION ALL SELECT vec_id, emb FROM rev) e
    WHERE e.vec_id >= {_ANN_OFF} OR e.vec_id % {_EVICT_VEC_MOD} <> 0
  ) WHERE c_old <> c_new
),
tomb AS (
  SELECT (SELECT count(*) FROM eb WHERE vec_id % {_EVICT_VEC_MOD} = 0)
           AS t_fast,
         (SELECT count(*) FROM eb WHERE vec_id % {_EVICT_VEC_MOD_SLOW} = 0)
           AS t_slow,
         (SELECT count(*) FROM eb) AS n_all
)
SELECT batch_tag, chi2_total,
       CASE WHEN chi2_total > {_DRIFT_CRIT} THEN 'refit' ELSE 'absorb' END
         AS decision,
       CASE WHEN chi2_total > {_DRIFT_CRIT}
            THEN (SELECT CAST(n AS BIGINT) FROM moved)
            ELSE CAST(0 AS BIGINT) END AS n_moved,
       round(CASE WHEN batch_tag = 'identity'
                  THEN tomb.t_slow * 1.0 / tomb.n_all
                  ELSE tomb.t_fast * 1.0 / tomb.n_all END, 6) AS tomb_frac,
       CASE WHEN (CASE WHEN batch_tag = 'identity'
                       THEN tomb.t_slow * 1.0 / tomb.n_all
                       ELSE tomb.t_fast * 1.0 / tomb.n_all END)
                 > {_TOMB_VEC_CRIT}
            THEN 'compact' ELSE 'defer' END AS evict_action,
       CASE WHEN (CASE WHEN batch_tag = 'identity'
                       THEN tomb.t_slow * 1.0 / tomb.n_all
                       ELSE tomb.t_fast * 1.0 / tomb.n_all END)
                 > {_TOMB_VEC_CRIT}
            THEN CAST(tomb.t_fast AS BIGINT) ELSE CAST(0 AS BIGINT) END
         AS n_evicted
FROM chi CROSS JOIN tomb ORDER BY batch_tag
"""


@_q("q342_ivf_refit_policy", _IVF_POLICY_ORACLE)
def q342_ivf_refit_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance POLICY: q339's occupancy-drift monitor
    wired to q340's re-fit, end to end. Two candidate ingest batches
    are scored against the serving quantizer — an in-distribution
    batch (identity copies in a disjoint id space) and the drifted
    reversed batch — and each gets the production decision: total
    chi-square vs base occupancy over the {_IVF_NLIST} cells, 'refit'
    iff it exceeds the 0.05 critical value ({_DRIFT_CRIT}, 15 dof),
    plus the migration bill (vectors whose cell changes under the
    refit quantizer) for the branch that migrates. The identity batch
    lands exactly on base occupancy (chi2 = 0, absorb, bill 0); the
    reversed batch trips the trigger — both decision branches are
    exercised in one query, and the refit bytes are q340's immutable
    staged generation.

    Round-11 (VERDICT r10 #1): the policy also carries the EVICTION
    arm — the vector-side analogue of q343's tombstone trigger. Each
    decision point sees its accumulated tombstone set (steady-state
    scenario: vec_id % {_EVICT_VEC_MOD_SLOW} == 0, ~3.4%; drifted
    scenario: vec_id % {_EVICT_VEC_MOD} == 0, ~14.3% — q344's
    merge-on-read set): above the {_TOMB_VEC_CRIT:.0%} merge-on-read
    tax the deletes must COMPACT INTO THE NEXT REFIT ('compact',
    n_evicted = tombstones dropped at migration time — they are simply
    not migrated, so eviction is one anti-join, free at refit time);
    below it they stay merge-on-read ('defer'). Both branches are
    exercised, and the migration bill counts SURVIVORS only.

    Scale shape: both batch assignments are map-side vs broadcast
    centroids; occupancies are {_IVF_NLIST}-row frames; the migration
    bill joins two generations of the staged assignment store on
    vec_id (the old-gen base component is read, never recomputed);
    the tombstone arm is one map-side conditional count."""
    cent_path = _fitted_centroids_path(spark, sf_dir)
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    rev = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    ident = emb.select(
        (F.col("vec_id") + _ANN_OFF2).alias("vec_id"), F.col("emb")
    )
    batches = ident.withColumn("batch_tag", F.lit("identity")).unionByName(
        rev.withColumn("batch_tag", F.lit("reversed"))
    )
    # per-batch assignment: map-side argmin vs broadcast centroids,
    # grouped occupancy per batch
    an = (
        _ivf_assign(
            batches.select(
                F.concat_ws("_", "batch_tag", F.col("vec_id").cast("string"))
                .alias("vec_id"),
                "emb",
            ),
            med,
        )
        .withColumn("batch_tag", F.split("vec_id", "_").getItem(0))
        .groupBy("batch_tag", "cell")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    cb = base_assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_base"))
    # totals ride a broadcast 1-row frame instead of driver-side counts
    # (tb = sum of per-cell base occupancy; tn = batch size = |base|)
    tots = cb.agg(
        F.sum("n_base").cast("long").alias("tb"),
        F.sum("n_base").cast("long").alias("tn"),
    )
    expected = F.col("tn") * (F.col("n_base") * F.lit(1.0) / F.col("tb"))
    nn_ = F.coalesce(F.col("n_new"), F.lit(0)).cast("long")
    chi = (
        cb.crossJoin(
            batches.select("batch_tag").distinct().hint("broadcast")
        )
        .join(an, ["batch_tag", "cell"], "left")
        .crossJoin(F.broadcast(tots))
        .groupBy("batch_tag")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("n_base") == 0, F.lit(0.0)).otherwise(
                        (nn_ - expected) * (nn_ - expected) / expected
                    )
                ),
                6,
            ).alias("chi2_total")
        )
    )

    # migration bill: q340's staged generation vs the serving one
    alle = emb.unionByName(rev).localCheckpoint(eager=False)
    agg = alle.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.abs(F.col("emb").getItem(0)) * 1000))
        .cast("long")
        .alias("k"),
    ).first()
    n2, key2 = int(agg["n"]), int(agg["k"])
    new_path = os.path.join(_IVF_FITTED_ROOT, f"nv{n2}_k{key2}")
    if not os.path.exists(os.path.join(new_path, "_SUCCESS")):
        _fit_centroid_dir(spark, alle.select("emb"), n2, key2, new_path)
    cent2, gen2 = _served_centroids(spark, new_path)
    med2 = cent2.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    # tombstoned base vectors are dropped at migration, not moved: the
    # compaction is a broadcast anti-join folded into the one migration
    # pass (rev ids live in the disjoint +_ANN_OFF space, unaffected)
    tomb_fast = emb.select("vec_id").filter(
        F.col("vec_id") % _EVICT_VEC_MOD == 0
    )
    old_all = base_assign.unionByName(_ivf_assign(rev, med)).join(
        F.broadcast(tomb_fast), "vec_id", "left_anti"
    )
    new_all = _staged_base_assign(spark, sf_dir, alle, med2, gen2)
    moved = (
        old_all.join(
            new_all.select("vec_id", F.col("cell").alias("cell2")), "vec_id"
        )
        .agg(
            F.sum(
                F.when(F.col("cell") != F.col("cell2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("bill")
        )
    )
    # the eviction arm: accumulated tombstones at each decision point
    # as a fraction of the base — one map-side conditional count
    tombs = emb.agg(
        F.sum(
            F.when(F.col("vec_id") % _EVICT_VEC_MOD == 0, 1).otherwise(0)
        ).cast("long").alias("t_fast"),
        F.sum(
            F.when(F.col("vec_id") % _EVICT_VEC_MOD_SLOW == 0, 1).otherwise(0)
        ).cast("long").alias("t_slow"),
        F.count(F.lit(1)).alias("n_all"),
    )

    frac = F.round(
        F.when(
            F.col("batch_tag") == "identity",
            F.col("t_slow") * F.lit(1.0) / F.col("n_all"),
        ).otherwise(F.col("t_fast") * F.lit(1.0) / F.col("n_all")),
        6,
    )
    return (
        chi.crossJoin(F.broadcast(moved))
        .crossJoin(F.broadcast(tombs))
        .select(
            "batch_tag",
            "chi2_total",
            F.when(F.col("chi2_total") > _DRIFT_CRIT, F.lit("refit"))
            .otherwise(F.lit("absorb"))
            .alias("decision"),
            F.when(F.col("chi2_total") > _DRIFT_CRIT, F.col("bill"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_moved"),
            frac.alias("tomb_frac"),
            F.when(frac > _TOMB_VEC_CRIT, F.lit("compact"))
            .otherwise(F.lit("defer"))
            .alias("evict_action"),
            F.when(frac > _TOMB_VEC_CRIT, F.col("t_fast"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_evicted"),
        )
        .orderBy("batch_tag")
    )


# ---------------------------------------------------------------------------
# q344 — IVF tombstone eviction, merge-on-read (q338's discipline applied
# to the vector store)
# ---------------------------------------------------------------------------

_IVF_EVICT_ORACLE = f"""
WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
surv AS (SELECT * FROM eb WHERE vec_id % {_EVICT_VEC_MOD} <> 0),
nb AS (
  SELECT vec_id + {_ANN_OFF} AS vec_id,
         CAST(list_reverse(embedding) AS DOUBLE[]) AS emb
  FROM embeddings
),
e AS (SELECT * FROM surv UNION ALL SELECT * FROM nb),
m AS (
  SELECT cell, c FROM read_parquet('{_IVF_FITTED_ROOT}/*/*.parquet')
  WHERE n_vec = (SELECT count(*) FROM embeddings)
    AND src_key = {_SRC_KEY_DUCK}
),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM surv WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q344_ivf_evict", _IVF_EVICT_ORACLE)
def q344_ivf_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store tombstone eviction, MERGE-ON-READ — q338's delete
    discipline applied to the IVF index (VERDICT r10 #1, the last
    lifecycle asymmetry): a deterministic tombstone set
    (base vec_id % {_EVICT_VEC_MOD} == 0 — takedowns/GDPR erasure,
    q180's cascade gaining its vector-store arm) is removed from the
    SERVED index WITHOUT touching the staged assignment bytes. The
    tombstones are applied at probe time as broadcast HASH anti-joins
    against the staged base inverted list and the query set — O(probe)
    extra work, zero index rewrite; the physical rewrite is the q340
    refit migration, which drops tombstoned vectors by simply not
    migrating them (the 'compact' branch q342's policy now bills).
    The absorbed batch (q337's, disjoint +{_ANN_OFF} id space) keeps
    serving untouched. Deletes therefore leave the index immediately —
    a tombstoned vector can never surface in top-{_TOP_K}, and where
    it was a result the next survivor takes its rank (verdict-flip vs
    q337 pinned in tests); a tombstoned query stops probing.

    The oracle is the from-scratch rebuild over the evicted corpus
    (incremental-equals-rebuild: the quantizer is frozen, so surviving
    vectors' assignments are invariant under eviction).

    Scale shape: the tombstone set broadcasts (deletes are sparse
    relative to a 100 TB store); each anti-join is map-side against
    the cell-keyed staged component; the probe is the shared
    q41e/q41f cell-bounded lattice. Nothing rebuilds, nothing
    shuffles beyond the existing probe plan."""
    cent_path = _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    tomb = (
        emb.select("vec_id")
        .filter(F.col("vec_id") % _EVICT_VEC_MOD == 0)
        .localCheckpoint(eager=False)
    )

    def alive(compdf: DataFrame) -> DataFrame:
        # merge-on-read: tombstones applied by a broadcast anti-join;
        # the staged component is never rewritten (q338's contract)
        return compdf.join(F.broadcast(tomb), "vec_id", "left_anti")

    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    # absorbed ids live in the disjoint +_ANN_OFF space: no anti-join
    assign = alive(base_assign).unionByName(_ivf_assign(nb, med))
    alle = emb.unionByName(nb).localCheckpoint(eager=False)
    return _ivf_probe_topk(alive(emb), alle, med, assign)


@_q("q345_ivf_compact", _IVF_EVICT_ORACLE)
def q345_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL compaction of the evicted vector store — the act
    q342's 'compact' decision buys when no refit is due (the vector
    analogue of q336's compaction, completing the symmetry: text side
    has evict q338 + compact q336, vector side has evict q344 + this):
    the staged base assignment minus the tombstone set is rewritten
    ONCE as a new immutable generation component (same centroid
    generation — no refit, no re-assignment; eviction is a single
    broadcast anti-join at build time), and probes serve from the
    compacted component with ZERO per-probe anti-join tax. The
    recurring merge-on-read cost q344 pays on every probe becomes a
    one-time O(survivors) rewrite — which is the exact trade q342's
    tombstone-fraction trigger prices.

    Compaction must not change answers: the oracle is q344's rebuild
    verbatim, and tests pin q345 == q344 row-for-row (candidates are
    identical sets; only WHERE the eviction is applied moves). The
    in-band generation stamp rides FROM the validated base artifact
    through the compaction scan (the q337 protocol: a component can
    never claim a generation its input bytes weren't validated
    against); read-time validation wipes and rebuilds a raced or
    stale artifact.

    Scale shape: the rewrite is one map-side anti-join pass over the
    cell-keyed staged component (no shuffle — tombstones broadcast);
    the probe is the shared q41e/q41f lattice with one less join than
    q344. Tombstoned queries still stop probing (the query set is
    ephemeral, not part of the store)."""
    import shutil as _sh

    from nfl_predictions_spark.state import atomic_stage, staged_path

    cent_path = _fitted_centroids_path(spark, sf_dir)
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    tomb = (
        emb.select("vec_id")
        .filter(F.col("vec_id") % _EVICT_VEC_MOD == 0)
        .localCheckpoint(eager=False)
    )

    # one-time physical rewrite: survivors only, staged as an immutable
    # component keyed by (fixture, centroid generation, tombstone set);
    # the cgen stamp is re-carried from the VALIDATED base read so the
    # compacted bytes inherit the generation identity through lineage
    aroot = staged_path(sf_dir, "ivf_assign", sources=("embeddings",))
    cout = os.path.join(aroot, f"compact_{gen}_m{_EVICT_VEC_MOD}")
    # the base component _staged_base_assign just validated, re-read
    # WITH its in-band cgen column so the stamp flows through the
    # compaction scan from the artifact's own bytes (never asserted)
    bout = os.path.join(aroot, f"base_{gen}")
    compacted = None
    for attempt in (0, 1):
        if not os.path.exists(os.path.join(cout, "_SUCCESS")):
            atomic_stage(
                spark.read.parquet(bout).join(
                    F.broadcast(tomb), "vec_id", "left_anti"
                ),
                cout,
            )
        staged = spark.read.parquet(cout)
        if "cgen" in staged.columns:
            stamped = [r[0] for r in staged.select("cgen").distinct().collect()]
            if stamped == [gen]:
                compacted = staged.drop("cgen")
                break
        if attempt == 0:
            _sh.rmtree(cout, ignore_errors=True)
    if compacted is None:
        raise RuntimeError(
            f"compacted IVF assignment at {cout} failed generation "
            f"validation twice (want gen={gen})"
        )

    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    assign = compacted.unionByName(_ivf_assign(nb, med))
    alle = emb.unionByName(nb).localCheckpoint(eager=False)
    q_surv = emb.join(F.broadcast(tomb), "vec_id", "left_anti")
    return _ivf_probe_topk(q_surv, alle, med, assign)


# ---------------------------------------------------------------------------
# q167 — ANN recall certification (exact vs LSH), as a query
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    return f"""
    WITH exact_r AS ({_ANN_ORACLE}),
    lsh_r AS ({_lsh_oracle_sql()})
    SELECT e.qid,
           CAST(sum(CASE WHEN l.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits,
           sum(CASE WHEN l.cid IS NOT NULL THEN 1 ELSE 0 END) / {_TOP_K}.0
             AS recall
    FROM exact_r e
    LEFT JOIN lsh_r l ON e.qid = l.qid AND e.cid = l.cid
    GROUP BY e.qid
    ORDER BY e.qid
    """


@_q("q167_ann_recall", _recall_oracle())
def q167_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index against the exact baseline — "measure,
    don't guess" as a first-class query, not a buried test assertion.

    Pure composition: q41 (brute-force truth) left-joined to q41c (the
    production index) on (qid, cid); recall is the per-query hit
    fraction. At 100 TB the exact side is the expensive certifier you
    run on a sampled query set (the 5-query side here IS that sample),
    while the index serves everything else — this query is the
    continuous-evaluation harness for that trade.
    """
    exact = q41_ann_topk(spark, sf_dir).select("qid", "cid")
    lsh = q41c_ann_lsh(spark, sf_dir).select("qid", "cid").withColumn(
        "hit", F.lit(1)
    )
    return (
        exact.join(lsh, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
        .select(
            "qid",
            "hits",
            (F.col("hits") / F.lit(float(_TOP_K))).alias("recall"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q181 — int8 scalar quantization + quantized-recall certification
# ---------------------------------------------------------------------------


def _quant_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    x AS (
      SELECT vec_id,
             CAST(generate_subscripts(emb, 1) AS BIGINT) AS i,
             unnest(emb) AS xi
      FROM e
    ), sc AS (
      SELECT vec_id, max(abs(xi)) / 127 AS s FROM x GROUP BY vec_id
    ), q AS (
      SELECT x.vec_id, x.i,
             CAST(floor(x.xi / sc.s + 0.5) AS BIGINT) AS qv
      FROM x JOIN sc ON sc.vec_id = x.vec_id
    ), nrm AS (
      SELECT vec_id, sum(qv * qv) AS qq FROM q GROUP BY vec_id
    ), qs AS (SELECT vec_id AS qid, i, qv FROM q WHERE vec_id < {_N_QUERIES}),
    dots AS (
      SELECT qs.qid, c.vec_id AS cid, sum(qs.qv * c.qv) AS dq
      FROM qs JOIN q c ON c.i = qs.i
      GROUP BY qs.qid, c.vec_id
    ), scored AS (
      SELECT d.qid, d.cid,
             CAST(d.dq AS DOUBLE) / sqrt(CAST(na.qq * nb.qq AS DOUBLE)) AS cosq
      FROM dots d
      JOIN nrm na ON na.vec_id = d.qid
      JOIN nrm nb ON nb.vec_id = d.cid
    ), qr AS (
      SELECT qid, cid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY round(cosq, 6) DESC, cid) AS rn
      FROM scored
    ), truth AS ({_ANN_ORACLE})
    SELECT t.qid,
           CAST(sum(CASE WHEN qr.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits,
           sum(CASE WHEN qr.cid IS NOT NULL THEN 1 ELSE 0 END) / {_TOP_K}.0
             AS recall
    FROM truth t
    LEFT JOIN (SELECT qid, cid FROM qr WHERE rn <= {_TOP_K}) qr
           ON qr.qid = t.qid AND qr.cid = t.cid
    GROUP BY t.qid ORDER BY t.qid
    """


@_q("q181_quantized_ann_recall", _quant_oracle())
def q181_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the vector store with recall
    certification — the 4x-memory-compression trade every production
    vector index offers, measured rather than assumed.

    Per-vector symmetric quantization (scale = max|x|/127, explicit
    half-up) makes the quantized cosine a pure INTEGER ratio:
    cos_q = dot_q / sqrt(qq_a * qq_b) with every term an exact BIGINT
    sum, so cross-engine agreement needs no float-summation argument at
    all — only the final one-op division and sqrt, which are IEEE-
    identical. Recall@{_TOP_K} is then scored against the exact float
    baseline (q41) per query.

    Scale: quantization is one groupBy over the exploded store;
    int8 dots shuffle 1-byte-per-dim payloads instead of 4 — the
    whole point of the compression at 100 TB.
    """
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", F.posexplode("embedding").alias("i0", "xi")).select(
        "vec_id",
        (F.col("i0") + 1).cast("long").alias("i"),
        F.col("xi").cast("double").alias("xi"),
    )
    sc = x.groupBy("vec_id").agg((F.max(F.abs("xi")) / 127).alias("s"))
    q = x.join(sc, "vec_id").select(
        "vec_id",
        "i",
        F.floor(F.col("xi") / F.col("s") + 0.5).cast("long").alias("qv"),
    )
    nrm = q.groupBy("vec_id").agg(F.sum(F.col("qv") * F.col("qv")).alias("qq"))
    qs = q.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "i", F.col("qv").alias("qqv")
    )
    dots = (
        q.join(F.broadcast(qs), "i")
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum(F.col("qqv") * F.col("qv")).alias("dq"))
    )
    na = F.broadcast(
        nrm.where(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("qq").alias("qqa")
        )
    )
    scored = (
        dots.join(na, "qid")
        .join(nrm.select(F.col("vec_id").alias("cid"), F.col("qq").alias("qqb")), "cid")
        .select(
            "qid",
            "cid",
            (
                F.col("dq").cast("double")
                / F.sqrt((F.col("qqa") * F.col("qqb")).cast("double"))
            ).alias("cosq"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cosq", 6)), F.asc("cid"))
    qtop = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("qid", "cid", F.lit(1).alias("hit"))
    )
    truth = q41_ann_topk(spark, sf_dir).select("qid", "cid")
    return (
        truth.join(qtop, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
        .select(
            "qid",
            "hits",
            (F.col("hits") / F.lit(float(_TOP_K))).alias("recall"),
        )
        .orderBy("qid")
    )


def q165b_kmeans_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path Lloyd k-means: same determinism contract as q165
    (first-k init, id tie-break argmin, round-6 centroid quantization)
    but the assignment step is one numpy distance matmul per Arrow
    batch against the broadcast k x d centroid matrix, and the update
    accumulates per-partition per-cluster sums (k*d rows per partition,
    q163b's Gram trick). tests certify the centroid trajectory equals
    q165's oracle-exact path at the tested sfs; the decimal-exact
    variant remains the certifier, this is what you run at 100 TB.
    """
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = (
        emb.where(F.col("vec_id") < _KM_K)
        .orderBy("vec_id")
        .collect()
    )
    cent = np.array([r.embedding for r in first], dtype=np.float64)

    members: dict[int, int] = {}
    for _ in range(_KM_ITERS):
        bc = spark.sparkContext.broadcast(cent)

        def stats(batches):
            c = bc.value
            k, d = c.shape
            sums = np.zeros((k, d))
            cnts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                d2 = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)  # first min = smallest cluster id
                for ci in range(k):
                    m = a == ci
                    if m.any():
                        sums[ci] += X[m].sum(axis=0)
                        cnts[ci] += int(m.sum())
            ks, isx = np.meshgrid(np.arange(k), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "c": ks.ravel(),
                    "i": isx.ravel(),
                    "s": sums.ravel(),
                    "n": np.repeat(cnts, d),
                }
            )

        merged = (
            emb.mapInPandas(stats, schema="c long, i long, s double, n long")
            .groupBy("c", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        k, d = cent.shape
        # Start from the previous centroids so an empty cluster (n == 0)
        # keeps its position instead of raising ZeroDivisionError; round
        # with explicit half-up (floor(x*1e6+0.5)/1e6) to match q165's
        # Spark HALF_UP round on exact .5 ties (Python round() is
        # banker's and would break the certified trajectory equality).
        new = cent.copy()
        for r in merged:
            if r["n"] > 0:
                v = r["s"] / r["n"]
                # HALF_UP rounds away from zero, so apply the
                # floor(|x|*1e6+0.5) trick on the magnitude.
                new[r["c"], r["i"]] = math.copysign(
                    math.floor(abs(v) * 1e6 + 0.5) / 1e6, v
                )
            if r["i"] == 0:
                # q165 reports the membership of the assignment that
                # PRODUCED the final centroids — reuse this pass's counts
                members[int(r["c"])] = int(r["n"])
        cent = new

    k, d = cent.shape
    rows = [
        (int(c), int(i), float(cent[c, i]), int(members.get(c, 0)))
        for c in range(k)
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "cluster long, i long, coord double, n_members long"
    ).orderBy("cluster", "i")


QUERIES["q165b_kmeans_arrow"] = q165b_kmeans_arrow


# ---------------------------------------------------------------------------
# q212 — IVF recall certification (closes the q41d rows-only gap)
# ---------------------------------------------------------------------------


def recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k harness: per-query hit fraction of an approximate index
    against the exact top-k truth. Shared by q167 (LSH), q181
    (quantized) and q212 (IVF) — the continuous-evaluation pattern where
    the exact side runs on a sampled query set only."""
    hits = approx.select("qid", "cid").withColumn("hit", F.lit(1))
    return (
        exact.select("qid", "cid")
        .join(hits, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
        .select(
            "qid",
            "hits",
            (F.col("hits") / F.lit(float(_TOP_K))).alias("recall"),
        )
        .orderBy("qid")
    )


def q212_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the KMeans IVF index (q41d) against the exact
    baseline (q41) — the certification row VERDICT r03 #4 asked for.
    Rows-only by nature (the IVF side depends on MLlib KMeans, which no
    SQL oracle can reproduce); the recall floor is pinned in
    tests/test_northstar.py::test_ivf_recall_certified, the same
    contract q167/q181 carry for the LSH and quantized indexes."""
    return recall_vs_exact(
        q41_ann_topk(spark, sf_dir), q41d_ann_ivf(spark, sf_dir)
    )


QUERIES["q212_ivf_recall"] = q212_ivf_recall


_IVF_RECALL_MEDOID_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
m AS (SELECT vec_id AS cell, emb AS c FROM e WHERE vec_id < {_IVF_NLIST}),
a AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, qe, cell FROM (
    SELECT q.qid, q.qe, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
p AS (
  SELECT probe.qid, a.vec_id AS cid,
    list_dot_product(qe, e.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e.emb, e.emb)))
      AS cos
  FROM probe JOIN a USING (cell) JOIN e ON e.vec_id = a.vec_id
),
approx AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
      row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
    FROM p
  ) WHERE rn <= {_TOP_K}
),
px AS (
  SELECT qid, vec_id AS cid,
    list_dot_product(qe, emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(emb, emb))) AS cos
  FROM q, e
),
exact AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
      row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
    FROM px
  ) WHERE rn <= {_TOP_K}
)
SELECT x.qid, CAST(count(ap.cid) AS BIGINT) AS hits,
       CAST(count(ap.cid) AS DOUBLE) / {_TOP_K} AS recall
FROM exact x LEFT JOIN approx ap ON ap.qid = x.qid AND ap.cid = x.cid
GROUP BY x.qid ORDER BY x.qid
"""


@_q("q212b_ivf_recall_medoid", _IVF_RECALL_MEDOID_ORACLE)
def q212b_ivf_recall_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the DETERMINISTIC medoid IVF index (q41e) against the
    exact baseline (q41) — the oracle-backed certification of the
    recall HARNESS itself (VERDICT r05 #8): every stage (exact top-k,
    medoid assign/probe/rescore, per-query hit join) is SQL-expressible,
    so the driver hash-checks the full recall computation end-to-end.
    q212 stays rows-only BY DESIGN (its KMeans quantizer is MLlib-only)
    with its recall floor pinned in tests; this twin proves the
    shared ``recall_vs_exact`` plumbing value-exactly."""
    return recall_vs_exact(
        q41_ann_topk(spark, sf_dir), q41e_ann_ivf_medoid(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# q219 — product-quantization ANN (ADC shortlist + exact rerank)
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = _DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace -> 4 bits; a vector compresses to 2 bytes
_PQ_SHORTLIST = 50


_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
subs AS (
  SELECT vec_id, j,
         list_slice(emb, j * {_PQ_SUB} + 1, (j + 1) * {_PQ_SUB}) AS sub
  FROM e, js
),
codes AS (SELECT vec_id AS code, j, sub AS cvec FROM subs WHERE vec_id < {_PQ_K}),
assign AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, c.code,
      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
        round(list_dot_product(s.sub, s.sub)
              - 2 * list_dot_product(s.sub, c.cvec)
              + list_dot_product(c.cvec, c.cvec), 6) ASC, c.code ASC) AS rn
    FROM subs s JOIN codes c ON c.j = s.j
  ) WHERE rn = 1
),
dtab AS (
  SELECT s.vec_id AS qid, s.j, c.code,
         CAST(round(list_dot_product(s.sub, s.sub)
                    - 2 * list_dot_product(s.sub, c.cvec)
                    + list_dot_product(c.cvec, c.cvec), 6)
              AS DECIMAL(18,6)) AS dterm
  FROM subs s JOIN codes c ON c.j = s.j
  WHERE s.vec_id < {_N_QUERIES}
),
adc AS (
  SELECT d.qid, a.vec_id AS cid, sum(d.dterm) AS approx
  FROM assign a JOIN dtab d ON d.j = a.j AND d.code = a.code
  GROUP BY d.qid, a.vec_id
),
short AS (
  SELECT qid, cid, approx FROM (
    SELECT qid, cid, approx,
      row_number() OVER (PARTITION BY qid ORDER BY approx ASC, cid ASC) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
),
rr AS (
  SELECT s.qid, s.cid, s.approx,
    list_dot_product(q.emb, c.emb)
      / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb)))
      AS cos
  FROM short s JOIN e q ON q.vec_id = s.qid JOIN e c ON c.vec_id = s.cid
),
r AS (
  SELECT qid, cid, cos, approx,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM rr
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn,
       CAST(approx AS DOUBLE) AS pq_d2
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q219_pq_ann", _PQ_ORACLE)
def q219_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector is encoded as {_PQ_M}
    4-bit codes (one per {_PQ_SUB}-dim subspace, nearest of {_PQ_K}
    deterministic medoid codes), queries score candidates by asymmetric
    distance (ADC — sum of precomputed query-to-code subdistances), and
    the top-{_PQ_SHORTLIST} shortlist is reranked with EXACT cosine.

    This is the memory story the other ANN tiers lack: 64 float32 dims
    (256 B) compress to {_PQ_M * 4} bits per vector, so a 100 TB vector
    store's index fits in RAM; scan cost per query is a lookup-table sum
    (the {_PQ_M}x{_PQ_K} dtab is broadcast), and only the shortlist ever
    touches raw vectors. Deterministic medoid codebooks (first {_PQ_K}
    vectors' subvectors — q41e's trick) make encoding SQL-expressible,
    so unlike every real PQ library this one is value-oracled
    end-to-end: assignment ranks on round-6 subdistances, ADC rides
    exact DECIMAL sums (summation order cannot flip the shortlist), and
    the rerank reuses q41's cosine parity. Recall floor vs exact truth
    pinned in tests/test_northstar.py::test_pq_recall_certified.
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    jarr = F.explode(F.array(*[F.lit(j) for j in range(_PQ_M)])).alias("j")
    subs = emb.select("vec_id", "emb", jarr).select(
        "vec_id",
        "j",
        F.slice(F.col("emb"), F.col("j") * _PQ_SUB + 1, _PQ_SUB).alias("sub"),
    )
    codes = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "j", F.col("sub").alias("cvec")
    )

    # ||sub||^2 / ||cvec||^2 folded once per row instead of once per
    # (subvector x code) pair — ~3x fewer flops in the corpus-scale
    # assignment; identical IEEE values and association (q224 pattern).
    subsx = subs.withColumn("_s2", _dot(F.col("sub"), F.col("sub")))
    codesx = codes.withColumn("_v2", _dot(F.col("cvec"), F.col("cvec")))
    d2 = (
        F.col("_s2")
        - 2 * _dot(F.col("sub"), F.col("cvec"))
        + F.col("_v2")
    )
    assign = (
        subsx.join(F.broadcast(codesx), "j")
        .select(
            "vec_id",
            "j",
            F.struct(F.round(d2, 6).alias("d"), F.col("code")).alias("dc"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "j", F.col("best.code").alias("code"))
    )
    dtab = (
        subsx.filter(F.col("vec_id") < _N_QUERIES)
        .join(F.broadcast(codesx), "j")
        .select(
            F.col("vec_id").alias("qid"),
            "j",
            "code",
            F.round(d2, 6).cast("decimal(18,6)").alias("dterm"),
        )
    )
    adc = (
        assign.join(F.broadcast(dtab), ["j", "code"])
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("dterm").alias("approx"))
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("approx"), F.asc("cid"))
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _PQ_SHORTLIST)
        .select("qid", "cid", "approx")
    )
    qfull = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    cand = (
        short.join(emb, short.cid == emb.vec_id)
        .join(F.broadcast(qfull), "qid")
        .select("qid", "cid", "approx", F.col("emb").alias("ce"), "qe")
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (
        _norm(F.col("qe")) * _norm(F.col("ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    return (
        cand.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "qid",
            "cid",
            F.round("cos_raw", 6).alias("cos"),
            "rn",
            F.col("approx").cast("double").alias("pq_d2"),
        )
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# q224 — IVF+PQ composed index (coarse cells + compressed in-cell scan)
# ---------------------------------------------------------------------------

_IVFPQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
m AS (SELECT vec_id AS cell, emb AS c FROM e WHERE vec_id < {_IVF_NLIST}),
cella AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, m.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM e, m
  ) WHERE rn = 1
),
js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
subs AS (
  SELECT vec_id, j,
         list_slice(emb, j * {_PQ_SUB} + 1, (j + 1) * {_PQ_SUB}) AS sub
  FROM e, js
),
codes AS (SELECT vec_id AS code, j, sub AS cvec FROM subs WHERE vec_id < {_PQ_K}),
pqa AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, c.code,
      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
        round(list_dot_product(s.sub, s.sub)
              - 2 * list_dot_product(s.sub, c.cvec)
              + list_dot_product(c.cvec, c.cvec), 6) ASC, c.code ASC) AS rn
    FROM subs s JOIN codes c ON c.j = s.j
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
probe AS (
  SELECT qid, cell FROM (
    SELECT q.qid, m.cell,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round({_D2_DUCK.format(x='q.qe', c='m.c')}, 6) ASC, m.cell ASC) AS rn
    FROM q, m
  ) WHERE rn <= {_IVF_NPROBE}
),
dtab AS (
  SELECT s.vec_id AS qid, s.j, c.code,
         CAST(round(list_dot_product(s.sub, s.sub)
                    - 2 * list_dot_product(s.sub, c.cvec)
                    + list_dot_product(c.cvec, c.cvec), 6)
              AS DECIMAL(18,6)) AS dterm
  FROM subs s JOIN codes c ON c.j = s.j
  WHERE s.vec_id < {_N_QUERIES}
),
cand AS (
  SELECT p.qid, ca.vec_id AS cid
  FROM probe p JOIN cella ca ON ca.cell = p.cell
),
adc AS (
  SELECT c.qid, c.cid, sum(d.dterm) AS approx
  FROM cand c
  JOIN pqa a ON a.vec_id = c.cid
  JOIN dtab d ON d.qid = c.qid AND d.j = a.j AND d.code = a.code
  GROUP BY c.qid, c.cid
),
short AS (
  SELECT qid, cid, approx FROM (
    SELECT qid, cid, approx,
      row_number() OVER (PARTITION BY qid ORDER BY approx ASC, cid ASC) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
),
rr AS (
  SELECT s.qid, s.cid, s.approx,
    list_dot_product(qv.emb, cv.emb)
      / (sqrt(list_dot_product(qv.emb, qv.emb))
         * sqrt(list_dot_product(cv.emb, cv.emb))) AS cos
  FROM short s JOIN e qv ON qv.vec_id = s.qid JOIN e cv ON cv.vec_id = s.cid
),
r AS (
  SELECT qid, cid, cos, approx,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM rr
)
SELECT qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn,
       CAST(approx AS DOUBLE) AS pq_d2
FROM r WHERE rn <= {_TOP_K} ORDER BY qid, rn
"""


@_q("q224_ivfpq_ann", _IVFPQ_ORACLE)
def q224_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production vector index (FAISS IVFPQ shape): a
    coarse medoid quantizer partitions vectors into {_IVF_NLIST} cells
    (q41e), each vector stores only its {_PQ_M}x4-bit PQ code (q219),
    a query probes the {_IVF_NPROBE} nearest cells, scores ONLY those
    cells' codes via the broadcast ADC lookup table, and exact-reranks
    the top-{_PQ_SHORTLIST}.

    This is the 100 TB architecture in full: the cell id is the
    PARTITION key (a probe touches nprobe/nlist of storage), the scan
    inside a cell reads 2-byte codes instead of 256-byte vectors
    (~128x less I/O), and raw vectors are touched only for the
    shortlist. Deterministic medoid cell centers + medoid codebooks
    keep every stage SQL-expressible, so the whole composed index is
    value-oracled end-to-end — recall floor vs exact truth in
    tests/test_northstar.py::test_ivfpq_recall_certified.
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    med = emb.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("c")
    )
    # ||x||^2 / ||c||^2 / ||sub||^2 / ||cvec||^2 are invariant across
    # the pair grids below: fold each once per row instead of once per
    # pair (~3x fewer flops in the two corpus-scale stages). Identical
    # IEEE values, identical (x2 - 2*dot) + c2 association.
    embx = emb.withColumn("_x2", _dot(F.col("emb"), F.col("emb")))
    medx = med.withColumn("_c2", _dot(F.col("c"), F.col("c")))
    d2full = (
        F.col("_x2")
        - 2 * _dot(F.col("emb"), F.col("c"))
        + F.col("_c2")
    )
    cella = (
        embx.crossJoin(F.broadcast(medx))
        .select(
            "vec_id",
            F.struct(F.round(d2full, 6).alias("d"), F.col("cell")).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", F.col("best.cell").alias("cell"))
    )
    jarr = F.explode(F.array(*[F.lit(j) for j in range(_PQ_M)])).alias("j")
    subs = emb.select("vec_id", "emb", jarr).select(
        "vec_id",
        "j",
        F.slice(F.col("emb"), F.col("j") * _PQ_SUB + 1, _PQ_SUB).alias("sub"),
    )
    codes = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "j", F.col("sub").alias("cvec")
    )
    subsx = subs.withColumn("_s2", _dot(F.col("sub"), F.col("sub")))
    codesx = codes.withColumn("_v2", _dot(F.col("cvec"), F.col("cvec")))
    d2sub = (
        F.col("_s2")
        - 2 * _dot(F.col("sub"), F.col("cvec"))
        + F.col("_v2")
    )
    pqa = (
        subsx.join(F.broadcast(codesx), "j")
        .select(
            "vec_id",
            "j",
            F.struct(F.round(d2sub, 6).alias("d"), F.col("code")).alias("dc"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "j", F.col("best.code").alias("code"))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("emb")
    )
    d2q = (
        _dot(F.col("emb"), F.col("emb"))
        - 2 * _dot(F.col("emb"), F.col("c"))
        + _dot(F.col("c"), F.col("c"))
    )
    wq = Window.partitionBy("qid").orderBy(
        F.asc(F.round(d2q, 6)), F.asc("cell")
    )
    probe = (
        q.crossJoin(F.broadcast(med))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "cell")
    )
    dtab = (
        subsx.filter(F.col("vec_id") < _N_QUERIES)
        .join(F.broadcast(codesx), "j")
        .select(
            F.col("vec_id").alias("qid"),
            "j",
            "code",
            F.round(d2sub, 6).cast("decimal(18,6)").alias("dterm"),
        )
    )
    cand = cella.join(F.broadcast(probe), "cell").select(
        "qid", F.col("vec_id").alias("cid")
    )
    adc = (
        cand.join(pqa, cand.cid == pqa.vec_id)
        .join(F.broadcast(dtab), ["qid", "j", "code"])
        .groupBy("qid", "cid")
        .agg(F.sum("dterm").alias("approx"))
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("approx"), F.asc("cid"))
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _PQ_SHORTLIST)
        .select("qid", "cid", "approx")
    )
    qfull = q.select(F.col("qid"), F.col("emb").alias("qe"))
    candv = (
        short.join(emb, short.cid == emb.vec_id)
        .join(F.broadcast(qfull), "qid")
        .select("qid", "cid", "approx", F.col("emb").alias("ce"), "qe")
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (
        _norm(F.col("qe")) * _norm(F.col("ce"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    return (
        candv.withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "qid",
            "cid",
            F.round("cos_raw", 6).alias("cos"),
            "rn",
            F.col("approx").cast("double").alias("pq_d2"),
        )
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# q229 — filtered vector search (pre-filter vs post-filter strategies)
# ---------------------------------------------------------------------------

_FILT_MOD = 3  # metadata predicate stand-in: cid % 3 == 0


def _lsh_sig_fragments() -> tuple[str, str]:
    """(sig SELECT-list, bands UNION) SQL fragments shared by the LSH
    oracles — the same literal hyperplanes as _lsh_oracle_sql."""
    sig_exprs = []
    for t in range(_N_TABLES):
        cases = []
        for j in range(_PLANES_PER_TABLE):
            plane = "[" + ",".join(
                repr(_plane_value(t, j, d)) for d in range(_DIM)
            ) + "]"
            cases.append(
                f"CASE WHEN list_dot_product(emb, {plane}) > 0 "
                f"THEN {1 << j} ELSE 0 END"
            )
        sig_exprs.append("(" + " + ".join(cases) + f") AS bucket{t}")
    bands = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bucket{t} AS b FROM sig"
        for t in range(_N_TABLES)
    )
    return ", ".join(sig_exprs), bands


def _filtered_ann_oracle() -> str:
    sig, bands = _lsh_sig_fragments()
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}),
pre_p AS (
  SELECT q.qid, c.vec_id AS cid,
    list_dot_product(qe, c.emb)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.emb, c.emb)))
      AS cos
  FROM q, e c WHERE c.vec_id % {_FILT_MOD} = 0
), pre_r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM pre_p
),
sig AS (SELECT vec_id, {sig} FROM e),
bands AS ({bands}),
qb AS (SELECT vec_id AS qid, t, b FROM bands WHERE vec_id < {_N_QUERIES}),
cand AS (
  SELECT DISTINCT qb.qid, c.vec_id AS cid
  FROM qb JOIN bands c ON qb.t = c.t AND qb.b = c.b
),
post_p AS (
  SELECT cand.qid, cand.cid,
    list_dot_product(qe.emb, ce.emb)
      / (sqrt(list_dot_product(qe.emb, qe.emb))
         * sqrt(list_dot_product(ce.emb, ce.emb))) AS cos
  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.cid
), post_r AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM post_p
), post_f AS (
  SELECT qid, cid, cos,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM (SELECT qid, cid, cos FROM post_r
        WHERE rn <= {_TOP_K} AND cid % {_FILT_MOD} = 0)
)
SELECT 'pre' AS strategy, qid, cid, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM pre_r WHERE rn <= {_TOP_K}
UNION ALL
SELECT 'post', qid, cid, round(cos, 6), CAST(rn AS BIGINT) FROM post_f
ORDER BY strategy, qid, rn
"""


@_q("q229_filtered_ann", _filtered_ann_oracle())
def q229_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k restricted to candidates passing
    a metadata predicate (cid % {_FILT_MOD} = 0 standing in for any
    attribute WHERE clause), both classic strategies side by side:

    - 'pre'  — filter THEN search: exact top-k over the filtered set,
      always returns k (the correctness target; at scale the filter
      pushes into the candidate scan / the index's bucket join).
    - 'post' — search THEN filter: take the unfiltered LSH top-k and
      drop non-matching rows — cheaper, but returns FEWER than k
      whenever matches were crowded out (visible in the output, which
      is the point: the row deficit IS the strategy's cost).

    Everything reuses the deterministic LSH machinery, so both
    strategies are fully value-oracled; the output makes the classic
    filtered-ANN trade measurable instead of anecdotal.
    """
    emb = table(spark, sf_dir, "embeddings")
    # ||qe|| / ||ce|| folded once per query / once per candidate row
    # instead of once per PAIR of the (candidates x queries) grid —
    # ~3x fewer flops in the exact 'pre' scan. Identical IEEE values;
    # qn * cn keeps _norm(qe) * _norm(ce)'s multiplication order.
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    cands = spread(emb).filter(F.col("vec_id") % _FILT_MOD == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _norm(F.col("embedding")).alias("cn"),
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    pre = (
        cands.crossJoin(F.broadcast(queries))
        .withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            F.lit("pre").alias("strategy"),
            "qid",
            "cid",
            F.round("cos_raw", 6).alias("cos"),
            "rn",
        )
    )
    post_src = q41c_ann_lsh(spark, sf_dir).filter(
        F.col("cid") % _FILT_MOD == 0
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    post = post_src.select(
        F.lit("post").alias("strategy"),
        "qid",
        "cid",
        "cos",
        F.row_number().over(wp).cast("long").alias("rn"),
    )
    return pre.unionByName(post).orderBy("strategy", "qid", "rn")


# ---------------------------------------------------------------------------
# q236 — per-dimension robust scaler (median/IQR feature statistics)
# ---------------------------------------------------------------------------


@_q(
    "q236_robust_scaler_stats",
    f"""
    WITH x AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             vec_id
      FROM embeddings
    ), r AS (
      SELECT dim, v,
             row_number() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rn,
             count(*) OVER (PARTITION BY dim) AS n
      FROM x
    ), k AS (
      SELECT dim, n,
             (n + 1) // 2 AS k_med,
             greatest((n + 3) // 4, 1) AS k_q1,
             least((3 * n + 1) // 4, n) AS k_q3
      FROM (SELECT DISTINCT dim, n FROM r)
    )
    SELECT k.dim, CAST(k.n AS BIGINT) AS n,
           max(CASE WHEN r.rn = k.k_med THEN r.v END) AS median,
           max(CASE WHEN r.rn = k.k_q1 THEN r.v END) AS q1,
           max(CASE WHEN r.rn = k.k_q3 THEN r.v END) AS q3,
           max(CASE WHEN r.rn = k.k_q3 THEN r.v END)
             - max(CASE WHEN r.rn = k.k_q1 THEN r.v END) AS iqr
    FROM k JOIN r ON r.dim = k.dim AND r.rn IN (k.k_med, k.k_q1, k.k_q3)
    GROUP BY k.dim, k.n ORDER BY k.dim
    """,
)
def q236_robust_scaler_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension robust scaling statistics for the embedding store
    — median and IQR for all {_DIM} dimensions in ONE pass (the
    RobustScaler fit step, outlier-immune where mean/std scaling is
    not). The explode keys every value by its dimension, so the rank
    windows partition by dim: {_DIM} independent per-dimension sorts
    that scale out across the cluster, never a global sort. All five
    outputs are rank-SELECTED actual data values (floor-based quartile
    ranks, vec_id tie-break) — no interpolation, exact bit patterns,
    IQR as a single subtraction of identical doubles.

    Applying the transform is then a broadcast join of this
    {_DIM}-row frame + one Catalyst expression per value — fit cost is
    the one shuffle here, apply cost is zero-shuffle.
    """
    x = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    wr = Window.partitionBy("dim").orderBy("v", "vec_id")
    wc = Window.partitionBy("dim")
    r = x.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    k_med = F.floor((F.col("n") + 1) / 2).cast("long")
    k_q1 = F.greatest(F.floor((F.col("n") + 3) / 4).cast("long"), F.lit(1))
    k_q3 = F.least(
        F.floor((3 * F.col("n") + 1) / 4).cast("long"), F.col("n")
    )
    picked = (
        r.withColumn("k_med", k_med)
        .withColumn("k_q1", k_q1)
        .withColumn("k_q3", k_q3)
        .filter(
            (F.col("rn") == F.col("k_med"))
            | (F.col("rn") == F.col("k_q1"))
            | (F.col("rn") == F.col("k_q3"))
        )
    )
    agg = picked.groupBy("dim", "n").agg(
        F.max(F.when(F.col("rn") == F.col("k_med"), F.col("v"))).alias("median"),
        F.max(F.when(F.col("rn") == F.col("k_q1"), F.col("v"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.col("k_q3"), F.col("v"))).alias("q3"),
    )
    return agg.select(
        F.col("dim").cast("long"),
        F.col("n").cast("long"),
        "median",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q245 — semantic decontamination (embedding-level eval-set leakage)
# ---------------------------------------------------------------------------

_SD_N_EVAL = 20
_SD_THRESHOLD = 0.95


@_q(
    "q245_semantic_decontam",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ev AS (SELECT vec_id AS eid, emb AS ee FROM e WHERE vec_id < {_SD_N_EVAL}),
    corpus AS (SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id >= {_SD_N_EVAL}),
    hits AS (
      SELECT c.cid, v.eid,
             round(list_dot_product(ce, ee)
               / (sqrt(list_dot_product(ce, ce)) * sqrt(list_dot_product(ee, ee))),
               6) AS cos
      FROM corpus c, ev v
    ), flagged AS (
      SELECT cid, eid, cos,
             row_number() OVER (PARTITION BY cid ORDER BY cos DESC, eid) AS rn
      FROM hits WHERE cos >= {_SD_THRESHOLD}
    )
    SELECT cid, eid AS nearest_eval, cos
    FROM flagged WHERE rn = 1 ORDER BY cid
    """,
)
def q245_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: corpus vectors within cosine
    {_SD_THRESHOLD} of ANY eval vector are leakage suspects — the
    semantic layer n-gram decontamination (q91/q133) cannot see
    (paraphrases share no 8-gram). Output: each flagged corpus id with
    its closest eval item as the audit evidence.

    The eval side broadcasts ({_SD_N_EVAL} vectors — in production, the
    benchmark suite), the corpus NEVER shuffles, and the cosine is
    q41's oracle-exact fold. At 100 TB this is one broadcast-map scan;
    the LSH/IVF indexes (q41c/q41d) pre-filter candidates when the eval
    set itself is large.
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # ||ce|| / ||ee|| folded once per corpus row / once per eval row
    # instead of once per PAIR of the (corpus x eval) grid — ~3x fewer
    # flops in the decontamination scan. Identical IEEE values; cn * en
    # keeps _norm(ce) * _norm(ee)'s multiplication order.
    ev = emb.filter(F.col("vec_id") < _SD_N_EVAL).select(
        F.col("vec_id").alias("eid"),
        F.col("emb").alias("ee"),
        _norm(F.col("emb")).alias("en"),
    )
    corpus = emb.filter(F.col("vec_id") >= _SD_N_EVAL).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("ce"),
        _norm(F.col("emb")).alias("cn"),
    )
    cos = F.round(
        _dot(F.col("ce"), F.col("ee")) / (F.col("cn") * F.col("en")),
        6,
    )
    w = Window.partitionBy("cid").orderBy(F.desc("cos"), F.asc("eid"))
    return (
        corpus.crossJoin(F.broadcast(ev))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _SD_THRESHOLD)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", F.col("eid").alias("nearest_eval"), "cos")
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# q255 — quantile normalization reference distribution
# ---------------------------------------------------------------------------


@_q(
    "q255_quantile_normalization",
    f"""
    WITH x AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             vec_id
      FROM embeddings
    ), r AS (
      SELECT dim, v,
             row_number() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rnk
      FROM x
    ), ref AS (
      SELECT rnk,
             CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS ref_v,
             CAST(count(*) AS BIGINT) AS n_dims
      FROM r GROUP BY rnk
    )
    SELECT rnk, n_dims, round(ref_v, 6) AS ref_value
    FROM ref
    WHERE rnk % 100 = 1 OR rnk IN (SELECT max(rnk) FROM ref)
    ORDER BY rnk
    """,
)
def q255_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization reference distribution for the embedding
    store: rank every dimension's values independently, then average
    the rank-r values ACROSS dimensions — the genomics-standard
    transform that forces all {_DIM} features onto one common
    distribution (apply-side: each value maps to ref_value at its
    rank). Emitted at every 100th rank plus the maximum (the
    distribution is smooth; the driver row stays bounded while the full
    reference is the same frame un-sampled).

    Shape: {_DIM} independent per-dimension rank windows (q236's
    partitioned sort — no global sort), then a rank-keyed aggregate
    whose width is the number of dimensions — the shuffle carries
    (n_rows_per_dim x {_DIM}) rank rows once. Cross-dim averages ride
    DECIMAL-quantized sums; ranks tie-break on vec_id in both engines.
    """
    x = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    wr = Window.partitionBy("dim").orderBy("v", "vec_id")
    r = x.withColumn("rnk", F.row_number().over(wr).cast("long"))
    ref = r.groupBy("rnk").agg(
        (
            F.sum(F.round("v", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ref_v"),
        F.count(F.lit(1)).alias("n_dims"),
    )
    max_rnk = ref.agg(F.max("rnk").alias("mx"))
    return (
        ref.crossJoin(F.broadcast(max_rnk))
        .filter((F.col("rnk") % 100 == 1) | (F.col("rnk") == F.col("mx")))
        .select(
            "rnk",
            F.col("n_dims").cast("long"),
            F.round("ref_v", 6).alias("ref_value"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# q273 — MMR diversified rerank (maximal marginal relevance)
# ---------------------------------------------------------------------------

_MMR_N = 20  # candidate pool per query (ANN shortlist)
_MMR_K = 5  # diversified picks
_MMR_LAMBDA = 0.7  # relevance weight; 1-lambda penalizes redundancy

_MMR_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB: step 1 is the pure-relevance
    argmax; each later step recomputes every remaining candidate's
    max-similarity-to-picked via a correlated aggregate over the
    candidate pair table, then takes the (mmr DESC, cid) argmax. k is
    a fixed small constant, so the unroll is k CTEs, not recursion."""
    cos_qe = _MMR_COS.format(a="qe", b="emb")
    cos_ab = _MMR_COS.format(a="a.emb", b="b.emb")
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    steps = []
    prev = "p1"
    for i in range(2, _MMR_K + 1):
        steps.append(
            f"""m{i} AS (
      SELECT c.qid, c.cid,
             ({lam} * c.rel) - ({mu} * (
               SELECT max(ps.sim) FROM ps
               WHERE ps.qid = c.qid AND ps.ca = c.cid
                 AND ps.cb IN (SELECT cid FROM {prev} p
                               WHERE p.qid = ps.qid)
             )) AS mmr
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                        WHERE p.qid = c.qid AND p.cid = c.cid)
    ), s{i} AS (
      SELECT qid, cid, mmr FROM (
        SELECT qid, cid, mmr,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY mmr DESC, cid) AS rn
        FROM m{i}) WHERE rn = 1
    ), p{i} AS (
      SELECT qid, cid FROM {prev}
      UNION ALL SELECT qid, cid FROM s{i}
    )"""
        )
        prev = f"p{i}"
    union = "\nUNION ALL\n".join(
        f"SELECT qid, CAST({i} AS BIGINT) AS step, cid, mmr FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS qid, emb AS qe FROM e
          WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT qid, cid, rel, emb FROM (
        SELECT q.qid, e.vec_id AS cid, e.emb,
               round({cos_qe}, 6) AS rel,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round({cos_qe}, 6) DESC, e.vec_id) AS rn
        FROM q, e) WHERE rn <= {_MMR_N}
    ),
    ps AS (
      SELECT a.qid, a.cid AS ca, b.cid AS cb, round({cos_ab}, 6) AS sim
      FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid != b.cid
    ),
    s1 AS (
      SELECT qid, cid, {lam} * rel AS mmr FROM (
        SELECT qid, cid, rel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, cid) AS rn
        FROM cand) WHERE rn = 1
    ), p1 AS (SELECT qid, cid FROM s1),
    {','.join(steps)}
    SELECT qid, step, cid,
           floor(mmr * 1e6 + 0.5) / 1e6 AS score
    FROM ({union})
    ORDER BY qid, step
    """


def _mmr_greedy(cand_pdf, ps_pdf):
    """Per-query greedy MMR over the (bounded) shortlist + pair-sim
    group: k chained argmax steps in plain Python floats. Every input
    value (rel, sim) was computed AND round-6 quantized JVM-side, and
    the only arithmetic here is lam*rel - mu*ms plus max/compare —
    the identical IEEE-754 double ops Spark's expression evaluator
    performed in the previous chained-plan formulation, so results are
    bit-equal to it (verified old-vs-new at three scales, NOTES.md)."""
    import pandas as pd

    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    cols = {"qid": [], "step": [], "cid": [], "mmr": []}
    if len(cand_pdf) == 0:
        return pd.DataFrame(cols)
    qid = int(cand_pdf["qid"].iloc[0])
    rel = dict(zip(cand_pdf["cid"].astype(int), cand_pdf["rel"].astype(float)))
    sims: dict = {}
    for ca, cb, s in zip(
        ps_pdf["ca"].astype(int), ps_pdf["cb"].astype(int), ps_pdf["sim"].astype(float)
    ):
        sims.setdefault(ca, {})[cb] = s

    def argmax(items):
        best = None
        for cid, m in items:
            if best is None or m > best[1] or (m == best[1] and cid < best[0]):
                best = (cid, m)
        return best

    picked: list = []
    for step in range(1, _MMR_K + 1):
        if step == 1:
            items = [(c, lam * r) for c, r in rel.items()]
        else:
            items = []
            for c, r in rel.items():
                if c in picked:
                    continue
                ms = None
                cs = sims.get(c, {})
                for p in picked:
                    if p in cs and (ms is None or cs[p] > ms):
                        ms = cs[p]
                if ms is None:
                    continue  # inner-join semantics of the chained plan
                items.append((c, lam * r - mu * ms))
        best = argmax(items)
        if best is None:
            break
        picked.append(best[0])
        cols["qid"].append(qid)
        cols["step"].append(step)
        cols["cid"].append(best[0])
        cols["mmr"].append(best[1])
    return pd.DataFrame(cols)


@_q("q273_mmr_rerank", _mmr_oracle())
def q273_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    1998) over an ANN shortlist — the diversity selector retrieval and
    eval-set builders run AFTER similarity search: greedily pick k
    results maximizing lambda*relevance - (1-lambda)*max-sim-to-already-
    picked, so near-duplicate hits can't crowd the result list.

    Split of labor at scale: the DISTRIBUTED part is the shortlist (the
    q41-family top-N per query — brute force here, IVF/PQ in
    production) and the candidate pair table (N x N-1 rows per query,
    N={_MMR_N}); the greedy itself runs per query over those BOUNDED
    groups via cogrouped applyInPandas — one shuffle keyed on qid, the
    k={_MMR_K}-step selection loop local to each group, no driver loop
    and no k-deep chained plan (the previous formulation spent ~5 s of
    fixed plan overhead on 5 chained window+join steps at sf0.1).

    Determinism: relevances and pair sims are computed and round-6
    quantized JVM-side exactly as before (sequential-fold dot products
    matching the oracle's list_dot_product); the pandas greedy performs
    only lam*rel - mu*max(sim) — the same IEEE double ops the chained
    plan evaluated — so emitted values are bit-identical to the
    r06-driver-green formulation."""
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # ||qe|| / ||emb|| folded once per query / once per corpus row
    # instead of once per PAIR — ~3x fewer flops in the relevance scan.
    # Identical IEEE values; qn * _en keeps the multiplication order.
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        _norm(F.col("emb")).alias("qn"),
    )
    rel = F.round(
        _dot(F.col("qe"), F.col("emb")) / (F.col("qn") * F.col("_en")),
        6,
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("cid"))
    cand = (
        emb.withColumn("_en", _norm(F.col("emb")))
        .crossJoin(F.broadcast(q))
        .select("qid", F.col("vec_id").alias("cid"), "emb", rel.alias("rel"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_N)
        .drop("rn")
    )
    # shortlist consumed three times (two pair sides + cogroup left);
    # the lazy checkpoint stops re-running the crossJoin+top-N lineage
    cand = cand.localCheckpoint(eager=False)
    a = cand.select("qid", F.col("cid").alias("ca"), F.col("emb").alias("ea"))
    b = cand.select("qid", F.col("cid").alias("cb"), F.col("emb").alias("eb"))
    sim = F.round(
        _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))), 6
    )
    ps = (
        a.join(b, ["qid"])
        .filter(F.col("ca") != F.col("cb"))
        .select("qid", "ca", "cb", sim.alias("sim"))
        # breaks the shared-lineage ambiguity with the cogroup's left
        # side (both descend from cand) and materializes the bounded
        # pair table once
        .localCheckpoint(eager=False)
    )
    res = (
        cand.drop("emb")
        .groupBy("qid")
        .cogroup(ps.groupBy("qid"))
        .applyInPandas(
            _mmr_greedy, schema="qid bigint, step bigint, cid bigint, mmr double"
        )
    )
    return res.select(
        "qid",
        "step",
        "cid",
        (F.floor(F.col("mmr") * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    ).orderBy("qid", "step")


# ---------------------------------------------------------------------------
# q274 — SemDeDup: cluster-bounded semantic deduplication
# ---------------------------------------------------------------------------

_SDD_CELLS = 8  # minimum coarse cells (medoids anchored on low vec_ids)
_SDD_CELL_TARGET = 1024  # expected vectors per cell: cells scale with n
_SDD_TAU = 0.40  # duplicate threshold on the round-6 pair cosine

#: Fixed-point quantum for exact cross-engine dot products: values
#: snapped to multiples of 2^-20 make every product a multiple of
#: 2^-40, and a 64-term sum of those is <= 64 in magnitude — i.e. at
#: most 46 significant bits, EXACT in float64 REGARDLESS of summation
#: order. numpy's blocked matmul, DuckDB's sequential list_dot_product
#: and Spark's fold all produce the identical double, so the oracle
#: equality is exact, not round-and-hope (NOTES.md round-5 facts).
_SDD_Q = float(1 << 20)

_SDD_QEMB = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> floor(x * {_SDD_Q} + 0.5) / {_SDD_Q})"
)


def _sdd_oracle() -> str:
    cos_em = _MMR_COS.format(a="e.emb", b="m.c")
    cos_ab = _MMR_COS.format(a="a.emb", b="b.emb")
    # half-up floor quantization for the emitted/compared cosines —
    # these are re-derived values, the NOTES.md re-rounding rule applies
    r6em = f"floor(({cos_em}) * 1e6 + 0.5) / 1e6"
    r6ab = f"floor(({cos_ab}) * 1e6 + 0.5) / 1e6"
    return f"""
    WITH e AS (SELECT vec_id, {_SDD_QEMB} AS emb FROM embeddings),
    m AS (SELECT vec_id AS cell, emb AS c FROM e
          WHERE vec_id < (SELECT greatest({_SDD_CELLS},
                                 count(*) // {_SDD_CELL_TARGET}) FROM e)),
    x AS (
      SELECT e.vec_id, e.emb, m.cell, {r6em} AS ccos,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {r6em} DESC, m.cell) AS rn
      FROM e, m
    ),
    asg AS (SELECT vec_id, emb, cell, ccos FROM x WHERE rn = 1),
    dup AS (
      SELECT a.vec_id FROM asg a JOIN asg b
        ON a.cell = b.cell AND a.vec_id != b.vec_id
      WHERE {r6ab} >= {_SDD_TAU}
        AND (b.ccos > a.ccos
             OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
      GROUP BY a.vec_id
    )
    SELECT asg.cell, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(dup.vec_id) AS BIGINT) AS n_dup,
           CAST(count(*) - count(dup.vec_id) AS BIGINT) AS n_kept
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    GROUP BY asg.cell ORDER BY asg.cell
    """


@_q("q274_semdedup", _sdd_oracle())
def q274_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that bounds the quadratic pair comparison by
    CLUSTERING first — embeddings are assigned to
    max({_SDD_CELLS}, n // {_SDD_CELL_TARGET}) coarse cells
    (deterministic medoid anchors, q41e's quantizer shape; the cell
    count GROWS with the corpus so a cell stays ~{_SDD_CELL_TARGET}
    vectors — the published SemDeDup regime, and what keeps the
    per-cell Gram task's memory and the O(sum c_i^2) total work LINEAR
    in n instead of n^2/k with a fixed k, VERDICT r05 #6). Pairwise
    cosine runs only WITHIN a cell, and of any pair above
    tau={_SDD_TAU} the less-central member (lower cosine to its cell
    anchor; vec_id tie-break) is marked duplicate. Returns the
    per-cell census: vectors / duplicates / kept.

    Physical strategy — the Arrow fast path, not interpreted folds:
    (1) assignment is a mapInPandas scan (no shuffle): each Arrow batch
    is one numpy matmul against the broadcast {_SDD_CELLS}-row anchor
    matrix; (2) the within-cell pair phase is applyInPandas grouped by
    cell — one Gram matmul per cell, row-blocked so memory stays
    bounded, emitting only the 1-row census per cell. One shuffle
    total (on cell), never all-pairs across cells; the O(sum c_i^2)
    within-cell work is the published SemDeDup trade and runs at numpy
    matmul throughput (measured 70 s -> ~2 s at sf1 vs the fold form).

    Exactness: embeddings are snapped to multiples of 2^-20 first
    (both engines), which makes every 64-dim dot product EXACT in
    float64 independent of summation order (see _SDD_Q) — numpy's
    blocked matmul and DuckDB's sequential fold agree bit-for-bit, so
    this keeps a full value oracle despite the Python fast path.
    Centrality and pair cosines are half-up-quantized at 1e-6; the
    strict (ccos, vec_id) dominance order means exactly one survivor
    per mutual near-dup group."""
    import numpy as np
    import pandas as pd

    emb = spread(table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")

    # one metadata-cheap count fixes the cell budget (same formula as
    # the oracle's scalar subquery), then a bounded driver pull: the
    # anchor matrix is ncells x dim — the same k x d class as the
    # engine's k-means centroid pulls
    ncells = max(_SDD_CELLS, emb.count() // _SDD_CELL_TARGET)
    med_rows = (
        emb.filter(F.col("vec_id") < ncells).orderBy("vec_id").collect()
    )
    M = np.floor(
        np.array([r.embedding for r in med_rows], dtype=np.float64) * _SDD_Q + 0.5
    ) / _SDD_Q
    cells = np.array([r.vec_id for r in med_rows], dtype=np.int64)
    mn = np.sqrt((M * M).sum(axis=1))
    bM = spark.sparkContext.broadcast((cells, M, mn))

    def assign(batches):
        cells_, M_, mn_ = bM.value
        for pdf in batches:
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * _SDD_Q
                + 0.5
            ) / _SDD_Q
            xn = np.sqrt((X * X).sum(axis=1))
            C = (X @ M_.T) / np.outer(xn, mn_)
            C = np.floor(C * 1e6 + 0.5) / 1e6
            # argmax with (ccos DESC, cell ASC) tie-break: scan anchors
            # in ascending cell order, keep only strict improvements
            best = np.zeros(len(X), dtype=np.int64)
            bestv = C[:, 0].copy()
            for j in range(1, C.shape[1]):
                better = C[:, j] > bestv
                best[better] = j
                bestv[better] = C[better, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": list(X),
                    "cell": cells_[best],
                    "ccos": bestv,
                }
            )

    asg_schema = (
        "vec_id long, emb array<double>, cell long, ccos double"
    )
    asg = emb.mapInPandas(assign, schema=asg_schema)

    def census(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["emb"].to_numpy())
        # dominance order: most-central first, vec_id tie-break
        order = np.lexsort((pdf["vec_id"].to_numpy(), -pdf["ccos"].to_numpy()))
        X = X[order]
        nrm = np.sqrt((X * X).sum(axis=1))
        n = len(X)
        dup = np.zeros(n, dtype=bool)
        blk = 2048
        col = np.arange(n)
        for lo in range(0, n, blk):
            hi = min(lo + blk, n)
            G = (X[lo:hi] @ X.T) / np.outer(nrm[lo:hi], nrm)
            G = np.floor(G * 1e6 + 0.5) / 1e6
            # row i is a dup iff some STRICTLY-more-dominant j < i is
            # within tau — mask the upper triangle including the diagonal
            strict = col[None, :] < np.arange(lo, hi)[:, None]
            dup[lo:hi] = ((G >= _SDD_TAU) & strict).any(axis=1)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "n_vecs": [n],
                "n_dup": [int(dup.sum())],
                "n_kept": [n - int(dup.sum())],
            }
        )

    return (
        asg.groupBy("cell")
        .applyInPandas(census, schema="cell long, n_vecs long, n_dup long, n_kept long")
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q329 — cell-bounded DBSCAN over the embedding column
# ---------------------------------------------------------------------------

_DBS_CELLS = 8  # minimum coarse cells (medoids anchored on low vec_ids)
_DBS_CELL_TARGET = 256  # expected vectors per cell: cells scale with n
#: eps^2 as a decimal literal BOTH engines parse to the same double —
#: never write 1.15*1.15 (= 1.3224999999999998 != 1.3225 in binary).
_DBS_EPS2 = 1.3225
_DBS_MINPTS = 4  # |N_eps(p)| including p itself


def _dbscan_oracle() -> str:
    """Reference DBSCAN on the same cell-bounded candidate graph:
    neighbor counts and core flags from the within-cell eps-pair set,
    cluster labels by recursive min-label closure over core-core
    edges, borders attached to the smallest neighboring core label.
    Every squared distance is exact (2^-20 grid, see _SDD_Q), so the
    eps comparison is bit-identical cross-engine — no rounding."""
    d2 = (
        "(list_dot_product({a}.emb, {a}.emb)"
        " - 2 * list_dot_product({a}.emb, {b}.emb)"
        " + list_dot_product({b}.emb, {b}.emb))"
    )
    d2_em = d2.format(a="e", b="m")
    d2_ab = d2.format(a="a", b="b")
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, {_SDD_QEMB} AS emb FROM embeddings),
    m AS (SELECT vec_id AS cell, emb FROM e
          WHERE vec_id < (SELECT greatest({_DBS_CELLS},
                              count(*) // {_DBS_CELL_TARGET}) FROM e)),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, m.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2_em} ASC, m.cell ASC) AS rn
        FROM e, m) WHERE rn = 1),
    v AS (SELECT e.vec_id, e.emb, a.cell FROM e JOIN asg a USING (vec_id)),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id != b.vec_id
      WHERE {d2_ab} <= {_DBS_EPS2!r}),
    deg AS (SELECT va AS vv, count(*) AS nn FROM p GROUP BY va),
    core AS (SELECT vv FROM deg WHERE nn + 1 >= {_DBS_MINPTS}),
    ce AS (SELECT p.va AS a, p.vb AS b FROM p
           JOIN core c1 ON c1.vv = p.va JOIN core c2 ON c2.vv = p.vb),
    reach(vv, l) AS (
      SELECT vv, vv FROM core
      UNION
      SELECT ce.b, r.l FROM reach r JOIN ce ON ce.a = r.vv),
    lbl AS (SELECT vv, min(l) AS cluster FROM reach GROUP BY vv),
    border AS (
      SELECT p.va AS vv, min(l.cluster) AS cluster
      FROM p JOIN core c ON c.vv = p.vb JOIN lbl l ON l.vv = p.vb
      WHERE p.va NOT IN (SELECT vv FROM core)
      GROUP BY p.va)
    SELECT e.vec_id,
           CASE WHEN l.vv IS NOT NULL THEN 'core'
                WHEN b.vv IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(l.cluster, b.cluster, -1) AS cluster,
           coalesce(deg.nn, 0) AS n_neighbors
    FROM e
    LEFT JOIN lbl l ON l.vv = e.vec_id
    LEFT JOIN border b ON b.vv = e.vec_id
    LEFT JOIN deg ON deg.vv = e.vec_id
    ORDER BY e.vec_id
    """


@_q("q329_dbscan_cells", _dbscan_oracle())
def q329_dbscan_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bounded DBSCAN (Ester et al., KDD 1996) over the embedding
    column — the density clusterer a curation pipeline runs to find
    coherent near-dup "islands" and outlier documents in one pass:
    cores (>= {_DBS_MINPTS} vectors within eps incl. self), borders
    (non-core within eps of a core), noise; clusters are connected
    components of the core-core eps-graph labeled by their minimum
    vec_id, borders attach to the smallest neighboring core label
    (a deterministic refinement of DBSCAN's arbitrary-discovery-order
    border assignment).

    Candidate bounding is the same published trade as SemDeDup (q274):
    eps-neighbors are computed WITHIN coarse cells (nearest of
    max({_DBS_CELLS}, n/{_DBS_CELL_TARGET}) anchor medoids), so the
    pair phase is O(sum c_i^2) at matmul throughput instead of O(n^2),
    and cell count scales with n. Physical strategy mirrors q274:
    assignment is a mapInPandas numpy scan against the broadcast
    anchor matrix (no shuffle); then ONE shuffle on cell and the whole
    per-cell pipeline — pair distances (blocked Gram), degrees, cores,
    union-find over core-core edges, border attachment — runs inside a
    single applyInPandas group at numpy speed. Clusters cannot span
    cells by construction, so no global iterative CC is needed.

    Exactness: embeddings snap to the 2^-20 grid first, making every
    squared distance ||a||^2 - 2a.b + ||b||^2 EXACT in float64
    regardless of summation order (see _SDD_Q) — numpy matmul, Spark
    folds and DuckDB's sequential list_dot_product agree bit-for-bit,
    and the eps^2 threshold is the shared decimal literal
    {_DBS_EPS2!r}. No rounding anywhere in the compared values."""
    import numpy as np
    import pandas as pd

    emb = spread(table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")

    ncells = max(_DBS_CELLS, emb.count() // _DBS_CELL_TARGET)
    med_rows = emb.filter(F.col("vec_id") < ncells).orderBy("vec_id").collect()
    M = (
        np.floor(
            np.array([r.embedding for r in med_rows], dtype=np.float64) * _SDD_Q
            + 0.5
        )
        / _SDD_Q
    )
    cells = np.array([r.vec_id for r in med_rows], dtype=np.int64)
    mn2 = (M * M).sum(axis=1)
    bM = spark.sparkContext.broadcast((cells, M, mn2))

    def assign(batches):
        cells_, M_, mn2_ = bM.value
        for pdf in batches:
            X = (
                np.floor(
                    np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                    * _SDD_Q
                    + 0.5
                )
                / _SDD_Q
            )
            xn2 = (X * X).sum(axis=1)
            D = xn2[:, None] - 2.0 * (X @ M_.T) + mn2_[None, :]
            # argmin with (d2 ASC, cell ASC) tie-break: scan anchors in
            # ascending cell order, keep only strict improvements
            best = np.zeros(len(X), dtype=np.int64)
            bestv = D[:, 0].copy()
            for j in range(1, D.shape[1]):
                better = D[:, j] < bestv
                best[better] = j
                bestv[better] = D[better, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": list(X),
                    "cell": cells_[best],
                }
            )

    asg = emb.mapInPandas(assign, schema="vec_id long, emb array<double>, cell long")

    def dbscan_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf["emb"].to_numpy())[order]
        n = len(ids)
        n2 = (X * X).sum(axis=1)
        # blocked Gram with CSR neighbor lists: peak memory is the
        # blk x n float block plus O(E) int32 indices — never a dense
        # n x n adjacency, so a skewed cell that funnels many vectors
        # into one group costs O(E) (sparse at any sensible eps), not
        # O(n^2) bytes regardless of density
        blk = 2048
        nbrs: list = [None] * n
        for lo in range(0, n, blk):
            hi = min(lo + blk, n)
            D = n2[lo:hi, None] - 2.0 * (X[lo:hi] @ X.T) + n2[None, :]
            madj = D <= _DBS_EPS2
            madj[np.arange(hi - lo), np.arange(lo, hi)] = False
            for i in range(lo, hi):
                nbrs[i] = np.nonzero(madj[i - lo])[0].astype(np.int32)
        nn = np.array([len(r) for r in nbrs], dtype=np.int64)
        is_core = nn + 1 >= _DBS_MINPTS

        # union-find over core-core edges; label = min vec_id in component
        parent = np.arange(n)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i in np.nonzero(is_core)[0]:
            for j in nbrs[i][is_core[nbrs[i]]]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
        cluster = np.full(n, -1, dtype=np.int64)
        role = np.full(n, "noise", dtype=object)
        for i in np.nonzero(is_core)[0]:
            cluster[i] = ids[find(i)]
            role[i] = "core"
        # border: non-core with a core neighbor -> min neighboring label
        for i in np.nonzero(~is_core)[0]:
            cn = nbrs[i][is_core[nbrs[i]]]
            if len(cn):
                cluster[i] = cluster[cn].min()
                role[i] = "border"
        return pd.DataFrame(
            {"vec_id": ids, "role": role, "cluster": cluster, "n_neighbors": nn}
        )

    return (
        asg.groupBy("cell")
        .applyInPandas(
            dbscan_cell,
            schema="vec_id long, role string, cluster long, n_neighbors long",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q295 — matryoshka (prefix-dimension) embedding truncation recall
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)


def _matryoshka_oracle() -> str:
    """Per prefix dimension d: top-k by cosine over the FIRST d
    components, measured against the full-dimension exact top-k (the
    q41 truth). Both engines slice the same array, fold the same
    element order, rank on the 6-decimal-rounded cosine with cid
    tie-break — the q41 contract applied per dimension."""
    branches = " UNION ALL ".join(
        f"""
    SELECT {d} AS d, qid, cid FROM (
      SELECT qid, vec_id AS cid,
        row_number() OVER (
          PARTITION BY qid ORDER BY round(
            list_dot_product(qe, emb[1:{d}])
              / (sqrt(list_dot_product(qe, qe))
                 * sqrt(list_dot_product(emb[1:{d}], emb[1:{d}]))), 6) DESC,
          vec_id) AS rn
      FROM (SELECT vec_id AS qid, emb[1:{d}] AS qe FROM e
            WHERE vec_id < {_N_QUERIES}) q, e
    ) WHERE rn <= {_TOP_K}"""
        for d in _MRL_DIMS
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    truth AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          row_number() OVER (
            PARTITION BY q.vec_id ORDER BY round(
              list_dot_product(q.emb, c.emb)
                / (sqrt(list_dot_product(q.emb, q.emb))
                   * sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
            c.vec_id) AS rn
        FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q, e c
      ) WHERE rn <= {_TOP_K}
    ),
    cand AS ({branches})
    SELECT dims.d, truth.qid,
           CAST(count(cand.cid) AS BIGINT) AS hits,
           count(cand.cid) / {float(_TOP_K)} AS recall
    FROM truth
    CROSS JOIN (SELECT unnest([{', '.join(map(str, _MRL_DIMS))}]) AS d) dims
    LEFT JOIN cand ON cand.d = dims.d AND cand.qid = truth.qid
                  AND cand.cid = truth.cid
    GROUP BY dims.d, truth.qid
    ORDER BY dims.d, truth.qid
    """


@_q("q295_matryoshka_recall", _matryoshka_oracle())
def q295_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation trade, measured: recall@k
    of cosine top-k computed over only the FIRST d embedding
    components (d = 8/16/32) against the full 64-dim exact truth —
    the evaluation a pipeline runs before storing truncated vectors
    (MRL-style) to cut ANN index memory 2-8x. Composition of the
    engine's own certified pieces: q41's exact scan per prefix
    dimension (slice happens BEFORE the fold, so the candidate scan
    reads d components' work, the real saving at 100 TB), left-joined
    to the full-dim truth, recall per (d, query).

    Ranking per dimension follows the q41 contract exactly (round-6
    cosine, cid tie-break), so both engines cut identical top-k sets
    and recall is integer-exact."""
    emb = table(spark, sf_dir, "embeddings")
    truth = q41_ann_topk(spark, sf_dir).select("qid", "cid")
    # ALL truncation dims ride ONE corpus scan: each vector explodes to
    # one (d, sliced vector) row per dim instead of the corpus being
    # re-scanned and re-scored per dim (4 scans + 4 BNLJ pair grids ->
    # 1 scan + 1 broadcast hash join on d). Per (d, qid, cid) the
    # cosine expression is unchanged, the per-dim window becomes the
    # same ranking partitioned by (d, qid) — identical top-k sets.
    # ||qe|| / ||ce|| folded once per query-dim / corpus-dim row
    # instead of once per pair (q41 pattern).
    dexp = F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])).alias("d")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "embedding", dexp
    ).select(
        "d",
        F.col("qid"),
        F.slice("embedding", 1, F.col("d")).alias("qe"),
        _norm(F.slice("embedding", 1, F.col("d"))).alias("qn"),
    )
    corpus = spread(emb).select(
        F.col("vec_id").alias("cid"), "embedding", dexp
    ).select(
        "d",
        F.col("cid"),
        F.slice("embedding", 1, F.col("d")).alias("ce"),
        _norm(F.slice("embedding", 1, F.col("d"))).alias("cn"),
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("d", "qid").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("cid")
    )
    cands = (
        corpus.join(F.broadcast(queries), "d")
        .withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("d", "qid", "cid", F.lit(1).alias("hit"))
    )
    dims = spark.createDataFrame([(d,) for d in _MRL_DIMS], "d int")
    return (
        truth.crossJoin(F.broadcast(dims))
        .join(cands, ["d", "qid", "cid"], "left")
        .groupBy("d", "qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits"))
        .select(
            "d", "qid", "hits",
            (F.col("hits") / F.lit(float(_TOP_K))).alias("recall"),
        )
        .orderBy("d", "qid")
    )


# ---------------------------------------------------------------------------
# q296 — binary (sign) quantization + packed Hamming-distance ANN
# ---------------------------------------------------------------------------

_HAM_WORD_BITS = 32  # DuckDB BIGINT << 63 overflows; 32 bits/word is safe in both
_HAM_WORDS = 2  # 64-dim embeddings -> 2 words
_HAM_SHORTLIST = 30


def _sign_word_terms(index_expr, off: int) -> str:
    """SQL for one packed sign-bit word: bit i set when component
    ``off+i+1`` (1-based) is > 0. ``index_expr(i)`` renders the 1-based
    array access for the target engine (Spark ``element_at``, DuckDB
    ``arr[i]``). 32 constant-shift CASE terms, fully codegen-able."""
    return "(" + " + ".join(
        f"(CASE WHEN {index_expr(off + i + 1)} > CAST(0 AS DOUBLE) "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_HAM_WORD_BITS)
    ) + ")"


def _hamming_oracle() -> str:
    words = ", ".join(
        _sign_word_terms(lambda i: f"embedding[{i}]", w * _HAM_WORD_BITS)
        + f" AS w{w}"
        for w in range(_HAM_WORDS)
    )
    ham = " + ".join(
        f"bit_count(xor(q.w{w}, c.w{w}))" for w in range(_HAM_WORDS)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, {words}
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
    h AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST({ham} AS BIGINT) AS ham
      FROM q, e c
    ),
    s AS (
      SELECT qid, cid, ham,
             row_number() OVER (PARTITION BY qid ORDER BY ham, cid) AS hrn
      FROM h
    ),
    r AS (
      SELECT s.qid, s.cid, s.ham,
             list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))) AS cos
      FROM s
      JOIN q ON q.vec_id = s.qid
      JOIN e c ON c.vec_id = s.cid
      WHERE s.hrn <= {_HAM_SHORTLIST}
    ),
    t AS (
      SELECT qid, cid, ham, round(cos, 6) AS cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY round(cos, 6) DESC, cid) AS rn
      FROM r
    )
    SELECT qid, cid, ham, cos, CAST(rn AS BIGINT) AS rn
    FROM t WHERE rn <= {_TOP_K} ORDER BY qid, rn
    """


@_q("q296_hamming_ann", _hamming_oracle())
def q296_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign quantization + packed Hamming shortlist + exact
    rerank — the 32x-compression ANN tier below int8 (q181) and PQ
    (q219): each 64-dim float vector becomes 64 sign bits packed into
    two 32-bit words (32 bits/word so the DuckDB oracle can replay the
    shifts; Spark packs with the identical constant-shift CASE sum, all
    whole-stage codegen). The scan phase compares only the packed words
    — bit_count(xor(...)) per word, integer-exact in both engines — so
    at 100 TB the candidate sweep reads 8 bytes/vector instead of 256
    and never shuffles the embedding table. The top-{_HAM_SHORTLIST}
    Hamming shortlist (ties by cid) is then reranked with q41's exact
    sequential-fold cosine contract (round-6, cid tie-break) after a
    broadcast-shortlist fetch of the full vectors — the asymmetric
    two-phase shape every production binary-quantized index uses.
    """
    emb = table(spark, sf_dir, "embeddings")
    word_cols = [
        F.expr(
            _sign_word_terms(lambda i: f"element_at(embedding, {i})", w * _HAM_WORD_BITS)
        ).alias(f"w{w}")
        for w in range(_HAM_WORDS)
    ]
    words_df = emb.select(F.col("vec_id").alias("cid"), *word_cols)
    packed = spread(words_df)
    # query side: same projection, but filtered AT THE SCAN (vec_id
    # pushdown) and never routed through spread()'s repartition — the
    # 5-row side must stay a one-task broadcast build
    qpacked = words_df.filter(F.col("cid") < _N_QUERIES).select(
        F.col("cid").alias("qid"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(_HAM_WORDS)],
    )
    ham = None
    for w in range(_HAM_WORDS):
        term = F.bit_count(F.col(f"qw{w}").bitwiseXOR(F.col(f"w{w}")))
        ham = term if ham is None else ham + term
    hw = Window.partitionBy("qid").orderBy(F.asc("ham"), F.asc("cid"))
    shortlist = (
        packed.crossJoin(F.broadcast(qpacked))
        .withColumn("ham", ham.cast("long"))
        .withColumn("hrn", F.row_number().over(hw))
        .filter(F.col("hrn") <= _HAM_SHORTLIST)
        .select("qid", "cid", "ham")
    )
    # fetch full vectors for the shortlist only (broadcast-sized), then
    # rerank with the exact q41 cosine contract
    cand_vecs = emb.join(
        F.broadcast(shortlist), emb.vec_id == F.col("cid")
    ).select("qid", "cid", "ham", F.col("embedding").alias("ce"))
    qvecs = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid2"), F.col("embedding").alias("qe")
    )
    cos = _dot(F.col("qe"), F.col("ce")) / (_norm(F.col("qe")) * _norm(F.col("ce")))
    rw = Window.partitionBy("qid").orderBy(F.desc(F.round("cos_raw", 6)), F.asc("cid"))
    return (
        cand_vecs.join(F.broadcast(qvecs), F.col("qid") == F.col("qid2"))
        .withColumn("cos_raw", cos)
        .withColumn("rn", F.row_number().over(rw).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("qid", "cid", "ham", F.round("cos_raw", 6).alias("cos"), "rn")
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# q309 — simplified silhouette (centroid-based clustering quality)
# ---------------------------------------------------------------------------

_SIL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
m AS (SELECT vec_id AS cell, emb AS c FROM e WHERE vec_id < {_IVF_NLIST}),
d AS (
  SELECT e.vec_id, m.cell,
         round({_D2_DUCK.format(x='e.emb', c='m.c')}, 6) AS d2
  FROM e, m
),
r AS (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
  FROM d
),
ab AS (
  SELECT a.vec_id, a.cell, a.d2 AS a, b.d2 AS b,
         round((b.d2 - a.d2) / greatest(a.d2, b.d2), 6) AS s
  FROM r a JOIN r b ON b.vec_id = a.vec_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS mean_silhouette,
       min(s) AS worst_silhouette
FROM ab GROUP BY cell ORDER BY cell
"""


@_q("q309_simplified_silhouette", _SIL_ORACLE)
def q309_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette (Hruschka 2004): clustering-quality score
    per vector using ANCHOR distances only — a(x) = distance to the
    own-cell anchor, b(x) = distance to the nearest OTHER anchor,
    s = (b - a)/max(a, b) — the O(n*k) diagnostic a 100 TB pipeline
    runs instead of the O(n^2) full silhouette, here over the q41e
    medoid cells the ANN/SemDeDup family indexes with. Per cell: size,
    mean s (low mean = cell boundary bleeds into a neighbor), worst s.

    Shape: one broadcast of the k-anchor table into the corpus scan;
    a and b fall out of the two smallest (rounded) squared distances
    per vector (sorted k-list per row, no window); per-cell means sum
    round-6 DECIMALs so summation order cannot move the mean (q254's
    idiom). Distances use the 3-fold dot identity, so both engines
    agree bit-for-bit before rounding.
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    med = emb.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cell"),
        F.col("emb").alias("c"),
        _dot(F.col("emb"), F.col("emb")).alias("_c2"),
    )
    # ||x||^2 / ||c||^2 folded once per row / per anchor instead of once
    # per (vector x anchor) pair (_ivf_assign pattern) — identical IEEE
    # values and (x2 - 2*dot) + c2 association, ~3x fewer flops
    d2 = F.round(
        F.col("_x2")
        - 2 * _dot(F.col("emb"), F.col("c"))
        + F.col("_c2"),
        6,
    )
    per = (
        emb.withColumn("_x2", _dot(F.col("emb"), F.col("emb")))
        .crossJoin(F.broadcast(med))
        .select("vec_id", "cell", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cell")).alias("best"),
            F.sort_array(F.collect_list("d2")).alias("ds"),
        )
        .select(
            "vec_id",
            F.col("best.cell").alias("cell"),
            F.col("best.d2").alias("a"),
            F.col("ds")[1].alias("b"),
        )
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")), 6
    )
    return (
        per.select("cell", s.alias("s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
            F.min("s").alias("worst_silhouette"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q324 — kNN hubness audit (in-degree skew of the k-nearest-neighbor graph)
# ---------------------------------------------------------------------------

_HUB_K = 5
_HUB_OUT = 20

_HUBNESS_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
p AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid, a.label,
    list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb))
         * sqrt(list_dot_product(b.emb, b.emb))) AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
), r AS (
  SELECT qid, cid, label,
    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, cid) AS rn
  FROM p
), deg AS (
  SELECT cid AS vec_id, label, CAST(count(*) AS BIGINT) AS indeg
  FROM r WHERE rn <= {_HUB_K} GROUP BY cid, label
)
SELECT vec_id, label, indeg
FROM (
  SELECT *, row_number() OVER (ORDER BY indeg DESC, vec_id) AS orn FROM deg
) WHERE orn <= {_HUB_OUT} ORDER BY indeg DESC, vec_id
"""


@_q("q324_knn_hubness", _HUBNESS_ORACLE)
def q324_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the k-NN graph — the standard high-dimensional
    pathology check an ANN index deployment runs BEFORE trusting
    retrieval quality (Radovanovic et al., JMLR 2010): in high
    dimensions a few points become "hubs" that appear in a huge
    fraction of other points' k-NN lists, silently dominating
    retrieval. Computes the within-label k={_HUB_K} cosine kNN graph
    and reports the top-{_HUB_OUT} in-degree hubs.

    Scale shape: label-blocked like q42/q274 — the kNN never crosses a
    block, so the pair volume is sum over blocks of n_b^2, not corpus^2
    (at production scale the block is an IVF cell, same machinery).
    Each block runs ONE float64 BLAS matmul inside an Arrow-batched
    ``applyInPandas`` (the q41b fast path); ranking is on the 6-decimal
    rounded cosine with cid tie-break — the q41 cross-engine contract —
    so in-degrees are integer-exact against the oracle's sequential
    folds. The global top-{_HUB_OUT} is a TakeOrderedAndProject."""
    import numpy as np

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "label": [], "indeg": []}
            ).astype({"vec_id": "int64", "label": "int32", "indeg": "int64"})
        ids = pdf["vec_id"].to_numpy()
        lab = int(pdf["label"].iloc[0])
        x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        cos = np.round((x @ x.T) / np.outer(norms, norms), 6)
        k = min(_HUB_K, n - 1)
        indeg = np.zeros(n, dtype=np.int64)
        id_order = np.argsort(ids, kind="stable")
        for i in range(n):
            # rank by (-rounded cos, cid): iterate cid-ascending, stable
            # sort on -cos keeps the cid order inside every cos tie
            row = cos[i, id_order]
            cand = id_order[np.argsort(-row, kind="stable")]
            cand = cand[cand != i][:k]
            indeg[cand] += 1
        out = pd.DataFrame({"vec_id": ids, "label": lab, "indeg": indeg})
        return out[out["indeg"] > 0]

    emb = spread(table(spark, sf_dir, "embeddings"))
    deg = emb.groupBy("label").applyInPandas(
        _block, "vec_id long, label int, indeg long"
    )
    return deg.orderBy(F.desc("indeg"), F.asc("vec_id")).limit(_HUB_OUT)
