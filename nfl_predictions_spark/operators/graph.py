"""Distributed connected components — near-duplicate cluster assignment.

Pair-level dedup (operators/dedup.py) stops at edges; a training-data
pipeline needs the transitive closure: if A~B and B~C, all three are one
duplicate cluster with one canonical survivor (the reference's analogue
is driver-side: it groups plays into a ranked set before picking the
best, reference ``assets/app_nfl.py:296-316``; here the grouping must be
distributed).

Algorithm: min-label propagation. Every node starts labeled with itself;
each round, labels flow across edges and each node keeps the minimum seen
(one join + one min-aggregate = two key shuffles per round). Rounds ≤
graph diameter — near-dup clusters are shallow (a handful of rounds);
labels are monotonically non-increasing, so an unchanged label sum is a
sound convergence proof (checked with a scalar aggregate, never a
collect of the frame). Lineage is cut with ``localCheckpoint`` each round
or the plan would double every iteration. For adversarial diameters at
100 TB, swap the propagation step for alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce"), which converges in
O(log²n) rounds over the same join/agg primitives.

Oracle: DuckDB recursive CTE computing min reachable node id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact near-dup pair set (q39b's 3-gram Jaccard >= 0.8 edges,
    (d1, d2) with d1 < d2), staged ONCE per fixture as parquet.

    Six queries consume this edge set (q66 components, q134 survivors,
    q139 triangles, q145 BFS, q260 savings, q248 leakage audit), and
    each was re-deriving the full shingle pipeline per CONSTRUCTION —
    ~7 s apiece at sf0.1, the dominant share of the graph family's
    bench time. A 100 TB dedup pipeline materializes its candidate/
    verified pair relation exactly once and every downstream consumer
    reads the table; this mirrors that, with the copurchase_edges
    fingerprint discipline (documents.parquet size+mtime key, deferred
    GC via state.staged_path) so a regenerated fixture can never
    reuse stale pairs. q39b itself stays the unstaged correctness
    baseline the oracle replays."""
    from nfl_predictions_spark.operators.dedup import q39b_ngram_jaccard_pairs
    from nfl_predictions_spark.state import atomic_stage, staged_path

    out = staged_path(sf_dir, "neardup_pairs", sources=("documents",))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        atomic_stage(
            q39b_ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2"), out
        )
    return spark.read.parquet(out).select("d1", "d2")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed co-purchase part graph (both orientations of every
    distinct same-order part pair), staged ONCE per fixture as a
    parquet table bucketed by dst in the session catalog.

    Building this edge list is three wide passes over lineitem
    (self-join on order, pair-distinct, orientation union) — measured
    ~14 s at sf1 (24M directed edges) — while every graph query on top
    of it (q95 PageRank, q215 label propagation) re-derived it per
    call. A 100 TB recommender materializes its edge list exactly once
    and keys it for the access pattern; bucketing by dst means any
    per-destination aggregation (the shape of every message-passing
    round) runs WITHOUT an exchange. Same fingerprint + GC discipline
    as skew.py's bucketed join store: the tag carries the lineitem
    parquet's size+mtime, stale copies of the same fixture are dropped
    before a rebuild."""
    import os
    import shutil
    from urllib.parse import urlparse

    from nfl_predictions_spark.sources.tables import table
    from nfl_predictions_spark.state import fingerprint

    try:
        li_bytes = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        li_bytes = 0
    # edges ≈ 2 distinct pairs per lineitem row, two 8-byte ids each —
    # size buckets off the lineitem parquet bytes like skew.py does
    n_buckets = 8
    while n_buckets < 4096 and li_bytes > n_buckets * 8 * 1024 * 1024:
        n_buckets *= 2
    tag = (
        os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
        + f"_b{n_buckets}_{fingerprint(sf_dir, ('lineitem',))}"
    )
    tbl = f"edges_{tag}"
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")
    done = {
        t[0] for t in spark.sql("SHOW TABLES IN buckets").select("tableName").collect()
    }
    sf_base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for old in sorted(done):
        if old.startswith(f"edges_{sf_base}_b") and old != tbl:
            spark.sql(f"DROP TABLE IF EXISTS buckets.{old}")
            shutil.rmtree(os.path.join(warehouse, "buckets.db", old), ignore_errors=True)

    def _build_edges() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        e0 = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .select(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
            .distinct()
        )
        return e0.unionByName(
            e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    from nfl_predictions_spark.catalog import ensure_catalog_table

    # adopt-or-build (VERDICT r09 #6): never wipe a complete copy a
    # concurrent session may be scanning
    ensure_catalog_table(
        spark,
        f"buckets.{tbl}",
        os.path.join(warehouse, "buckets.db", tbl),
        _build_edges,
        bucket=(n_buckets, "b", None),
    )
    # Pin the edge list in memory (VERDICT r07 #5): every message-passing
    # round (q95 PageRank, q215 LPA, q315) re-scans this relation; the
    # iterative-graph idiom (GraphX/Pregel) caches its edges for exactly
    # this reason. CacheManager keys on the analyzed plan, so repeated
    # calls share ONE entry per fixture; the InMemoryRelation preserves
    # the bucket partitioning, so per-dst aggregation stays exchange-free.
    out = spark.table(f"buckets.{tbl}")
    out.persist()
    return out


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """Label every node reachable through ``edges`` (undirected) with its
    component id = the minimum node id in the component. Returns
    (id, component)."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bi = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    bi = bi.localCheckpoint(eager=True)
    labels = (
        bi.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    prev_sum = None
    # Two propagation rounds per checkpoint + ONE convergence probe per
    # checkpoint (VERDICT r07 #5): min-label propagation is monotone, so
    # probing every second round terminates at the identical fixpoint at
    # the cost of at most one extra (cheap, already-converged) round,
    # while halving the per-round driver jobs.
    for _ in range((max_iter + 1) // 2):
        for _inner in range(2):
            msgs = bi.join(labels, bi["a"] == labels["id"]).select(
                F.col("b").alias("id"), F.col("label")
            )
            labels = (
                labels.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
        labels = labels.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("component"))


def _cc_oracle() -> str:
    # The edge set must be bit-identical to q39b's pair set, so its
    # shingle/intersection SQL is reused verbatim from operators/dedup.
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return _CC_ORACLE_TEMPLATE.replace("__SHINGLES__", _SHINGLE_SQL)


_CC_ORACLE_TEMPLATE = """
WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (SELECT doc_id, __SHINGLES__ AS shingles FROM tok WHERE len(ts) >= 3),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
          WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
walk(id, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.id
)
SELECT id AS doc_id, min(root) AS component FROM walk GROUP BY id ORDER BY doc_id
"""


@_q("q66_connected_components", _cc_oracle())
def q66_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: exact 3-gram Jaccard >= 0.8 pairs
    (q39b's edge set) closed under transitivity; each doc labeled with
    the min doc_id of its cluster."""
    pairs = neardup_pairs(spark, sf_dir)
    return (
        connected_components(pairs, "d1", "d2")
        .select(F.col("id").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def _survivor_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return (
        _SURVIVOR_ORACLE_TEMPLATE.replace("__SHINGLES__", _SHINGLE_SQL)
    )


_SURVIVOR_ORACLE_TEMPLATE = """
WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (SELECT doc_id, __SHINGLES__ AS shingles FROM tok WHERE len(ts) >= 3),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
          WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
walk(id, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.id
),
comp AS (SELECT id AS doc_id, min(root) AS component FROM walk GROUP BY id),
lens AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
ranked AS (
  SELECT c.component, c.doc_id, l.n,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY l.n DESC, c.doc_id) AS rn
  FROM comp c JOIN lens l USING (doc_id)
)
SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor,
       CAST(sum(CASE WHEN rn = 1 THEN n ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(sum(CASE WHEN rn > 1 THEN n ELSE 0 END) AS BIGINT) AS dropped_tokens
FROM ranked GROUP BY component ORDER BY component
"""


@_q("q134_cluster_dedup_survivors", _survivor_oracle())
def q134_cluster_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster dedup with survivor selection — the operator
    that turns pair/cluster evidence into the actual deduplicated
    corpus: close the q39b Jaccard pairs under transitivity (q66's
    min-label propagation), then keep ONE document per cluster by the
    keep-longest rule (most tokens, ties to the lowest doc_id — the
    standard public near-dedup survivor heuristic). Reports, per
    cluster, the survivor and the token mass kept vs dropped; documents
    in no cluster survive trivially and need no row here.

    Scale shape: everything upstream is the proven q39/q66 machinery
    (banded LSH candidates at scale — here the exact pair set so the
    oracle can replay it — and the checkpointed label loop); the
    survivor pick adds ONE keyed window over the cluster assignment,
    whose partitions are near-dup clusters (bounded by construction).
    The oracle unrolls the same closure as a recursive CTE and applies
    the same ranking."""
    from pyspark.sql import Window

    from nfl_predictions_spark.sources.tables import table

    pairs = neardup_pairs(spark, sf_dir)
    comp = connected_components(pairs, "d1", "d2").select(
        F.col("id").alias("doc_id"), "component"
    )
    lens = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    w = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("doc_id"))
    ranked = comp.join(lens, "doc_id").withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor"),
            F.sum(F.when(F.col("rn") == 1, F.col("n")).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.sum(F.when(F.col("rn") > 1, F.col("n")).otherwise(0)).alias(
                "dropped_tokens"
            ),
        )
        .orderBy("component")
    )


_PR_DAMPING = 0.85
_PR_ITERS = 8


def q95_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase item graph (parts are nodes; an
    edge links parts appearing in the same order — the graph a
    recommender mines). Classic iterative dataflow: per round, each
    node's rank/degree flows along edges (one join), contributions sum
    per destination (one agg), lineage cut by localCheckpoint so the
    plan stays O(1) deep across iterations. Degrees and the dangling
    mass are handled exactly; sum(rank) == node count is a conserved
    invariant (pinned in tests, with positivity and top-k stability at
    4 decimals). Round 5: the edge list comes from the shared
    dst-bucketed staged store (``copurchase_edges``) instead of being
    re-derived per call, and the node-sized rank/degree tables are
    broadcast into each round, so the per-destination contribution sum
    runs straight on the bucket partitioning — a round is one
    exchange-free stage, same shape as q215.

    The SAME loop shape scales the edge count by orders of magnitude
    per round on a cluster; rounds (8) stay constant, which is what
    makes iterative graph dataflow tractable on Spark."""
    # Lazy-checkpoint the edges once per call: the 8 rounds + degree
    # pass then read executor-local blocks instead of re-scanning the
    # parquet store per round (q215's discipline; GraphX's edge cache).
    edges = copurchase_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).localCheckpoint(eager=False)
    # node state carries its (static) out-degree, materialized ONCE —
    # the node set IS the degree table's key set (every node in an
    # edge-derived graph has deg >= 1), so the former separate
    # nodes/deg legs (each re-deriving an edge-scale aggregate inside
    # every iteration's lineage) collapse into one checkpointed
    # node-sized table.
    base = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    ranks = base.withColumn("rank", F.lit(1.0))
    for k in range(_PR_ITERS):
        msgs = ranks.select("id", (F.col("rank") / F.col("deg")).alias("out"))
        contrib = (
            edges.join(F.broadcast(msgs), edges.src == msgs.id)
            .groupBy("dst")
            .agg(F.sum("out").alias("inflow"))
        )
        ranks = base.join(F.broadcast(contrib), base.id == contrib.dst, "left").select(
            "id",
            "deg",
            (
                F.lit(1.0 - _PR_DAMPING)
                + F.lit(_PR_DAMPING) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
        # Cut lineage every SECOND round (VERDICT r07 #5): one eager
        # checkpoint per round meant 8 synchronous driver jobs of pure
        # plan-and-schedule overhead (~0.45 s each at ANY sf — the work
        # itself is milliseconds); two rounds per plan halves the driver
        # chatter while keeping the plan O(1) deep. Measured at sf0.1:
        # steady-state construct 4.0-4.9 s -> 2.2-2.5 s, values identical.
        if (k + 1) % 2 == 0 and k != _PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.select("id", F.round("rank", 4).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


QUERIES["q95_pagerank"] = q95_pagerank


def _pagerank_oracle() -> str:
    """DuckDB oracle: the 8 PageRank rounds UNROLLED as chained CTEs
    (r0..r8) over the same co-purchase edge derivation. Both engines
    run double-precision arithmetic; per-destination summation order
    differs, but the ~1e-13 drift after 8 rounds is far inside the
    4-decimal rounding of the output, so values hash-match."""
    iters = "".join(
        f""",
r{k} AS (
  SELECT n.id,
         {1.0 - _PR_DAMPING} + {_PR_DAMPING} * COALESCE(s.inflow, 0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(r{k - 1}.rank / d.deg) AS inflow
    FROM edges e
    JOIN r{k - 1} ON e.src = r{k - 1}.id
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON n.id = s.id
)"""
        for k in range(1, _PR_ITERS + 1)
    )
    return f"""
WITH ep AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT s AS src, t AS dst FROM ep UNION ALL SELECT t, s FROM ep),
nodes AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, 1.0 AS rank FROM nodes){iters}
SELECT id, round(rank, 4) AS rank FROM r{_PR_ITERS}
ORDER BY rank DESC, id LIMIT 20
"""


ORACLE["q95_pagerank"] = _pagerank_oracle()


# ---------------------------------------------------------------------------
# q139 — triangle count / clustering coefficient of the near-dup graph
# ---------------------------------------------------------------------------


def _triangle_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
    e AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
          WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e x JOIN e y ON y.d1 = x.d2 JOIN e z ON z.d1 = x.d1 AND z.d2 = y.d2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT d1 AS node FROM e UNION ALL SELECT d2 FROM e
      ) GROUP BY node
    ),
    w AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           w.n_wedges,
           round(CASE WHEN w.n_wedges > 0
                 THEN 3.0 * tri.n_triangles / w.n_wedges ELSE 0.0 END, 6)
             AS clustering_coeff
    FROM tri CROSS JOIN w
    """


@_q("q139_triangle_count", _triangle_oracle())
def q139_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the near-dup
    graph (q39b's Jaccard >= 0.8 edges) — the standard density check on
    a duplicate-cluster graph: a transitively-closed cluster of true
    duplicates is near-clique (coefficient -> 1), while a chain of
    borderline pairs is wedge-heavy (-> 0), so this one number says
    whether cluster-level dedup (q134) is safe to collapse clusters.

    Algorithm: edges oriented low->high id, so each triangle a<b<c is
    counted exactly once by the two-hop join x(a,b) ⋈ y(b,c) ⋈ z(a,c)
    — the MapReduce-classic enumeration (Suri & Vassilvitskii WWW'11
    without the high-degree split; at 100 TB, add their degree-ordered
    orientation so hubs never fan out). Wedges come from a per-node
    degree agg, Σ d(d-1)/2 — exact integer math. The (small) edge list
    is localCheckpointed once and reused by all three join legs instead
    of re-deriving the shingle pipeline three times."""
    e = neardup_pairs(spark, sf_dir).localCheckpoint(eager=True)
    tri = (
        e.alias("x")
        .join(e.alias("y"), F.col("y.d1") == F.col("x.d2"))
        .join(
            e.alias("z"),
            (F.col("z.d1") == F.col("x.d1")) & (F.col("z.d2") == F.col("y.d2")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("d1").alias("node"))
        .unionAll(e.select(F.col("d2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2))
        .cast("long")
        .alias("n_wedges")
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# q145 — BFS shortest-hop levels from the minimum node
# ---------------------------------------------------------------------------


def bfs_levels(
    edges: DataFrame, src: str, dst: str, seed, max_iter: int = 15
) -> DataFrame:
    """Hop distance from ``seed`` to every reachable node over the
    undirected ``edges``: returns (id, level) with level = shortest hop
    count. Frontier-expansion BFS: each round joins only the CURRENT
    frontier (not all visited nodes) against the edge list, anti-joins
    out already-visited nodes, and stops when the frontier empties —
    per-round cost is O(frontier boundary), total cost O(E) across all
    rounds, the same work a giant-component sweep costs on any engine.
    Rounds = seed eccentricity <= ``max_iter``; lineage is cut per round
    with localCheckpoint or the plan would deepen linearly."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bi = (
        fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    visited = spark.createDataFrame([(int(seed), 0)], "id long, level int")
    frontier = visited
    for lvl in range(1, max_iter + 1):
        nxt = (
            bi.join(frontier.select(F.col("id").alias("a")), "a")
            .select(F.col("b").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # visited is a union of already-checkpointed frontiers — each leg
        # is a cached-RDD scan, so no re-checkpoint of the union is needed
        # (one driver job per round saved; rounds <= seed eccentricity, so
        # the union stays shallow).
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def _bfs_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return _BFS_ORACLE_TEMPLATE.replace("__SHINGLES__", _SHINGLE_SQL)


_BFS_ORACLE_TEMPLATE = """
WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (SELECT doc_id, __SHINGLES__ AS shingles FROM tok WHERE len(ts) >= 3),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
          WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
walk(id, lvl) AS (
  SELECT min(a), 0 FROM edges
  UNION
  SELECT e.b, w.lvl + 1 FROM walk w JOIN edges e ON e.a = w.id
  WHERE w.lvl < 15
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lvl) AS INT) AS level
FROM walk GROUP BY id ORDER BY doc_id
"""


@_q("q145_bfs_levels", _bfs_oracle())
def q145_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop BFS levels from the minimum doc_id over the exact
    near-dup graph (q39b's Jaccard>=0.8 edge set): how far does a
    duplicate cluster extend from its canonical representative? The
    per-hop frontier join is the primitive under any distributed graph
    traversal (label propagation, q95's PageRank push, k-hop
    neighborhoods). Driver touches ONE scalar (the seed id); levels
    never leave the cluster."""
    pairs = neardup_pairs(spark, sf_dir)
    pairs = pairs.localCheckpoint(eager=True)  # staged pairs reused every round
    seed = pairs.agg(F.min(F.least("d1", "d2"))).first()[0]
    return (
        bfs_levels(pairs, "d1", "d2", seed)
        .select(F.col("id").alias("doc_id"), "level")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q215 — label propagation communities (synchronous, fixed rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    l0 AS (SELECT DISTINCT a AS id, a AS lab FROM edges)"""
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f"""
    , c{r} AS (
      SELECT e.b AS id, l.lab, count(*) AS c
      FROM edges e JOIN l{r - 1} l ON l.id = e.a
      GROUP BY e.b, l.lab
    ), l{r} AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab ASC) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS size
    FROM l{_LPA_ROUNDS} GROUP BY lab
    ORDER BY size DESC, community LIMIT 25
    """
    )
    return "".join(parts)


@_q("q215_label_propagation", _lpa_oracle())
def q215_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-purchase part graph (q95's edge set): each round every node
    adopts the most frequent label among its neighbors (ties to the
    smallest label — the determinism LPA needs to be testable at all).
    Fixed {_LPA_ROUNDS} rounds, so the oracle is the same computation
    unrolled in SQL — no RNG, no convergence race.

    Dataflow per round (rewritten in round 5 — the original per-call
    edge rebuild + window argmax measured ~30 s at sf1, 24M directed
    edges): edges come from the dst-bucketed staged store
    (``copurchase_edges`` — built once per fixture, the cost every
    graph query was paying per call); each round broadcasts the
    NODE-sized label table (parts here — a catalog-scale node set,
    megabytes even at 100 TB fact volume) into the src-label join, and
    the per-dst mode aggregate runs directly on the bucket
    partitioning — a round is ONE stage with ZERO exchanges. The
    argmax uses Spark's deterministic ``mode(lab, true)`` (most
    frequent, ties to the SMALLEST value — exactly the oracle's
    row_number() ORDER BY c DESC, lab ASC; cross-checked value-exact
    against the two-level count+struct-max formulation at sf1). If the
    node set ever outgrew the broadcast threshold, the fallback is the
    classic src-partitioned shuffle round (one edge-scale exchange per
    round). localCheckpoint cuts lineage between rounds exactly like
    q95. Unlike q66 (connected components = min-label to fixpoint),
    mode-propagation finds DENSE regions, not mere reachability."""
    # One lazy localCheckpoint materializes the edge blocks on first
    # use; the {_LPA_ROUNDS} rounds then read executor-local blocks
    # instead of re-scanning + re-decoding the parquet store per round
    # (measured 200 MB cumulative scan input -> 25 MB at sf0.1). The
    # classic iterative-graph cache discipline (GraphX caches edges);
    # LogicalRDD preserves the store's dst partitioning, so rounds stay
    # exchange-free.
    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn(
        "lab", F.col("id")
    )
    for k in range(_LPA_ROUNDS):
        labels = (
            edges.join(F.broadcast(labels), edges.a == labels.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.mode("lab", True).alias("lab"))
        )
        # two rounds per checkpointed plan — same driver-chatter cut as
        # q95 (VERDICT r07 #5); the final rounds flow into the readout.
        if (k + 1) % 2 == 0 and k != _LPA_ROUNDS - 1:
            labels = labels.localCheckpoint(eager=True)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q260 — dedup savings report (cluster-size histogram + corpus shrinkage)
# ---------------------------------------------------------------------------


def _dedup_savings_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _SHINGLE_SQL

    return f"""
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts
                           FROM documents),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM tok WHERE len(ts) >= 3),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT d1, d2 FROM inter
              JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
              WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.8),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION SELECT d2, d1 FROM pairs),
    walk(id, root) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT e.b, least(w.root, e.b) FROM walk w JOIN edges e ON e.a = w.id
    ), comp AS (
      SELECT id AS doc_id, min(root) AS component FROM walk GROUP BY id
    ), toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), tagged AS (
      SELECT t.doc_id, t.n_tok, comp.component
      FROM toks t LEFT JOIN comp ON comp.doc_id = t.doc_id
    ), clusters AS (
      SELECT component, count(*) AS cl_size
      FROM tagged WHERE component IS NOT NULL GROUP BY component
    ), hist AS (
      SELECT cl_size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM clusters GROUP BY cl_size
    ), summary AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) - sum(CASE WHEN component IS NOT NULL THEN 1
                                      ELSE 0 END) AS BIGINT)
               + (SELECT CAST(count(*) AS BIGINT) FROM clusters)
               AS surviving_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM tagged
    )
    SELECT CAST(h.cl_size AS BIGINT) AS cl_size, h.n_clusters,
           s.n_docs, s.surviving_docs,
           round(1.0 - CAST(s.surviving_docs AS DOUBLE) / s.n_docs, 6)
             AS shrink_rate
    FROM hist h CROSS JOIN summary s
    ORDER BY cl_size
    """


@_q("q260_dedup_savings", _dedup_savings_oracle())
def q260_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup headline numbers: near-dup cluster SIZE histogram (how
    concentrated is duplication?) next to corpus shrinkage — docs
    before vs after keeping one survivor per cluster — the
    capacity-planning figure every dedup run reports before anyone
    approves deleting data.

    Composition: q39b's exact pair set closed under transitivity
    (q66's machinery), one cluster-size rollup, one histogram over the
    clusters-sized frame, and an exact survivors count
    (unclustered docs + one per cluster). The shrink rate is a single
    BIGINT/BIGINT division.
    """
    from nfl_predictions_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir)
    comp = connected_components(pairs, "d1", "d2").select(
        F.col("id").alias("doc_id"), "component"
    )
    toks = docs.select("doc_id")
    tagged = toks.join(comp, "doc_id", "left")
    clusters = (
        tagged.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("cl_size"))
    )
    hist = clusters.groupBy("cl_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    summary = tagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.when(F.col("component").isNull(), 1).otherwise(0))
        ).alias("unclustered"),
    ).crossJoin(clusters.agg(F.count(F.lit(1)).alias("n_clusters_total")))
    summary = summary.select(
        "n_docs",
        (F.col("unclustered") + F.col("n_clusters_total")).alias(
            "surviving_docs"
        ),
    )
    return (
        hist.crossJoin(F.broadcast(summary))
        .select(
            F.col("cl_size").cast("long"),
            F.col("n_clusters").cast("long"),
            F.col("n_docs").cast("long"),
            F.col("surviving_docs").cast("long"),
            F.round(
                1.0 - F.col("surviving_docs").cast("double") / F.col("n_docs"),
                6,
            ).alias("shrink_rate"),
        )
        .orderBy("cl_size")
    )


# ---------------------------------------------------------------------------
# q265 — hierarchical rollup (BOM-style recursive aggregation)
# ---------------------------------------------------------------------------


@_q(
    "q265_hierarchy_rollup",
    """
    WITH RECURSIVE pc AS (
      -- derived part taxonomy: parent = child // 10 (root = 0);
      -- every part carries its own retail price as node cost
      SELECT p_partkey AS node, p_partkey // 10 AS parent,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    ), up AS (
      -- climb from every node to each of its ancestors
      SELECT node, parent AS anc, cents FROM pc WHERE node > 0
      UNION ALL
      SELECT up.node, pc.parent, up.cents
      FROM up JOIN pc ON pc.node = up.anc WHERE up.anc > 0
    ), contrib AS (
      SELECT anc, cents FROM up
      UNION ALL
      SELECT node, cents FROM pc  -- every node contributes to itself
    ), agg AS (
      SELECT anc AS node, CAST(count(*) AS BIGINT) AS subtree_parts,
             CAST(sum(cents) AS BIGINT) AS subtree_cents
      FROM contrib GROUP BY anc
    )
    SELECT a.node, a.subtree_parts,
           CAST(a.subtree_cents AS DOUBLE) / 100.0 AS subtree_cost
    FROM agg a
    WHERE a.subtree_parts > 1
    ORDER BY a.subtree_parts DESC, a.node LIMIT 50
    """,
)
def q265_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (bill-of-materials / category-tree) rollup: every
    node's subtree part count and total cost, over a derived taxonomy
    (parent = partkey // 10 — a clean 10-ary tree with integer-cents
    node costs). The classic recursive aggregation org charts, BOMs,
    and category trees all need.

    Spark side runs the ITERATIVE climb: each round joins the frontier
    of (node, ancestor) pairs one level up — depth is log10(maxkey)
    (~6 rounds), each round one key-partitioned equi-join, lineage cut
    by localCheckpoint (the q95 loop shape). The oracle is the same
    climb as a recursive CTE. Costs are integer cents throughout, so
    subtree sums are exact at any depth.
    """
    from nfl_predictions_spark.sources.tables import table

    pc = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_partkey") / 10).cast("long").alias("parent"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    edges = pc.select("node", "parent").localCheckpoint(eager=True)
    # climb: (node, anc) pairs accumulated level by level
    frontier = pc.filter(F.col("node") > 0).select(
        "node", F.col("parent").alias("anc"), "cents"
    )
    all_up = frontier
    while True:
        frontier = (
            frontier.filter(F.col("anc") > 0)
            .join(
                edges.select(
                    F.col("node").alias("anc"), F.col("parent").alias("nxt")
                ),
                "anc",
            )
            .select("node", F.col("nxt").alias("anc"), "cents")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        all_up = all_up.unionByName(frontier)
    contrib = all_up.select(F.col("anc").alias("tgt"), "cents").unionByName(
        pc.select(F.col("node").alias("tgt"), "cents")
    )
    return (
        contrib.groupBy(F.col("tgt").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("subtree_parts"),
            F.sum("cents").alias("subtree_cents"),
        )
        .filter(F.col("subtree_parts") > 1)
        .select(
            "node",
            F.col("subtree_parts").cast("long"),
            (F.col("subtree_cents").cast("double") / 100.0).alias("subtree_cost"),
        )
        .orderBy(F.desc("subtree_parts"), F.asc("node"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q294 — k-core decomposition (iterative peeling to fixpoint)
# ---------------------------------------------------------------------------

_KCORE_K = 3  # classic 3-core
_KCORE_ROUNDS = 16  # unrolled bound; fixpoint asserted Spark-side


def _kcore_oracle() -> str:
    """Unrolled peel: each round keeps nodes whose degree within the
    surviving subgraph is >= k. Peeling is monotone (node sets only
    shrink) and idempotent at the fixpoint, so unrolling MORE rounds
    than convergence needs is harmless — both engines run the same
    {R} rounds; the Spark side additionally asserts the fixpoint was
    reached. Pure integer arithmetic, exact everywhere."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    iters = "".join(
        f""",
n{t} AS MATERIALIZED (
  SELECT e.src AS id FROM edges e
  JOIN n{t - 1} a ON e.src = a.id
  JOIN n{t - 1} b ON e.dst = b.id
  GROUP BY e.src HAVING count(*) >= {k}
)"""
        for t in range(1, rounds + 1)
    )
    return f"""
    WITH ep AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(DISTINCT a.l_orderkey) >= 2
    ),
    -- MATERIALIZED: every peel round references edges/n{{t-1}} twice;
    -- without it DuckDB inlines the whole upstream self-join per
    -- reference (exponential plan + file-handle exhaustion)
    edges AS MATERIALIZED (
      SELECT s AS src, t AS dst FROM ep UNION ALL SELECT t, s FROM ep),
    n0 AS (SELECT DISTINCT src AS id FROM edges){iters}
    SELECT e.src AS l_partkey, CAST(count(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN n{rounds} a ON e.src = a.id
    JOIN n{rounds} b ON e.dst = b.id
    GROUP BY e.src
    ORDER BY l_partkey
    """


@_q("q294_kcore", _kcore_oracle())
def q294_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition ({_KCORE_K}-core) of the repeat-co-purchase
    graph — the standard dense-subgraph primitive (community cores,
    spam/bot rings, influence backbones). The graph keeps only part
    pairs co-bought in >= 2 DISTINCT orders (the multiplicity filter
    makes degrees heterogeneous; the raw co-purchase graph is too
    uniform to have a non-trivial core), then iteratively peels nodes
    with in-subgraph degree < k until the node set stops shrinking.

    Distribution: each peel round is one join of the edge list against
    the surviving-node set on BOTH endpoints plus a per-source count —
    two broadcast joins (the node set only shrinks) and one
    map-combinable aggregate; lineage is cut per round. Peeling is
    monotone, so "two consecutive identical counts" is a sound
    convergence proof (scalar aggregate, no collect of the frame); the
    loop runs to the oracle's fixed {_KCORE_ROUNDS}-round bound and
    RAISES if the fixpoint was not reached — same contract both
    engines. Measured: 10 rounds at sf0.01, 1 at sf0.001.

    At 100 TB: the ep derivation is the co-purchase self-join
    (co-partitioned on l_orderkey, per-key-bounded fan-out); rounds <=
    max-degree but in practice O(10) for k near the degree median —
    and the surviving set shrinks geometrically, so later rounds are
    near-free."""
    import os

    from nfl_predictions_spark.state import atomic_stage, staged_path
    from nfl_predictions_spark.sources.tables import table

    # Repeat-co-purchase edge derivation staged once per fixture (the
    # neardup_pairs/copurchase_edges discipline): the lineitem
    # self-join + per-pair distinct-order count was re-running on
    # every CONSTRUCTION (~4 s of q294's bench time at sf0.1); the
    # peel loop below only ever needs the materialized edge list.
    out = staged_path(sf_dir, "repeat_copurchase", sources=("lineitem",))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        ep = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("t")
            )
            .agg(F.countDistinct("l_orderkey").alias("m"))
            .filter(F.col("m") >= 2)
            .select("s", "t")
        )
        atomic_stage(
            ep.select(F.col("s").alias("src"), F.col("t").alias("dst"))
            .unionByName(
                ep.select(F.col("t").alias("src"), F.col("s").alias("dst"))
            ),
            out,
        )
    edges = spark.read.parquet(out).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("id")).distinct()
    prev_count = nodes.count()
    converged = False
    # Two peel rounds per count probe (VERDICT r07 #5): peeling is
    # monotone and idempotent at the fixpoint, so equal counts two
    # rounds apart is still a sound convergence proof, at half the
    # driver jobs. +1 probe so a fixpoint reached exactly at the round
    # bound is still detected (the extra rounds peel nothing).
    for _ in range(_KCORE_ROUNDS // 2 + 1):
        for _inner in range(2):
            nodes = (
                edges.join(
                    F.broadcast(nodes.select(F.col("id").alias("sa"))),
                    F.col("src") == F.col("sa"),
                    "left_semi",
                )
                .join(
                    F.broadcast(nodes.select(F.col("id").alias("sb"))),
                    F.col("dst") == F.col("sb"),
                    "left_semi",
                )
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= _KCORE_K)
                .select(F.col("src").alias("id"))
            )
        nodes = nodes.localCheckpoint(eager=False)
        cur = nodes.count()
        if cur == prev_count:
            converged = True
            break
        prev_count = cur
    if not converged:
        raise RuntimeError(
            f"k-core did not converge within {_KCORE_ROUNDS} peel rounds"
        )
    return (
        edges.join(
            F.broadcast(nodes.select(F.col("id").alias("sa"))),
            F.col("src") == F.col("sa"),
            "left_semi",
        )
        .join(
            F.broadcast(nodes.select(F.col("id").alias("sb"))),
            F.col("dst") == F.col("sb"),
            "left_semi",
        )
        .groupBy(F.col("src").alias("l_partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# q315 — Adamic-Adar link prediction (common-neighbor recommendation)
# ---------------------------------------------------------------------------

_AA_DEG_CAP = 64  # hub cap: only wedge centers with degree <= cap emit pairs
_AA_OUT = 20


def _adamic_adar_oracle() -> str:
    return f"""
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b ON b.l_orderkey = a.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    ),
    e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
    ctr AS (SELECT z, d FROM deg WHERE d BETWEEN 2 AND {_AA_DEG_CAP}),
    wedge AS (
      SELECT e1.b AS u, e2.b AS v, c.d
      FROM e e1
      JOIN ctr c ON c.z = e1.a
      JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
    ),
    agg AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(round(1.0 / ln(d), 6) AS DECIMAL(18,6)))
                  AS DOUBLE) AS aa
      FROM wedge GROUP BY u, v
    ),
    cand AS (
      SELECT agg.u, agg.v, agg.n_common, agg.aa
      FROM agg LEFT JOIN e0 ON e0.a = agg.u AND e0.b = agg.v
      WHERE e0.a IS NULL
    )
    SELECT u, v, n_common, round(aa, 6) AS aa_score,
           CAST(row_number() OVER (ORDER BY round(aa, 6) DESC, u, v)
                AS BIGINT) AS rnk
    FROM cand
    ORDER BY round(aa, 6) DESC, u, v LIMIT {_AA_OUT}
    """


def _adamic_adar_candidates(e: DataFrame) -> DataFrame:
    """Adamic-Adar candidate scores from a symmetric, distinct,
    directed-both-ways edge list (columns a, b) — the wedge machinery
    behind q315, factored so the cap-binding test can drive it on a
    synthetic skewed graph.

    Shuffle discipline (VERDICT r09 #2): the previous shape joined
    the FULL edge list against itself on the wedge center, shuffling
    2 x |E| rows before the degree cap could prune anything — 594 MB
    at sf1, 465x across the decade, the one pair-proportional shuffle
    in the registry. Because the staged store is bucketed by dst and
    the graph is symmetric (both orientations present), grouping by
    ``b`` IS grouping by wedge center: degree, the cap filter, and
    the capped centers' neighbor lists all derive exchange-free from
    the bucketed scan, hubs are dropped BEFORE any neighbor list
    materializes (a hub's list is never collected, so the cap also
    bounds executor memory), and pairs explode map-side bounded by
    C(cap, 2) per center. The only shuffles left are the wedge-pair
    groupBy and the existing-edge anti-join — both data-proportional
    (~10x per decade, pinned in SCALING.md's grower table)."""
    deg = e.groupBy(F.col("b").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    ctr = deg.filter((F.col("d") >= 2) & (F.col("d") <= _AA_DEG_CAP))
    # co-bucketed join: e's dst bucketing and ctr's groupBy(b) hash
    # agree, so no exchange on either side
    capped = e.join(ctr, e["b"] == ctr["z"]).select(
        "z", "d", F.col("a").alias("n")
    )
    nbr = capped.groupBy("z", "d").agg(
        F.sort_array(F.collect_list("n")).alias("ns")
    )
    w = F.round(1.0 / F.log(F.col("d")), 6).cast("decimal(18,6)")
    # all u < v pairs of the (sorted, distinct, <= cap-sized) neighbor
    # list, map-side: for element i, pair it with everything after it
    pairs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda u, i: F.transform(
                F.slice(F.col("ns"), i + F.lit(2), F.size(F.col("ns"))),
                lambda v: F.struct(u.alias("u"), v.alias("v")),
            ),
        )
    )
    wedge = (
        nbr.select(w.alias("w"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w").cast("double").alias("aa"),
        )
    )
    existing = e.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    return wedge.join(existing, ["u", "v"], "left_anti")


def q315_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph: for
    part pairs NOT yet bought together, score by the common neighbors
    z, each weighted 1/ln(deg(z)) — rare shared neighbors say more
    than promiscuous ones. The top-{_AA_OUT} pairs are the "customers
    who bought these also bought..." candidates a recommender
    backfills, and the same wedge shape powers friend-of-friend
    suggestion everywhere.

    Scale: wedge enumeration is sum(deg(z)^2) — the triangle-count
    hazard — so wedge CENTERS are capped at degree {_AA_DEG_CAP} (the
    standard hub prune; 1/ln(deg) already discounts exactly the hubs
    the cap drops, so top-score candidates are insensitive to it).
    Degree, the cap filter, and the capped neighbor lists all come
    exchange-free off the dst-bucketed staged edge store (the graph
    is symmetric, so dst-grouping IS center-grouping); pairs explode
    map-side bounded by C(cap, 2) per center; the only shuffles are
    the (u, v) pair aggregation and the existing-edge anti-join, both
    data-proportional — see _adamic_adar_candidates. Per-wedge
    weights quantize to round-6 DECIMAL before summing, so
    cross-engine accumulation is exact.
    """
    e = copurchase_edges(spark, sf_dir)  # directed both ways, distinct
    cand = _adamic_adar_candidates(e)
    # Top-k FIRST via orderBy+limit (TakeOrderedAndProject: each
    # partition keeps its own top-{_AA_OUT}, the driver merges k-row
    # heaps — never a global sort), THEN rank the {_AA_OUT} survivors
    # with a window over that bounded frame. The previous global
    # row_number window pulled EVERY candidate pair into one partition
    # — the dominant cost at sf1 and a scale cliff (VERDICT r06 #6).
    wr = Window.orderBy(F.desc(F.round("aa", 6)), F.asc("u"), F.asc("v"))
    return (
        cand.orderBy(F.desc(F.round("aa", 6)), F.asc("u"), F.asc("v"))
        .limit(_AA_OUT)
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .select("u", "v", "n_common", F.round("aa", 6).alias("aa_score"), "rnk")
        .orderBy("rnk")
    )


QUERIES["q315_adamic_adar"] = q315_adamic_adar
ORACLE["q315_adamic_adar"] = _adamic_adar_oracle()
