"""Modern SQL surface (Spark 4.x): recursive CTEs, the VARIANT type,
SQL-defined UDFs, lateral joins, listagg, the native XML source, and
binary-file ingest.

These are the capabilities a reference-engine user upgrading in 2026
expects from a general-purpose engine beyond the classic relational
core (SURVEY §2B Q01-Q30): hierarchical/iterative queries without
driver-side loops, semi-structured data as a first-class column type,
user-defined logic that stays inside Catalyst (a SQL UDF inlines into
the plan — zero serialization cost, unlike Python UDFs, cf. the q29
parity query), and ingestion of XML documents and opaque binary blobs
(the on-ramp for the multimodal pipeline in ``operators/multimodal.py``).

Reference parity note: the reference app's only query surface is driver
code over a single CSV (assets/app_nfl.py:65) — everything here is
engine-added surface, inventoried in SURVEY §8.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_predictions_spark import state
from nfl_predictions_spark.sources.tables import register_views, table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Recursive CTE — iterative queries without a driver loop
# ---------------------------------------------------------------------------

@_q(
    "q72_recursive_cte",
    """
    WITH RECURSIVE months AS (
      SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS m,
             CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
      FROM orders
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi)
    SELECT m AS month, count(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,3))), 0) AS DOUBLE) AS total
    FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY m ORDER BY m
    """,
)
def q72_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4.x): generate the dense
    month calendar between the first and last order date *inside the
    plan* — no driver-side date loop — then left-join order counts so
    empty months appear as zeros (the set-based sibling of the streaming
    gap-fill in ``timeseries.q64_gap_fill``).

    Scale notes: the recursion materializes one row per month (trivial);
    the real work is the single shuffle of the monthly aggregate. The
    min/max bounds ride ALONG the recursion as a carried column —
    putting them in the step's WHERE as scalar subqueries re-plans the
    orders scan every iteration (measured 3.4x slower at 80 steps). The
    recursion depth limit (spark.sql.cte.recursion.level.limit, default
    100) bounds runaway anchors at the plan level.
    """
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        WITH RECURSIVE months AS (
          SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS m,
                 CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
          FROM orders
          UNION ALL
          SELECT add_months(m, 1), hi FROM months WHERE m < hi)
        SELECT m AS month, count(o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,3))), 0) AS DOUBLE) AS total
        FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m ORDER BY m
        """
    )


# ---------------------------------------------------------------------------
# VARIANT — semi-structured JSON as a first-class column type
# ---------------------------------------------------------------------------

@_q(
    "q73_variant_json",
    "SELECT event_type, count(*) AS cnt, "
    "CAST(sum(CAST(json_extract_string(props, 'k') AS INT)) AS BIGINT) AS k_sum, "
    "max(CAST(json_extract_string(props, 'k') AS INT)) AS k_max "
    "FROM events GROUP BY event_type ORDER BY event_type",
)
def q73_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT type (Spark 4.x): ``parse_json`` ingests the events
    ``props`` JSON string into a binary-encoded variant once, and
    ``variant_get`` extracts typed paths without re-parsing text per
    access. At 100 TB this is the schema-on-read path for heterogeneous
    event payloads: parse at ingest, store VARIANT in parquet, and every
    downstream path extraction is a cheap binary probe instead of a JSON
    parse (vs the fixed-schema ``from_json`` in relational.q27).
    """
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# SQL UDF — user logic that inlines into the Catalyst plan
# ---------------------------------------------------------------------------

_DEC = "DECIMAL(18,6)"


@_q(
    "q74_sql_udf",
    f"""
    SELECT l_returnflag,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS {_DEC})) AS DOUBLE) AS revenue,
      count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q74_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDF (CREATE FUNCTION ... RETURN expr, Spark 4.x):
    ``revenue(p, d)`` is declared once in SQL and *inlines* into the
    Catalyst plan — whole-stage codegen sees ``p * (1 - d)`` directly,
    so unlike a Python UDF (q29's measured-parity slow path) it costs
    nothing: no serialization boundary, predicate pushdown and codegen
    fusion still apply. The oracle inlines the same expression, which is
    exactly what Catalyst does.
    """
    register_views(spark, sf_dir, ["lineitem"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION revenue(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0d - d)"
    )
    return spark.sql(
        f"""
        SELECT l_returnflag,
          CAST(SUM(CAST(revenue(l_extendedprice, l_discount) AS {_DEC})) AS DOUBLE) AS revenue,
          count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Lateral join — per-row correlated subquery (top-k per group in SQL)
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT r_name, n.n_name, n.total_bal FROM region r,
    LATERAL (SELECT n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
             FROM nation JOIN customer ON c_nationkey = n_nationkey
             WHERE n_regionkey = r.r_regionkey GROUP BY n_name
             ORDER BY total_bal DESC, n_name LIMIT 2) n
    ORDER BY r_name, total_bal DESC, n_name
"""


@_q("q75_lateral_join", _LATERAL_SQL)
def q75_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: for each region, the top-2 nations
    by total customer balance — the per-row-subquery formulation of
    top-k-per-group (the window-rank formulation is q17/q20). The same
    SQL text runs on Spark and the oracle. Catalyst decorrelates the
    lateral into a join + window plan rather than re-executing the
    subquery per outer row, so this scales with data size, not with
    outer-row count.
    """
    register_views(spark, sf_dir, ["region", "nation", "customer"])
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# listagg — ordered string aggregation (SQL:2016, Spark 4.x)
# ---------------------------------------------------------------------------

@_q(
    "q76_listagg",
    "SELECT o_orderstatus, string_agg(pri, ',' ORDER BY pri) AS priorities, "
    "CAST(count(*) AS INT) AS n_priorities FROM "
    "(SELECT DISTINCT o_orderstatus, o_orderpriority AS pri FROM orders) "
    "GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q76_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``listagg(DISTINCT ...) WITHIN GROUP (ORDER BY ...)`` (SQL:2016,
    Spark 4.x): the distinct order priorities seen per order status as
    one deterministic comma-joined string. The explicit WITHIN GROUP
    order makes the output canonical (collect_list alone is partition-
    order-dependent — cf. q26/q61, which sort post-hoc). DuckDB spells
    the distinct-ordered form as an aggregate over a DISTINCT subquery.
    Engine workaround, pinned in tests/test_modern.py: as of Spark
    4.1.2 combining ``listagg(DISTINCT) WITHIN GROUP`` with a second
    distinct aggregate in one SELECT throws a SortOrder
    ClassCastException (the distinct-rewrite mangles the sort key), so
    the distinct lands in a subquery — which is also the one DuckDB can
    run verbatim.
    """
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        "SELECT o_orderstatus, "
        "listagg(pri, ',') WITHIN GROUP (ORDER BY pri) AS priorities, "
        "CAST(count(*) AS INT) AS n_priorities FROM "
        "(SELECT DISTINCT o_orderstatus, o_orderpriority AS pri FROM orders) "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


# ---------------------------------------------------------------------------
# Native XML source (Spark 4.x) — document-format round trip
# ---------------------------------------------------------------------------

@_q(
    "q77_xml_roundtrip",
    "SELECT p_brand, count(*) AS cnt, "
    "CAST(ROUND(sum(CAST(p_retailprice AS DECIMAL(18,3))), 3) AS DOUBLE) AS total "
    "FROM part GROUP BY p_brand ORDER BY p_brand",
)
def q77_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source (built into Spark 4.x — no external package):
    sink the part table as XML documents, read them back with the
    original schema pinned (inference would widen ints), and aggregate.
    The oracle aggregates the *original* parquet — equality certifies
    the XML sink/source round-trips this schema losslessly. XML scans
    split per-file, so at scale many small documents parallelize
    naturally; the rowTag framing is what makes each record
    independently parseable.
    """
    src = table(spark, sf_dir, "part")
    out = state.staged_path(sf_dir, "xml_roundtrip", sources=("part",))
    state.atomic_stage(src.write.format("xml").option("rowTag", "part").save, out)
    back = spark.read.format("xml").option("rowTag", "part").schema(src.schema).load(out)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("p_retailprice").cast("decimal(18,3)")), 3)
            .cast("double")
            .alias("total"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# binaryFile source — opaque-blob ingest (multimodal on-ramp)
# ---------------------------------------------------------------------------

_BLOB_DOCS = 64  # docs staged as standalone binary files


@_q(
    "q78_binary_ingest",
    f"""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           left(text, 4) AS head
    FROM documents WHERE doc_id < {_BLOB_DOCS} ORDER BY doc_id
    """,
)
def q78_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source: ingest files as (path, length, content)
    rows — the on-ramp that turns a directory of images/audio/video
    into a DataFrame with an opaque ``binary`` column for the
    multimodal pipeline (operators/multimodal.py consumes exactly this
    shape). The first {_BLOB_DOCS} documents are staged (once, source-
    fingerprinted) as one UTF-8 .bin file each, read back through
    binaryFile, and the per-file metadata + a content probe are checked
    against the documents table itself — so the driver verifies the
    whole blob path VALUE-exactly (promoted from rows-only, VERDICT r05
    #8): byte length must equal the text's UTF-8 octet length and the
    decoded blob's first 4 CHARACTERS must equal left(text, 4) — the
    whole blob is decoded before slicing so a multi-byte codepoint in
    the head can never be split (ADVICE r06 #1).
    At scale: one task per file, metadata-only pruning via
    pathGlobFilter/modifiedAfter, recursiveFileLookup for partitioned
    layouts.
    """
    out = state.staged_path(sf_dir, "doc_blobs", sources=("documents",))

    def write(tgt: str) -> None:
        os.makedirs(tgt)
        rows = (
            table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < _BLOB_DOCS)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(tgt, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))
        open(os.path.join(tgt, "_SUCCESS"), "w").close()

    state.atomic_stage(write, out)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            # Take 4 CHARACTERS — matching the oracle's left(text, 4)
            # (ADVICE r06 #1: a raw 4-BYTE slice could split a
            # multi-byte codepoint). Decoding is bounded to the first
            # 16 bytes: 4 characters occupy at most 16 UTF-8 bytes, so
            # a codepoint truncated at byte 16 can only perturb
            # character positions >= 5, which the slice discards.
            F.substring(
                F.decode(F.substring(F.col("content"), 1, 16), "UTF-8"), 1, 4
            ).alias("head"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# pandas API on Spark — the DataFrame dialect pandas users arrive with
# ---------------------------------------------------------------------------

@_q(
    "q85_pandas_api",
    "SELECT o_orderstatus, count(*) AS cnt, "
    "CAST(sum(o_orderkey) AS BIGINT) AS key_sum, "
    "max(o_totalprice) AS max_price FROM orders "
    "GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q85_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (``pyspark.pandas``): the same groupby-agg a
    pandas user would write, executing as distributed Spark plans — the
    migration path for the reference's driver-side pandas habits
    (assets/app_nfl.py holds its whole dataset in driver memory; a psdf
    never does). ``.to_spark()`` hands the result back to the SQL
    engine, so the pandas dialect composes with every other operator
    here. Aggregates chosen exact-by-construction (counts, long sums,
    max), so no float-summation tolerance is needed."""
    psdf = table(spark, sf_dir, "orders").pandas_api()
    out = (
        psdf.groupby("o_orderstatus")
        .agg(
            cnt=("o_orderkey", "count"),
            key_sum=("o_orderkey", "sum"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
    )
    return (
        out.to_spark()
        .select(
            "o_orderstatus",
            F.col("cnt").cast("long"),
            "key_sum",
            "max_price",
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# approx_top_k — heavy-hitters sketch (Spark 4.x)
# ---------------------------------------------------------------------------

@_q(
    "q86_approx_top_k",
    "SELECT event_type, cnt FROM ("
    "  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"
    ") ORDER BY cnt DESC, event_type LIMIT 3",
)
def q86_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via ``approx_top_k`` (Spark 4.x): one pass, one
    fixed-size frequency sketch per partition merged at the driver — at
    100 TB this answers "top URLs / tokens / error codes" without the
    full groupBy shuffle a naive count-and-sort needs. Here the sketch
    tracks more slots (10k) than the column has distinct values (5), so
    its counts are EXACT and the plain top-k SQL is a full value oracle,
    not just a tolerance certificate. Re-sorted on (cnt, item) because
    the sketch's own output order is unspecified under count ties."""
    register_views(spark, sf_dir, ["events"])
    return (
        spark.sql(
            "SELECT inline(approx_top_k(event_type, 3)) "
            "AS (event_type, cnt) FROM events"
        )
        .orderBy(F.desc("cnt"), F.asc("event_type"))
    )


# ---------------------------------------------------------------------------
# SQL conveniences: GROUP BY ALL / ORDER BY ALL / IDENTIFIER()
# ---------------------------------------------------------------------------

@_q(
    "q88_group_by_all",
    "SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, "
    "count(*) AS cnt FROM events GROUP BY ALL ORDER BY ALL",
)
def q88_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (adopted from DuckDB by Spark 3.4+ —
    the same text runs on both engines verbatim) plus IDENTIFIER(): the
    table name arrives as a parameter but cannot smuggle SQL in (it
    parses as an identifier, not as text) — the safe form of the
    string-formatted query the reference pushes through Livy
    (assets/app_nfl.py:188-194 interpolates user payloads straight into
    code)."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, "
        "count(*) AS cnt FROM IDENTIFIER(:tbl) GROUP BY ALL ORDER BY ALL",
        args={"tbl": "events"},
    )


@_q(
    "q89_nullsafe_join",
    """
    WITH e AS (SELECT event_id, user_id, nullif(event_type, 'view') AS et FROM events)
    SELECT a.et, count(*) AS pair_cnt FROM e a JOIN e b
    ON a.et IS NOT DISTINCT FROM b.et AND a.user_id = b.user_id AND a.event_id < b.event_id
    GROUP BY a.et ORDER BY a.et NULLS FIRST
    """,
)
def q89_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics you want
    when "unknown" is a real category (here: 'view' events nulled out,
    then same-user same-category pairs counted). Executes as a regular
    hash join on the null-safe key, not a nested loop; without it, NULL
    groups silently drop from inner joins and counts understate."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.nullif("event_type", F.lit("view")).alias("et")
    )
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            F.col("a.et").eqNullSafe(F.col("b.et"))
            & (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .groupBy(F.col("a.et").alias("et"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .orderBy(F.asc_nulls_first("et"))
    )


# ---------------------------------------------------------------------------
# Collations (Spark 4.x) — engine-level comparison semantics
# ---------------------------------------------------------------------------

@_q(
    "q99_collation",
    """
    WITH mutated AS (
      SELECT p_brand, CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                           ELSE p_name END AS name
      FROM part
    )
    SELECT p_brand, count(DISTINCT name) AS n_raw,
           count(DISTINCT lower(name)) AS n_ci
    FROM mutated GROUP BY p_brand ORDER BY p_brand
    """,
)
def q99_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level collations (Spark 4.x): after deterministically
    SHOUTING half the part names, count distinct names byte-wise vs
    under ``UTF8_LCASE`` — the collation makes equality, GROUP BY,
    DISTINCT and joins case-insensitive *inside the engine* (hash and
    sort keys are collation keys), instead of wrapping every column in
    lower() at every use site (which breaks predicate pushdown on the
    original column and is exactly what the oracle has to do, DuckDB
    collations being column-level)."""
    mutated = table(spark, sf_dir, "part").select(
        "p_brand",
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name"))
        .otherwise(F.col("p_name"))
        .alias("name"),
    )
    return (
        mutated.groupBy("p_brand")
        .agg(
            F.count_distinct("name").alias("n_raw"),
            F.count_distinct(F.collate("name", "UTF8_LCASE")).alias("n_ci"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions — lambdas inside the engine
# ---------------------------------------------------------------------------

@_q(
    "q102_higher_order_funcs",
    """
    WITH per_user AS (
      SELECT user_id, list(value ORDER BY event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
      CAST(len(list_filter(vals, x -> x > 100)) AS INT) AS n_big,
      ROUND(list_aggregate(list_transform(vals, x -> x * x), 'sum'), 4) AS sum_sq,
      CAST(len(vals) > 0 AND len(list_filter(vals, x -> x < 0)) = 0 AS BOOLEAN)
        AS all_nonneg,
      CAST(len(list_filter(vals, x -> x > 190)) > 0 AS BOOLEAN) AS any_huge
    FROM per_user ORDER BY user_id
    """,
)
def q102_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over array columns — ``filter``,
    ``transform``, ``aggregate``, ``forall``, ``exists`` with real
    lambdas evaluated INSIDE the engine (both engines bind x per
    element; no UDF, no explode-regroup round trip). The collect uses an
    explicit ORDER BY so the array is canonical, and the fold goes
    through decimal-free doubles rounded at the end: the lambda chain is
    the same expression tree in both engines, so 4 decimals is safe.
    Per NOTES.md, Spark evaluates these lambdas interpreted (outside
    codegen) — fine at per-user array sizes; hot paths belong on the
    exploded form (cf. dedup.shingle_rows)."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("event_id", "value"))
        ).alias("pairs")
    ).select(
        "user_id",
        F.expr("transform(pairs, p -> p.value)").alias("vals"),
    )
    return per_user.select(
        "user_id",
        F.size(F.filter("vals", lambda x: x > 100)).alias("n_big"),
        F.round(
            F.aggregate(
                F.transform("vals", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("sum_sq"),
        F.forall("vals", lambda x: x >= 0).alias("all_nonneg"),
        F.exists("vals", lambda x: x > 190).alias("any_huge"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# SQL session variables + SQL scripting (Spark 4.x)
# ---------------------------------------------------------------------------

@_q(
    "q103_sql_variables",
    "SELECT o_orderstatus, count(*) AS cnt FROM orders "
    "WHERE o_totalprice > 150000.0 GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q103_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VAR): the threshold lives in
    the session, not spliced into the query text — the parameterization
    idiom for dashboards and repeated jobs (same plan cache key, no
    string formatting, no injection surface; cf. IDENTIFIER() in q88 for
    names). The oracle inlines the constant, which is exactly what the
    variable resolves to at plan time."""
    register_views(spark, sf_dir, ["orders"])
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_floor = 150000.0")
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS cnt FROM orders "
        "WHERE o_totalprice > price_floor "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@_q(
    "q104_sql_scripting",
    "SELECT count(*) AS total_orders, CAST(5 AS INT) AS n_rounds FROM orders",
)
def q104_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (BEGIN..END with DECLARE/WHILE, Spark 4.x):
    procedural control flow executes ON the engine — the loop below
    accumulates the order count in 5 residue-class passes and must land
    exactly on the plain count(*) the oracle computes. The use case is
    migration of stored-procedure-style workloads; each statement in the
    script is still a full Catalyst-optimized query, so data volume per
    iteration scales like any other query (it's the ITERATION COUNT that
    must stay small — same rule as q95's PageRank rounds)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE acc BIGINT DEFAULT 0;
          WHILE i < 5 DO
            SET acc = acc +
              (SELECT count(*) FROM orders WHERE o_orderkey % 5 = i);
            SET i = i + 1;
          END WHILE;
          SELECT acc AS total_orders, i AS n_rounds;
        END
        """
    )


# ---------------------------------------------------------------------------
# q187 — SQL pipe syntax (Spark 4 |> operator chains)
# ---------------------------------------------------------------------------


@_q(
    "q187_sql_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q187_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax: the same logical plan as classic SQL,
    written as a |> operator chain (FROM ... |> WHERE ... |> AGGREGATE
    ... GROUP BY ... |> ORDER BY). Piped stages resolve top-to-bottom —
    the reading order a query author thinks in — and Catalyst compiles
    them to the identical plan, so this is pure surface parity: the
    oracle is the classic formulation.
    """
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS rev
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n, rev
        |> ORDER BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# q188 — lateral column aliases + parameterized SQL
# ---------------------------------------------------------------------------

_Q188_MIN_PRICE = 150000.0


@_q(
    "q188_lateral_alias_params",
    f"""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.07, 2) AS DOUBLE)
             AS tax,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                 + round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.07, 2), 2)
                AS DOUBLE) AS gross
    FROM orders WHERE o_totalprice > {_Q188_MIN_PRICE}
    ORDER BY o_orderkey
    """,
)
def q188_lateral_alias_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases + named-parameter SQL (Spark 4 surface):
    ``tax`` is defined from ``price`` and ``gross`` from BOTH earlier
    aliases in the same SELECT — no subquery nesting — and the filter
    threshold arrives as a typed named parameter (:min_price), the
    injection-safe alternative to string interpolation (the reference
    interpolates user payloads straight into codegen'd strings,
    assets/app_nfl.py:188-194 — this is the engine's counterpart done
    right). DECIMAL keeps tax/gross exact; the oracle spells out the
    expansion the lateral aliases imply.
    """
    register_views(spark, sf_dir, ["orders"])
    df = spark.sql(
        """
        SELECT o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price_d,
               CAST(price_d AS DOUBLE) AS price,
               CAST(round(price_d * 0.07, 2) AS DOUBLE) AS tax,
               CAST(round(price_d + round(price_d * 0.07, 2), 2) AS DOUBLE)
                 AS gross
        FROM orders WHERE o_totalprice > :min_price
        ORDER BY o_orderkey
        """,
        args={"min_price": _Q188_MIN_PRICE},
    )
    return df.drop("price_d")


# ---------------------------------------------------------------------------
# q222 — mapInArrow partial aggregation (the 4th Python UDF shape)
# ---------------------------------------------------------------------------


@_q(
    "q222_map_in_arrow",
    "SELECT l_returnflag AS flag, "
    "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)"
    " / 100.0 AS sum_price, "
    "CAST(count(*) AS BIGINT) AS cnt "
    "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
)
def q222_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the lowest-level Python UDF surface (raw
    pyarrow RecordBatches, no pandas conversion), completing the UDF
    coverage next to scalar q29, grouped-map q30, GROUPED_AGG q189 and
    mapInPandas q43: each batch collapses to per-flag partial sums
    inside Python, and a final flag-keyed groupBy merges the partials —
    the hand-rolled map-side-combine every custom Arrow kernel needs,
    because batch boundaries are nondeterministic and only
    batch-ASSOCIATIVE outputs are reproducible. Money is integer cents
    (computed JVM-side before the batch crosses to Python), so the
    Python partials merge into the exact DECIMAL-class answer the
    oracle computes; the shuffle carries <= 3 rows per batch.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    src = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            grouped = tbl.group_by("flag").aggregate(
                [("cents", "sum"), ("cents", "count")]
            )
            yield from pa.Table.from_arrays(
                [
                    grouped["flag"].combine_chunks(),
                    grouped["cents_sum"].combine_chunks(),
                    pc.cast(grouped["cents_count"].combine_chunks(), pa.int64()),
                ],
                names=["flag", "s", "n"],
            ).to_batches()

    return (
        src.mapInArrow(partials, schema="flag string, s long, n long")
        .groupBy("flag")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select(
            "flag",
            (F.col("s").cast("double") / 100.0).alias("sum_price"),
            F.col("n").cast("long").alias("cnt"),
        )
        .orderBy("flag")
    )
