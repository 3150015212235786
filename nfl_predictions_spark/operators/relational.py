"""Relational core — SURVEY.md §2B Q01-Q30.

Each query is a declarative DataFrame program (Catalyst handles
pushdown/pruning/join selection/AQE) paired with the ANSI-SQL oracle the
driver runs through DuckDB. Column names are aliased identically on both
sides; floating-point aggregates go through the exact-decimal helpers in
``functions.scalars`` so results are bit-stable under any partitioning
(see ``dsum`` docstring — this is what makes the engine's answers
reproducible on a 1000-executor cluster, not just on local[32]).

Reference parity notes are cited per query (``ref?`` column of
SURVEY.md §2B); e.g. Q16's lag-with-default is the reference's
``PlayType_lag`` derivation (reference ``assets/app_nfl.py`` comment map
and the verified §1.4 semantics), Q25's tie rule is
``assets/app_nfl.py:158``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark import state
from nfl_predictions_spark.functions.scalars import davg, dsum, month_day
from nfl_predictions_spark.schemas import TESTDATA_SCHEMAS
from nfl_predictions_spark.sources.tables import table

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
# Scans (Q01-Q02) — ref §2A#1 (CSV scan analogue)
# ---------------------------------------------------------------------------


@_q(
    "q01_scan_parquet",
    "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100",
)
def q01_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@_q("q02_scan_csv_schema", "SELECT * FROM region ORDER BY r_regionkey")
def q02_scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with an explicit StructType — the reference reads its
    fact table as a headerless untyped CSV (assets/app_nfl.py:42-62); the
    engine reads CSV with a declared schema, no inference scan."""
    out = state.staged_path(sf_dir, "region_csv", sources=("region",))
    state.atomic_stage(table(spark, sf_dir, "region").write.csv, out)
    return (
        spark.read.csv(out, schema=TESTDATA_SCHEMAS["region"], header=False)
        .orderBy("r_regionkey")
    )


# ---------------------------------------------------------------------------
# Projection / filter / limit-offset (Q03-Q05) — ref §2A#4, #28, #2
# ---------------------------------------------------------------------------


@_q(
    "q03_project_alias",
    "SELECT l_orderkey AS ok, l_extendedprice * (1 - l_discount) AS net "
    "FROM lineitem ORDER BY ok, net LIMIT 100",
)
def q03_project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ok"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        )
        .orderBy("ok", "net")
        .limit(100)
    )


@_q(
    "q04_filter_conjunctive",
    "SELECT count(*) AS cnt FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
)
def q04_filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped conjunctive filter; all three predicates push down
    to the parquet scan (asserted in tests via the explain plan)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.count("*").alias("cnt"))
    )


@_q("q05_limit_offset", "SELECT * FROM orders ORDER BY o_orderkey LIMIT 1 OFFSET 41")
def q05_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional row lookup — the reference's get_next_play cursor
    (assets/app_nfl.py:68-71) as ORDER BY + OFFSET/LIMIT."""
    return table(spark, sf_dir, "orders").orderBy("o_orderkey").offset(41).limit(1)


# ---------------------------------------------------------------------------
# Join suite (Q06-Q11)
# ---------------------------------------------------------------------------


@_q(
    "q06_join_broadcast",
    "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey "
    "ORDER BY n_name",
)
def q06_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim equi join with an explicit broadcast hint: at 100 TB the
    fact side never shuffles for a bounded dimension table."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_name", "r_name")
        .orderBy("n_name")
    )


@_q(
    "q07_join_shuffle_agg",
    "SELECT c_mktsegment, count(*) AS cnt, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment",
)
def q07_join_shuffle_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle equi join on the natural key + hash aggregate. Both sides
    shuffle on custkey once; the aggregation reuses partial (map-side)
    combine automatically."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("sum_price"))
        .orderBy("c_mktsegment")
    )


@_q(
    "q08_join_left_outer",
    "SELECT c_custkey, COALESCE(cnt, 0) AS order_cnt FROM customer "
    "LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) t "
    "ON c_custkey = o_custkey ORDER BY c_custkey",
)
def q08_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    per_cust = (
        table(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select("c_custkey", F.coalesce("cnt", F.lit(0)).alias("order_cnt"))
        .orderBy("c_custkey")
    )


@_q(
    "q09_join_semi",
    "SELECT c_custkey, c_name FROM customer "
    "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
    "ORDER BY c_custkey",
)
def q09_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_q(
    "q10_join_anti",
    "SELECT c_custkey, c_name FROM customer "
    "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
    "ORDER BY c_custkey",
)
def q10_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_q(
    "q11_join_theta",
    "SELECT count(*) AS cnt FROM lineitem l JOIN orders o "
    "ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate",
)
def q11_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + non-equi residual: Spark plans the equi part as a
    hash/sort-merge join and evaluates the range predicate as a join
    filter — no nested-loop blowup."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    return li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
    ).agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Aggregation (Q12-Q15)
# ---------------------------------------------------------------------------

_DEC = "DECIMAL(18,6)"


@_q(
    "q12_agg_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {_DEC})) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS {_DEC})) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) / count(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / count(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_discount AS {_DEC})) AS DOUBLE) / count(l_discount) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q12_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-measure hash aggregate over two grouping
    keys. All money math goes through exact decimal sums (order
    independent) and is returned as double."""
    from nfl_predictions_spark.sources.tables import spread

    # Project to the 6 aggregate inputs BEFORE the spread() round-robin
    # exchange (guide §2.3 "project before the exchange"): the explicit
    # repartition sits UNDER the partial aggregate, so it carries full
    # data rows — column pruning already narrowed them to the 7 columns
    # the query touches, and this projection drops the filter-only
    # l_shipdate from the exchange (measured round 12: shuffle write
    # 11.5 -> 10.6 MB at sf0.1; same rows, same aggregate — projection
    # commutes with a row-wise repartition). The structural 10 MB is
    # the spread() tradeoff itself, a no-op at real scale by its guard.
    li = spread(
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 6).alias("sum_qty"),
            dsum("l_extendedprice", 6).alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity", 6).alias("avg_qty"),
            davg("l_extendedprice", 6).alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q("q13_agg_distinct", "SELECT count(DISTINCT o_custkey) AS cnt_custs FROM orders")
def q13_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("cnt_custs")
    )


@_q(
    "q14_agg_approx_distinct",
    "SELECT count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_5pct FROM orders",
)
def q14_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch vs exact: the query certifies the approx
    answer lands within 5% (the sketch itself is engine-specific, so the
    oracle checks the certification, not the sketch value)."""
    return table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("exact_cnt"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.01)
                - F.countDistinct("o_custkey")
            )
            <= 0.05 * F.countDistinct("o_custkey")
        ).alias("within_5pct"),
    )


@_q(
    "q15_rollup",
    "SELECT COALESCE(r_name, '(all)') AS r_name, COALESCE(n_name, '(all)') AS n_name, "
    "count(*) AS cnt, CAST(GROUPING(r_name) AS INT) AS g_r, "
    "CAST(GROUPING(n_name) AS INT) AS g_n "
    "FROM nation JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY ROLLUP (r_name, n_name) ORDER BY g_r, g_n, r_name, n_name",
)
def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.grouping("r_name").cast("int").alias("g_r"),
            F.grouping("n_name").cast("int").alias("g_n"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("r_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            "cnt",
            "g_r",
            "g_n",
        )
        .orderBy("g_r", "g_n", "r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Windows (Q16-Q18) — Q16 is the reference's PlayType_lag (§2A#27)
# ---------------------------------------------------------------------------


@_q(
    "q16_window_lag_default",
    "SELECT event_id, user_id, event_type, "
    "COALESCE(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id), "
    "'FirstEvent') AS prev_event_type FROM events ORDER BY event_id",
)
def q16_window_lag_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reference semantics of PlayType_lag (SURVEY §1.4): previous
    row's type within the partition, first row defaulted to a sentinel.
    One shuffle on the partition key; sort within partitions only."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.lag("event_type", 1, "FirstEvent").over(w).alias("prev_event_type"),
        )
        .orderBy("event_id")
    )


@_q(
    "q17_window_rank",
    "SELECT c_mktsegment, o_orderkey, o_totalprice, rn, rk, drk FROM ("
    "  SELECT c_mktsegment, o_orderkey, o_totalprice, "
    "    row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk "
    "  FROM orders JOIN customer ON o_custkey = c_custkey "
    "  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey)"
    ") WHERE rn <= 3 ORDER BY c_mktsegment, rn",
)
def q17_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rk"),
            F.dense_rank().over(w).cast("long").alias("drk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


@_q(
    "q18_window_running_sum",
    "SELECT o_custkey, o_orderkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
    "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total "
    "FROM orders ORDER BY o_custkey, o_orderkey",
)
def q18_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Sort / top-k / set ops (Q19-Q22)
# ---------------------------------------------------------------------------


@_q(
    "q19_sort_multikey",
    "SELECT * FROM nation ORDER BY n_regionkey DESC, n_name ASC NULLS FIRST",
)
def q19_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "nation").orderBy(
        F.col("n_regionkey").desc(), F.col("n_name").asc_nulls_first()
    )


@_q(
    "q20_topk",
    "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def q20_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    a per-partition top-k then a driver merge of k*partitions rows, never
    a full global sort. This is the scalable form of the reference's
    argmax-of-2 (assets/app_nfl.py:158)."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "q21_union_all_counts",
    "SELECT nationkey, count(*) AS cnt FROM ("
    "  SELECT c_nationkey AS nationkey FROM customer "
    "  UNION ALL SELECT s_nationkey FROM supplier"
    ") GROUP BY nationkey ORDER BY nationkey",
)
def q21_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionAll(supp).groupBy("nationkey").agg(F.count("*").alias("cnt")).orderBy("nationkey")


@_q(
    "q21b_union_distinct",
    "SELECT c_nationkey AS nationkey FROM customer "
    "UNION SELECT s_nationkey FROM supplier ORDER BY nationkey",
)
def q21b_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.union(supp).distinct().orderBy("nationkey")


@_q(
    "q22_intersect",
    "SELECT c_nationkey AS nationkey FROM customer "
    "INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey",
)
def q22_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


@_q(
    "q22b_except",
    "SELECT c_nationkey AS nationkey FROM customer "
    "EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey",
)
def q22b_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp).orderBy("nationkey")


@_q(
    "q22c_except_all_counts",
    "SELECT nationkey, count(*) AS cnt FROM ("
    "  SELECT c_nationkey AS nationkey FROM customer "
    "  EXCEPT ALL SELECT s_nationkey FROM supplier"
    ") GROUP BY nationkey ORDER BY nationkey",
)
def q22c_except_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (removes one occurrence per match),
    aggregated to counts so the answer is order-free."""
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        cust.exceptAll(supp)
        .groupBy("nationkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Scalar library (Q23-Q28) — ref §2A#8-13
# ---------------------------------------------------------------------------


@_q(
    "q23_string_scalars",
    "SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 5)) AS name5, "
    "CONCAT(p_brand, '#', p_type) AS brand_type, "
    "LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4, "
    "(p_name LIKE '%bolt%') AS has_bolt "
    "FROM part ORDER BY p_partkey",
)
def q23_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.upper(F.substring("p_name", 1, 5)).alias("name5"),
            F.concat("p_brand", F.lit("#"), "p_type").alias("brand_type"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
            F.col("p_name").like("%bolt%").alias("has_bolt"),
        )
        .orderBy("p_partkey")
    )


@_q(
    "q24_date_scalars",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, "
    "CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start, "
    "CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since_95, "
    "CAST(CONCAT(CAST(month(o_orderdate) AS VARCHAR), "
    "LPAD(CAST(day(o_orderdate) AS VARCHAR), 2, '0')) AS INT) AS month_day "
    "FROM orders ORDER BY o_orderkey",
)
def q24_date_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction (ref sklearn_deployment/main.py:124-130) plus
    the reference month_day derivation (assets/app_nfl.py:263)."""
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_95"
            ),
            month_day("o_orderdate").alias("month_day"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "q25_math_conditional",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price_r2, "
    "GREATEST(o_totalprice, 100000.0) AS price_floor100k, "
    "CASE WHEN o_totalprice > o_totalprice THEN 'Passing Play' "
    "ELSE 'Running Play' END AS tie_play, "
    "CASE WHEN o_totalprice > 150000.0 THEN 'high' ELSE 'low' END AS bucket "
    "FROM orders ORDER BY o_orderkey",
)
def q25_math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/greatest/when-otherwise — the reference best-play rule with
    its tie-goes-to-second-arm semantics (assets/app_nfl.py:158; the
    tie_play column is the rule applied to equal operands, proving ties
    fall through to the otherwise branch)."""
    p = F.col("o_totalprice")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(p, 2).alias("price_r2"),
            F.greatest(p, F.lit(100000.0)).alias("price_floor100k"),
            F.when(p > p, F.lit("Passing Play"))
            .otherwise(F.lit("Running Play"))
            .alias("tie_play"),
            F.when(p > 150000.0, F.lit("high")).otherwise(F.lit("low")).alias("bucket"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "q26_array_collect",
    "SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS names_csv, "
    "count(*) AS n_nations, list_sort(list(n_name))[1] AS first_nation "
    "FROM nation JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name ORDER BY r_name",
)
def q26_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    sorted_names = F.sort_array(F.collect_list("n_name"))
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(sorted_names, ",").alias("names_csv"),
            F.count("*").alias("n_nations"),
            F.element_at(sorted_names, 1).alias("first_nation"),
        )
        .orderBy("r_name")
    )


@_q(
    "q27_json",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_value "
    "FROM events ORDER BY event_id",
)
def q27_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json decode of the events payload — the reference's JSON
    request parse (assets/app_nfl.py:288-297). The to_json round-trip is
    property-tested in tests/ (string formatting is engine-specific)."""
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.from_json("props", "k INT").getField("k").alias("k_value"),
        )
        .orderBy("event_id")
    )


@_q(
    "q28_cast_matrix",
    "SELECT o_orderkey, CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS rt_key, "
    "CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor, "
    "CAST(NULLIF(CASE WHEN o_orderstatus = 'O' THEN 'NA' "
    "ELSE CAST(o_custkey AS VARCHAR) END, 'NA') AS BIGINT) AS custkey_or_null, "
    "CAST(o_orderdate AS DATE) AS order_date, "
    "CAST(o_orderkey AS DOUBLE) AS key_dbl "
    "FROM orders ORDER BY o_orderkey",
)
def q28_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix incl. the reference's "NA" string sentinel -> NULL
    mapping (SURVEY §1.2: nulls are the literal string 'NA')."""
    na_col = F.when(F.col("o_orderstatus") == "O", F.lit("NA")).otherwise(
        F.col("o_custkey").cast("string")
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_orderkey").cast("string").cast("bigint").alias("rt_key"),
            F.floor("o_totalprice").cast("bigint").alias("price_floor"),
            F.nullif(na_col, F.lit("NA")).cast("bigint").alias("custkey_or_null"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderkey").cast("double").alias("key_dbl"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# UDF surface (Q29-Q30) — slow path, used only where built-ins can't
# ---------------------------------------------------------------------------

_MD_ORACLE = (
    "CAST(CONCAT(CAST(month(ts) AS VARCHAR), "
    "LPAD(CAST(day(ts) AS VARCHAR), 2, '0')) AS INT)"
)


@_q(
    "q29_udf_parity",
    f"SELECT event_id, {_MD_ORACLE} AS md_builtin, {_MD_ORACLE} AS md_py_udf, "
    f"{_MD_ORACLE} AS md_pandas_udf FROM events ORDER BY event_id",
)
def q29_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """month_day three ways: built-in expression (the hot path), a
    row-at-a-time Python UDF, and an Arrow-batched pandas UDF. All three
    must agree — and the built-in is what production plans use; the UDFs
    exist to prove the surface works, not to be the default."""
    from pyspark.sql.functions import pandas_udf, udf
    from pyspark.sql.types import IntegerType

    @udf(IntegerType())
    def md_py(dt):
        return dt.month * 100 + dt.day

    @pandas_udf(IntegerType())
    def md_pandas(s: pd.Series) -> pd.Series:
        return (s.dt.month * 100 + s.dt.day).astype("int32")

    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            month_day("ts").alias("md_builtin"),
            md_py("ts").alias("md_py_udf"),
            md_pandas("ts").alias("md_pandas_udf"),
        )
        .orderBy("event_id")
    )


@_q(
    "q30_grouped_normalize",
    "SELECT event_id, event_type, "
    "ROUND((value - avg(value) OVER (PARTITION BY event_type)) / "
    "stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z "
    "FROM events ORDER BY event_id",
)
def q30_grouped_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization via applyInPandas (grouped-map,
    Arrow-batched). The reference's sklearn scoring path (§2A#21) is the
    analogue: pandas compute appended as a column. At scale this is one
    shuffle on the group key; each group must fit in one executor's
    memory — acceptable for bounded-cardinality group keys."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["value"].mean()
        std = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": ((pdf["value"] - mean) / std).round(4),
            }
        )

    return (
        table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore, schema="event_id long, event_type string, z double")
        .orderBy("event_id")
    )


@_q("q30b_grouped_normalize_expr", ORACLE["q30_grouped_normalize"])
def q30b_grouped_normalize_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q30 z-score as pure window expressions — same answer, no
    Python in the path (measured ~6x faster than the grouped-map pandas
    form at sf0.1). q30 exists to exercise the applyInPandas surface;
    THIS is the form a production pipeline should prefer whenever the
    computation is expressible in Catalyst."""
    w = Window.partitionBy("event_type")
    z = F.round(
        (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w), 4
    )
    return (
        table(spark, sf_dir, "events")
        .select("event_id", "event_type", z.alias("z"))
        .orderBy("event_id")
    )


@_q(
    "q15b_cube",
    "SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag, "
    "COALESCE(l_linestatus, '(all)') AS l_linestatus, count(*) AS cnt, "
    "CAST(GROUPING(l_returnflag) AS INT) AS g_r, "
    "CAST(GROUPING(l_linestatus) AS INT) AS g_l "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) "
    "ORDER BY g_r, g_l, l_returnflag, l_linestatus",
)
def q15b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one pass (the rollup
    sibling of q15)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.grouping("l_returnflag").cast("int").alias("g_r"),
            F.grouping("l_linestatus").cast("int").alias("g_l"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "cnt",
            "g_r",
            "g_l",
        )
        .orderBy("g_r", "g_l", "l_returnflag", "l_linestatus")
    )


@_q(
    "q19b_sort_nulls",
    "SELECT n_nationkey, NULLIF(n_regionkey, 0) AS rk FROM nation "
    "ORDER BY rk DESC NULLS LAST, n_nationkey",
)
def q19b_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-ordering semantics over real nulls (the TESTDATA tables have
    none, so NULLIF manufactures them): DESC NULLS LAST + key tiebreak."""
    return (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk"))
        .orderBy(F.col("rk").desc_nulls_last(), F.col("n_nationkey").asc())
    )


@_q(
    "q26b_map_lookup",
    "SELECT n_name, CASE n_regionkey WHEN 0 THEN 'AFRICA-Z' WHEN 1 THEN 'AMERICA-Z' "
    "ELSE 'OTHER' END AS zone FROM nation ORDER BY n_name",
)
def q26b_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_from_arrays construction + element_at lookup with a default —
    the expression-level dictionary join (oracle expresses the same
    lookup as CASE; semantics identical)."""
    zone_map = F.map_from_arrays(
        F.array(F.lit(0), F.lit(1)),
        F.array(F.lit("AFRICA-Z"), F.lit("AMERICA-Z")),
    )
    return (
        table(spark, sf_dir, "nation")
        .select(
            "n_name",
            F.coalesce(
                F.element_at(zone_map, F.col("n_regionkey")), F.lit("OTHER")
            ).alias("zone"),
        )
        .orderBy("n_name")
    )
