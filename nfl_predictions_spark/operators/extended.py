"""Extended relational surface beyond SURVEY §2B's minimum: pivot /
unpivot, exact percentiles, scalar subqueries, the raw-SQL entry point,
and partitioned writes with partition pruning — the remaining API a
user of a general-purpose engine reaches for daily.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
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


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_q(
    "q44_pivot",
    "SELECT user_id, "
    + ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS {t}_cnt" for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id ORDER BY user_id",
)
def q44_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user with an explicit value list (the
    unlisted-values form needs a driver-side distinct pass — always pin
    the list when the domain is known)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"{t}_cnt") for t in _EVENT_TYPES],
        )
        .orderBy("user_id")
    )


@_q(
    "q44b_unpivot",
    "SELECT r_regionkey, 'name_len' AS metric, CAST(length(r_name) AS DOUBLE) AS val "
    "FROM region UNION ALL "
    "SELECT r_regionkey, 'key_x10' AS metric, CAST(r_regionkey * 10 AS DOUBLE) FROM region "
    "ORDER BY r_regionkey, metric",
)
def q44b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) via the native unpivot operator."""
    wide = table(spark, sf_dir, "region").select(
        "r_regionkey",
        F.length("r_name").cast("double").alias("name_len"),
        (F.col("r_regionkey") * 10).cast("double").alias("key_x10"),
    )
    return wide.unpivot(
        "r_regionkey", ["name_len", "key_x10"], "metric", "val"
    ).orderBy("r_regionkey", "metric")


@_q(
    "q45_percentiles",
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, "
    "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, "
    "round(quantile_cont(l_extendedprice, 0.99), 6) AS p99 "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q45_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles via the histogram-narrowed rank
    select (q183/_rank_select_values discipline, per-group form): ONE
    codegen'd (flag, price-bucket) count aggregate, a prefix sum over
    the bounded per-flag bucket frame, then only the <=6 target
    buckets' rows are re-ranked within their bucket — global rank =
    bucket offset + local row_number, and the interpolated percentile
    is (ceil(pos)-pos)*v_floor + (pos-floor(pos))*v_ceil at
    pos = p*(n-1), the exact formula the builtin `percentile`
    aggregate evaluates (verified bit-equal). The builtin this
    replaces is a row-at-a-time ImperativeAggregate that buffers
    EVERY group value in one task's memory — the classic exact-
    percentile scale hazard; this shape keeps every stage bucket- or
    group-partitioned with nothing data-sized in any single buffer
    (measured 1.8 -> ~0.7 s at sf0.1)."""
    _W = 64  # price-bucket width: ~1.6k buckets over the price span
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("v")
    )
    bkt = F.floor(F.col("v") / _W).cast("long")
    cnts = li.groupBy("l_returnflag", bkt.alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = Window.partitionBy("l_returnflag")
    offs = cnts.select(
        "l_returnflag",
        "b",
        "c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("cum_below"),
        F.sum("c").over(wn).alias("n"),
    )
    pcts = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    rank_cols = []
    for name, p in pcts.items():
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        rank_cols += [
            (F.floor(pos) + 1).cast("long").alias(f"__klo_{name}"),
            (F.ceil(pos) + 1).cast("long").alias(f"__khi_{name}"),
        ]
    offs = offs.select("l_returnflag", "b", "c", "cum_below", "n", *rank_cols)
    hit = F.lit(False)
    for name in pcts:
        for side in ("klo", "khi"):
            k = F.col(f"__{side}_{name}")
            hit = hit | (
                (k > F.col("cum_below")) & (k <= F.col("cum_below") + F.col("c"))
            )
    targets = offs.filter(hit)
    cand = li.join(
        F.broadcast(targets.drop("c")),
        (li.l_returnflag == targets.l_returnflag) & (bkt == F.col("b")),
    ).drop(targets.l_returnflag)
    wr = Window.partitionBy("l_returnflag", "b").orderBy("v")
    ranked = cand.withColumn(
        "__grank", F.col("cum_below") + F.row_number().over(wr)
    )
    aggs = [F.any_value("n").alias("n")]
    for name in pcts:
        for side in ("klo", "khi"):
            aggs.append(
                F.max(
                    F.when(
                        F.col("__grank") == F.col(f"__{side}_{name}"), F.col("v")
                    )
                ).alias(f"__v{side}_{name}")
            )
    got = ranked.groupBy("l_returnflag").agg(*aggs)
    outs = ["l_returnflag"]
    for name, p in pcts.items():
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        vlo, vhi = F.col(f"__vklo_{name}"), F.col(f"__vkhi_{name}")
        interp = F.when(F.ceil(pos) == F.floor(pos), vlo).otherwise(
            (F.ceil(pos).cast("double") - pos) * vlo
            + (pos - F.floor(pos).cast("double")) * vhi
        )
        outs.append(F.round(interp, 6).alias(name))
    return got.select(*outs).orderBy("l_returnflag")


@_q(
    "q46_scalar_subquery",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders) "
    "ORDER BY o_orderkey",
)
def q46_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a filter. Expressed through the
    SQL API so Catalyst plans the subquery (a broadcast of one value),
    not a driver-side collect."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders) "
        "ORDER BY o_orderkey"
    )


@_q(
    "q47_sql_api",
    "SELECT n_name, count(*) AS cnt, "
    "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n_name",
)
def q47_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL entry point over registered views — the engine's second
    query language (same Catalyst plans as the DataFrame API)."""
    register_views(spark, sf_dir, ["customer", "nation"])
    return spark.sql(
        "SELECT n_name, count(*) AS cnt, "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name"
    )


def events_by_day_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once) the events table re-partitioned by event date —
    the layout that enables static and dynamic partition pruning."""
    out = state.staged_path(sf_dir, "events_by_day")
    state.atomic_stage(
        table(spark, sf_dir, "events")
        .withColumn("event_date", F.col("ts").cast("date"))
        .write.partitionBy("event_date")
        .parquet,
        out,
    )
    return out



@_q(
    "q48_partition_pruned_scan",
    "SELECT CAST(count(*) AS BIGINT) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'",
)
def q48_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event date, then aggregate one day:
    the filter prunes to a single partition directory (asserted on the
    plan in tests) — the layout decision that matters most at 100 TB."""
    out = events_by_day_path(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_date") == F.lit("2024-01-05").cast("date"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


@_q(
    "q49_json_source",
    "SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events "
    "ORDER BY event_id",
)
def q49_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines round-trip with an explicit schema (no inference scan):
    write a projection of events as JSONL, read it back typed."""
    out = state.staged_path(sf_dir, "events_json")
    state.atomic_stage(
        table(spark, sf_dir, "events").select("event_id", "event_type", "value").write.json,
        out,
    )
    return (
        spark.read.json(out, schema="event_id long, event_type string, value double")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@_q(
    "q50_exists_agg_having",
    "SELECT c_mktsegment, count(*) AS n_big_customers FROM customer "
    "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "GROUP BY o_custkey HAVING count(*) >= 12) "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment",
)
def q50_exists_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS over an aggregated subquery (decorrelated by
    Catalyst into an aggregate + semi join)."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        "SELECT c_mktsegment, count(*) AS n_big_customers FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "GROUP BY o_custkey HAVING count(*) >= 12) "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )


@_q(
    "q49b_orc_source",
    "SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events "
    "ORDER BY event_id",
)
def q49b_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: the second columnar format Spark ships natively
    (predicate pushdown + vectorized read, same as parquet)."""
    out = state.staged_path(sf_dir, "events_orc")
    state.atomic_stage(
        table(spark, sf_dir, "events").select("event_id", "event_type", "value").write.orc,
        out,
    )
    return (
        spark.read.orc(out)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@_q(
    "q54_python_udtf",
    "SELECT word, count(*) AS cnt, CAST(max(wlen) AS INT) AS max_len FROM ("
    "  SELECT unnest(string_split(text, ' ')) AS word, "
    "         length(unnest(string_split(text, ' '))) AS wlen FROM documents"
    ") GROUP BY word ORDER BY word",
)
def q54_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, Spark 4 API): one input row fans out
    to N output rows through an arbitrary Python generator — the escape
    hatch for row-expanding logic the built-ins can't express. (This
    particular expansion IS expressible as explode/split — which is
    exactly what the oracle does — so the UDTF's answer is checkable;
    production code should prefer the built-in, per the UDF policy.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, wlen int")
    class ExplodeWords:
        def eval(self, text: str):
            if text:
                for w in text.split(" "):
                    yield w, len(w)

    spark.udtf.register("explode_words", ExplodeWords)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "SELECT word, count(*) AS cnt, CAST(max(wlen) AS INT) AS max_len "
        "FROM documents, LATERAL explode_words(text) "
        "GROUP BY word ORDER BY word"
    )


@_q(
    "q55_merge_upsert",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
             o_orderpriority, 2 AS version
      FROM orders WHERE o_orderkey % 7 = 0
    ), base AS (
      SELECT *, 1 AS version FROM orders
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC)
        AS rn FROM unioned
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE version = 2) AS BIGINT) AS n_updated,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM ranked WHERE rn = 1
    """,
)
def q55_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation without a lakehouse format: union base +
    updates with a version column, keep the latest row per key via a
    window rank. This is the engine's batch upsert primitive — at scale,
    pair it with partition-overwrite writes so only partitions touched
    by updates rewrite. Returns merge summary stats (row count, updated
    count, exact total)."""
    from pyspark.sql import Window

    base = table(spark, sf_dir, "orders").withColumn("version", F.lit(1))
    updates = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("version", F.lit(2))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("version") == 2, 1)).alias("n_updated"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@_q(
    "q56_window_ranks",
    "SELECT o_orderkey, o_orderpriority, "
    "CAST(ntile(4) OVER w AS INT) AS tile, "
    "ROUND(percent_rank() OVER w, 6) AS prk, "
    "ROUND(cume_dist() OVER w, 6) AS cd "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) "
    "ORDER BY o_orderkey",
)
def q56_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (ntile / percent_rank /
    cume_dist) with a unique-key tiebreak so ranks are deterministic
    across engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).cast("int").alias("tile"),
            F.round(F.percent_rank().over(w), 6).alias("prk"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "q56b_window_range_frame",
    "SELECT o_orderkey, "
    "count(*) OVER w AS cnt_near, "
    "ROUND(sum(o_totalprice) OVER w, 3) AS sum_near "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice "
    "RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) "
    "ORDER BY o_orderkey",
)
def q56b_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (all orders within $1000 below the current
    price). Unlike ROWS frames, RANGE is tie-stable: rows with equal
    order values always share a frame, so no tiebreak column is needed."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.count("*").over(w).alias("cnt_near"),
            F.round(F.sum("o_totalprice").over(w), 3).alias("sum_near"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "q56c_window_value_fns",
    "SELECT o_orderkey, "
    "first_value(o_orderkey) OVER w AS first_key, "
    "last_value(o_orderkey) OVER w AS last_key, "
    "nth_value(o_orderkey, 2) OVER w AS second_key "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
    "ORDER BY o_orderkey",
)
def q56c_window_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with an explicit unbounded
    frame — the default frame stops at CURRENT ROW, which silently turns
    last_value into 'this row'; always pin the frame."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_key"),
            F.last("o_orderkey").over(w).alias("last_key"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "q57_posexplode",
    "SELECT o_orderkey, "
    "CAST(unnest(range(1, len(string_split(o_orderpriority, '-')) + 1)) - 1 AS INT) AS pos, "
    "unnest(string_split(o_orderpriority, '-')) AS val "
    "FROM orders ORDER BY o_orderkey, pos",
)
def q57_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode — array flattening with element position
    (oracle: DuckDB zipped unnest over the list and its index range)."""
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.posexplode(F.split("o_orderpriority", "-")).alias("pos", "val"),
        )
        .orderBy("o_orderkey", "pos")
    )


@_q(
    "q58_stats_agg",
    "SELECT l_returnflag, "
    "ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp, "
    "ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp, "
    "ROUND(stddev_samp(l_quantity), 6) AS sd_qty, "
    "ROUND(var_samp(l_quantity), 6) AS var_qty "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q58_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates (corr / covar / stddev /
    variance). Rounded: both engines use single-pass co-moment updates
    but can differ in the last few ulps under different partition
    orders."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q59_hash_sample",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0' "
    "ORDER BY o_orderkey",
)
def q59_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 hash sample via md5 of the key — unlike
    ``df.sample()`` (partition-dependent RNG), a hash sample is
    reproducible across engines, scales, and partition layouts, which is
    what a training-data pipeline needs for stable holdout splits."""
    return (
        table(spark, sf_dir, "orders")
        .where(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 1
            )
            == "0"
        )
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


_GSETS_SQL = (
    "SELECT COALESCE(o_orderstatus, '(all)') AS st, "
    "COALESCE(o_orderpriority, '(all)') AS pri, count(*) AS cnt, "
    "CAST(GROUPING(o_orderstatus) AS INT) AS g_st, "
    "CAST(GROUPING(o_orderpriority) AS INT) AS g_pri "
    "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) "
    "ORDER BY g_st, g_pri, st, pri"
)


@_q("q60_grouping_sets_sql", _GSETS_SQL)
def q60_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL entry point — the same SQL
    text runs on Spark and the oracle (one multi-set aggregate pass, not
    a union of three scans)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_GSETS_SQL)


@_q(
    "q61_array_funcs",
    "SELECT user_id, "
    "array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types, "
    "CAST(len(list_distinct(list(event_type))) AS INT) AS n_types, "
    "list_sort(list_distinct(list(event_type)))[1] AS first_type "
    "FROM events GROUP BY user_id ORDER BY user_id",
)
def q61_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pipeline: collect -> distinct -> sort -> join / size /
    element_at.  Sorting makes collect_list's nondeterministic order
    canonical; the sorted array is serialized with ``array_join`` so the
    output honors the registry's scalar wire contract
    (BIGINT/DOUBLE/STRING/DATE/TS/BOOL — no nested types on the wire).
    The raw array-typed pipeline stays covered by
    tests/test_round8.py::test_q61_array_stage_nested."""
    types = F.array_sort(F.array_distinct(F.collect_list("event_type")))
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(types.alias("types_arr"))
        .select(
            "user_id",
            F.array_join("types_arr", ",").alias("types"),
            F.size("types_arr").alias("n_types"),
            F.element_at("types_arr", 1).alias("first_type"),
        )
        .orderBy("user_id")
    )


@_q(
    "q62_struct_nested",
    "SELECT n_nationkey, "
    "struct_extract(struct_pack(name := n_name, rk := n_regionkey), 'name') AS nm, "
    "struct_extract(struct_pack(name := n_name, rk := n_regionkey), 'rk') + 100 AS rk100 "
    "FROM nation ORDER BY n_nationkey",
)
def q62_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction + nested-field access (build a struct column,
    project dotted fields back out) — the round-trip every nested-schema
    pipeline depends on."""
    return (
        table(spark, sf_dir, "nation")
        .select(
            "n_nationkey",
            F.struct(
                F.col("n_name").alias("name"), F.col("n_regionkey").alias("rk")
            ).alias("info"),
        )
        .select(
            "n_nationkey",
            F.col("info.name").alias("nm"),
            (F.col("info.rk") + 100).alias("rk100"),
        )
        .orderBy("n_nationkey")
    )


@_q(
    "q67_stratified_sample",
    "SELECT event_id, event_type FROM events WHERE "
    "CASE event_type "
    "  WHEN 'purchase' THEN TRUE "
    "  WHEN 'view' THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1','2','3') "
    "  ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0' "
    "END "
    "ORDER BY event_id",
)
def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (keep all purchases,
    1/4 of views, 1/16 of the rest) — like q59 but per group, the
    rebalancing pass a training pipeline runs over class-skewed data.
    Hash-deterministic, so the sample is stable across engines and
    partitionings (``df.sampleBy`` is not)."""
    digit = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 1)
    keep = (
        F.when(F.col("event_type") == "purchase", F.lit(True))
        .when(F.col("event_type") == "view", digit.isin("0", "1", "2", "3"))
        .otherwise(digit == "0")
    )
    return (
        table(spark, sf_dir, "events")
        .where(keep)
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


@_q(
    "q69_python_datasource",
    "SELECT event_type, count(*) AS cnt, "
    "ROUND(sum(((i * 48271) % 65536) / 65536.0), 6) AS sum_value "
    "FROM (SELECT unnest(range(0, 20000)) AS i), "
    "LATERAL (SELECT ['click','error','purchase','signup','view']"
    "[((i * 40503) % 31 % 5) + 1] AS event_type) "
    "GROUP BY event_type ORDER BY event_type",
)
def q69_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (sources/synthetic.py): partitioned
    deterministic generation read through
    ``spark.read.format("synthetic_events")``. Every column is integer
    arithmetic on the row index, so the oracle regenerates the identical
    table with generate_series — including bit-exact double sums (16
    fractional bits; see the source's docstring)."""
    from nfl_predictions_spark.sources import synthetic

    synthetic.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "20000")
        .option("partitions", "16")
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@_q(
    "q45b_percentile_approx",
    "SELECT l_returnflag, "
    "ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact, "
    "TRUE AS p50_within_1pct FROM lineitem "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q45b_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (t-digest-style sketch, mergeable across
    partitions — the 100 TB path q45's docstring points to) certified
    against the exact interpolated percentile: the sketch value itself is
    engine-specific, so the oracle checks the certification column, like
    q14 does for HLL."""
    exact = F.expr("percentile(l_extendedprice, 0.5D)")
    approx = F.percentile_approx("l_extendedprice", 0.5, 10000)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(exact, 6).alias("p50_exact"),
            (F.abs(approx - exact) <= 0.01 * exact).alias("p50_within_1pct"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q70_sink_roundtrip",
    "SELECT o_orderstatus, count(*) AS cnt, "
    "CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(18,3))), 3) AS DOUBLE) AS total "
    "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
)
def q70_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink parity: write orders through the parquet, CSV and JSON sinks,
    read each back, and verify every format round-trips the same
    aggregate (the oracle aggregates the original table — equality
    certifies the sinks lossless for this schema). CSV/JSON get explicit
    timestamp formats; parquet is the canonical columnar path."""
    import tempfile

    src = table(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="nflspark_sink_")
    frames = {}
    src.write.mode("overwrite").parquet(f"{out}/p")
    frames["p"] = spark.read.parquet(f"{out}/p")
    src.write.mode("overwrite").option("header", "true").option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(f"{out}/c")
    frames["c"] = spark.read.option("header", "true").schema(src.schema).option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(f"{out}/c")
    src.write.mode("overwrite").option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).json(f"{out}/j")
    frames["j"] = spark.read.schema(src.schema).option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).json(f"{out}/j")

    def summarize(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("cnt"),
            # decimal partials for order-independent sums; DOUBLE on the
            # wire (window output-type contract — see tests/test_type_contract.py)
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,3)")), 3)
            .cast("double")
            .alias("total"),
        )

    p, c, j = (summarize(frames[k]) for k in ("p", "c", "j"))
    # all three must agree row-for-row; intersect collapses them to one
    agreed = p.intersect(c).intersect(j)
    return agreed.orderBy("o_orderstatus")


@_q(
    "q71_funnel",
    "WITH f AS (SELECT user_id, "
    "  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view "
    "  FROM events GROUP BY user_id), "
    "p AS (SELECT e.user_id, min(e.ts) AS first_purchase FROM events e "
    "  JOIN f ON f.user_id = e.user_id AND e.event_type = 'purchase' "
    "  AND e.ts >= f.first_view GROUP BY e.user_id) "
    "SELECT f.user_id, f.first_view, p.first_purchase, "
    "p.first_purchase IS NOT NULL AS converted "
    "FROM f LEFT JOIN p USING (user_id) ORDER BY f.user_id",
)
def q71_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: each user's first view and first purchase at or
    after it. Two grouped aggregates over one shuffle key; the
    conditional-min pattern (min of CASE) avoids a self-join per funnel
    step, and the step join is per-user (broadcast-able at any realistic
    user-dimension size)."""
    ev = table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(f), "user_id")
        .where(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        f.join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_purchase",
            F.col("first_purchase").isNotNull().alias("converted"),
        )
        .orderBy("user_id")
    )


@_q(
    "q101_malformed_csv",
    "SELECT CAST(i % 7 = 3 AS BOOLEAN) AS is_bad, count(*) AS cnt, "
    "CAST(sum(CASE WHEN i % 7 = 3 THEN NULL ELSE i END) AS BIGINT) AS id_sum "
    "FROM (SELECT unnest(range(0, 2000)) AS i) "
    "GROUP BY is_bad ORDER BY is_bad",
)
def q101_malformed_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest contract (PERMISSIVE mode): stage a CSV where every
    7th-ish row (i % 7 == 3) is corrupt — a non-numeric id — and read it
    with an explicit schema plus ``columnNameOfCorruptRecord``. Bad rows
    surface as (null columns + raw line in the corrupt column) instead
    of killing the job (FAILFAST) or silently vanishing (DROPMALFORMED);
    the aggregate proves every good row parsed and every bad row was
    quarantined. At 100 TB ingest, PERMISSIVE + a dead-letter filter on
    the corrupt column IS the data-quality gate (q36's dead-letter
    stream sink is the streaming half)."""
    # the CSV is a function of nothing in sf_dir: one copy serves all
    staged = state.path("malformed_csv")
    state.atomic_stage(
        spark.range(2000)
        .selectExpr(
            "concat_ws(',', CASE WHEN id % 7 = 3 THEN concat('oops_', id) "
            "ELSE CAST(id AS STRING) END, concat('name_', id)) AS line"
        )
        .coalesce(1)
        .write.text,
        staged,
    )
    schema = "id LONG, name STRING, _corrupt STRING"
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(staged)
    )
    return (
        parsed.groupBy(F.col("_corrupt").isNotNull().alias("is_bad"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("id_sum"))
        .orderBy("is_bad")
    )


_SAMPLE_K = 5


@_q(
    "q121_per_key_sample",
    f"""
    WITH h AS (
      SELECT source, doc_id,
        row_number() OVER (
          PARTITION BY source
          ORDER BY md5(concat('smpl', CAST(doc_id AS VARCHAR))), doc_id
        ) AS rn
      FROM documents
    )
    SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
    FROM h WHERE rn <= {_SAMPLE_K} ORDER BY source, rn
    """,
)
def q121_per_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key uniform sample (k={_SAMPLE_K} docs per
    source): rows are ordered inside each key by a salted content hash
    — md5('smpl' || doc_id) — and the first k taken. Functionally a
    per-key reservoir sample, but with NO RNG state: membership is a
    pure function of the key, so it is identical across reruns, cluster
    sizes, and partitionings — the property an auditable corpus-QA
    sample needs (rand()-based sampling changes membership whenever the
    partitioning does). One keyed window; at 100 TB the rank-k filter
    is a per-key bounded heap under AQE, never a global sort. The salt
    prefix decorrelates this sample from q108's split buckets, which
    hash the same documents."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("smpl"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        table(spark, sf_dir, "documents")
        .select("source", "doc_id", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= _SAMPLE_K)
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# q137 — per-group OLS regression from closed-form aggregates
# ---------------------------------------------------------------------------


@_q(
    "q137_grouped_ols",
    """
    WITH a AS (
      SELECT l_returnflag,
        CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
        CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
                 * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
        CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
                 * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                 * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
        AS intercept,
      round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM a ORDER BY l_returnflag
    """,
)
def q137_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares — regress l_extendedprice on
    l_quantity within each return flag, entirely from closed-form
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²): the
    embarrassingly-aggregable form of regression that a SQL engine can
    run at any scale as ONE map-side-combinable pass, no iterative
    solver and no per-group materialization. This is the same
    decomposition MLlib's summarizers use internally; expressing it as
    an aggregate keeps it in whole-stage codegen.

    Cross-engine determinism: each sufficient statistic is summed in
    exact DECIMAL (inputs are 2-decimal money/quantity values) — exact, order-independent — then cast once to
    DOUBLE, and slope/intercept/r² are derived with the identical
    arithmetic expression on both sides, so the doubles agree
    bit-for-bit before the 6-decimal presentation rounding. At 100 TB
    the whole query is scan + one hash agg on a 3-value key; the skew
    ceiling is the per-flag partial, which AQE splits if a flag
    dominates."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(9,2)")
    y = F.col("l_extendedprice").cast("decimal(14,2)")
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return a.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q169 — equi-depth histogram (ANALYZE-style optimizer statistics)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 10


@_q(
    "q169_equidepth_histogram",
    f"""
    WITH r AS (
      SELECT o_totalprice,
             ntile({_HIST_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM r GROUP BY bucket ORDER BY bucket
    """,
)
def q169_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of o_totalprice — the column statistic an
    optimizer's ANALYZE builds for selectivity estimation, expressed as
    a query (bucket boundaries + exact per-bucket mass).

    ntile over the (value, pk) total order makes bucket membership
    deterministic across engines even on duplicate values — but NO
    global ntile sort ever runs (q204's machinery): the
    {_HIST_BUCKETS - 1} cut ranks' exact (value, pk) sort-key TUPLES
    come from the histogram-narrowed distributed rank select, and
    every row buckets itself with broadcast tuple comparisons, so the
    statistic builds with hash aggregates plus one bounded-frame
    prefix sum — the shape ANALYZE actually needs at 100 TB.
    """
    from nfl_predictions_spark.operators.timeseries import _rank_select_values

    src = table(spark, sf_dir, "orders").select(
        "o_totalprice",
        "o_orderkey",
        F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("cents"),
    )
    nb = _HIST_BUCKETS
    cut_ranks = {
        f"c{j}": (
            lambda n, j=j: F.floor(n / nb) * j + F.least(F.lit(j), n % nb)
        )
        for j in range(1, nb)
    }
    cuts = _rank_select_values(
        src.select("cents", "o_orderkey"),
        "cents",
        ["o_orderkey"],
        1_000_000,
        cut_ranks,
        pick_struct=True,
    ).select(*[F.col(f"c{j}").alias(f"c{j}") for j in range(1, nb)])
    probe = F.struct(F.col("cents"), F.col("o_orderkey"))
    bucket = F.lit(1)
    for j in range(1, nb):
        bucket = bucket + (probe > F.col(f"c{j}")).cast("int")
    return (
        src.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q186 — deterministic mode (ordered-set aggregate family)
# ---------------------------------------------------------------------------


@_q(
    "q186_mode_per_group",
    """
    WITH c AS (
      SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, band
    ), r AS (
      SELECT event_type, band, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, band) AS rn
      FROM c
    )
    SELECT event_type, band AS mode_band, n AS mode_count
    FROM r WHERE rn = 1 ORDER BY event_type
    """,
)
def q186_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (most frequent value band, smallest
    band on ties) — native ``mode()`` exists in both engines but leaves
    tie-breaking implementation-defined, which is exactly the kind of
    silent nondeterminism a reproducible pipeline cannot ship. The
    count + rank decomposition pins the tie rule explicitly and runs as
    two map-side-combinable aggregates over a |groups x bands| frame.
    """
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 50).cast("long").alias("band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("band"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("band").alias("mode_band"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q189 — custom aggregate via grouped-agg pandas UDF (UDAF surface)
# ---------------------------------------------------------------------------


@_q(
    "q189_grouped_agg_udaf",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sqrt(CAST(sum(CAST(round(value * value, 6) AS DECIMAL(24,6)))
                           AS DOUBLE) / count(*)), 6) AS rms
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q189_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate as a GROUPED_AGG pandas UDF — the third Python
    UDF shape next to scalar (q29) and grouped-map (q30): an Arrow
    batch of each group's column reduces to ONE scalar inside Python,
    usable directly in groupBy().agg(). Here: root-mean-square, with
    the squares quantized to 6 dp inside the UDF so the Python result
    matches the engine-side DECIMAL oracle bit-for-bit (numpy sums the
    same rounded values the oracle sums exactly; the final sqrt/round
    is IEEE-identical).

    Scale note: GROUPED_AGG ships each whole group through Arrow — the
    oracle's decimal partial-agg IS the production plan (map-side
    combine, no Python); this entry exists to prove the UDAF surface,
    and the oracle to prove it agrees with the engine-native path.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's `from __future__ import
    # annotations` stringifies type hints, which defeats signature-based
    # GROUPED_AGG inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def rms(v):
        import numpy as np

        sq = np.round(v.to_numpy(dtype=np.float64) ** 2, 6)
        # math.fsum: exact accumulation of the rounded squares, so the
        # sum equals the oracle's DECIMAL sum regardless of order
        import math

        return float(round(math.sqrt(math.fsum(sq) / len(sq)), 6))

    # Spark refuses to mix GROUPED_AGG with JVM aggregates in one agg()
    # — so the row count is a second pandas UDAF, not F.count
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def cnt(v):
        return len(v)

    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            cnt("value").alias("n"),
            rms("value").alias("rms"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q200 — ratio-to-report (share-of-parent contribution analysis)
# ---------------------------------------------------------------------------


@_q(
    "q200_ratio_to_report",
    """
    WITH n AS (
      SELECT r.r_name AS region, nt.n_name AS nation,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation nt ON c_nationkey = nt.n_nationkey
      JOIN region r ON nt.n_regionkey = r.r_regionkey
      GROUP BY region, nation
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS share_of_region,
           round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
             AS share_of_total
    FROM n ORDER BY region, nation
    """,
)
def q200_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its region
    and of the world — the two-level contribution analysis every BI
    rollup ships (Oracle's RATIO_TO_REPORT, MDX percent-of-parent).

    The windows run over the |nations|-row aggregate, never the fact
    table, so the 'grand total' denominators cost nothing at scale;
    revenue rides exact DECIMAL into engine-identical double divisions.
    """
    from pyspark.sql import Window

    n = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return n.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(wr).cast("double"), 6
        ).alias("share_of_region"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(wt).cast("double"), 6
        ).alias("share_of_total"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# q202 — three-valued-logic conformance matrix
# ---------------------------------------------------------------------------


@_q(
    "q202_null_semantics",
    """
    WITH t(id, a, b) AS (
      VALUES (1, true, true), (2, true, false), (3, true, NULL),
             (4, false, false), (5, false, NULL), (6, NULL, NULL)
    )
    SELECT CAST(id AS BIGINT) AS id,
           a AND b AS and_ab, a OR b AS or_ab, NOT a AS not_a,
           a IS NOT DISTINCT FROM b AS nullsafe_eq,
           coalesce(a, b, false) AS coal,
           CASE WHEN a IS NULL THEN 'null'
                WHEN a THEN 'true' ELSE 'false' END AS a_class
    FROM t ORDER BY id
    """,
)
def q202_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic conformance: the full AND/OR/NOT truth table
    over {true, false, NULL} plus null-safe equality, coalesce, and
    IS NULL classification — q28's cast matrix for the logic layer.
    SQL engines disagree on 3VL edge cases more often than on
    arithmetic (true OR NULL = true but true AND NULL = NULL); this
    entry pins every cell against the oracle so a Catalyst or ANSI-mode
    regression surfaces as a value diff, not a silent plan change.
    """
    rows = [
        (1, True, True),
        (2, True, False),
        (3, True, None),
        (4, False, False),
        (5, False, None),
        (6, None, None),
    ]
    t = spark.createDataFrame(rows, "id long, a boolean, b boolean")
    return t.select(
        "id",
        (F.col("a") & F.col("b")).alias("and_ab"),
        (F.col("a") | F.col("b")).alias("or_ab"),
        (~F.col("a")).alias("not_a"),
        F.col("a").eqNullSafe(F.col("b")).alias("nullsafe_eq"),
        F.coalesce("a", "b", F.lit(False)).alias("coal"),
        F.when(F.col("a").isNull(), "null")
        .when(F.col("a"), "true")
        .otherwise("false")
        .alias("a_class"),
    ).orderBy("id")


# ---------------------------------------------------------------------------
# q203 — ANSI-mode safety functions (try_* semantics)
# ---------------------------------------------------------------------------


@_q(
    "q203_try_functions",
    """
    WITH t(id, num, den, s) AS (
      VALUES (1, 10.0, 2.0, '42'), (2, 1.0, 0.0, 'abc'),
             (3, -5.0, 0.0, ''), (4, 7.5, 3.0, '  8 ')
    )
    SELECT CAST(id AS BIGINT) AS id,
           CASE WHEN den = 0 THEN NULL ELSE round(num / den, 6) END AS div_safe,
           TRY_CAST(s AS BIGINT) AS int_safe,
           CASE WHEN den = 0 THEN NULL
                ELSE round(num / den, 6) END IS NULL AS div_failed
    FROM t ORDER BY id
    """,
)
def q203_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety surface: under ANSI SQL semantics (Spark 4's
    default) division by zero and bad casts THROW — the engine's
    ``try_divide`` / ``try_cast`` return NULL instead, the behavior a
    pipeline needs for quarantine-don't-crash ingestion (q101's
    malformed-CSV policy at the expression level). The oracle spells
    the same semantics in portable CASE/TRY_CAST form. Note
    TRY_CAST('  8 ') = 8 in both engines (whitespace-tolerant), while
    '' and 'abc' are NULL — pinned so a semantics drift surfaces here.
    """
    rows = [
        (1, 10.0, 2.0, "42"),
        (2, 1.0, 0.0, "abc"),
        (3, -5.0, 0.0, ""),
        (4, 7.5, 3.0, "  8 "),
    ]
    t = spark.createDataFrame(rows, "id long, num double, den double, s string")
    div = F.round(F.try_divide("num", "den"), 6)
    return t.select(
        "id",
        div.alias("div_safe"),
        F.expr("try_cast(s AS BIGINT)").alias("int_safe"),
        div.isNull().alias("div_failed"),
    ).orderBy("id")


# ---------------------------------------------------------------------------
# q204 — RFM customer segmentation
# ---------------------------------------------------------------------------


@_q(
    "q204_rfm_segmentation",
    """
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT custkey,
             ntile(5) OVER (ORDER BY last_order, custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, custkey) AS m_score
      FROM rfm
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(custkey) AS BIGINT) AS key_sum
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q204_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into recency/frequency/
    monetary quintiles (higher = more recent / frequent / valuable) and
    rolled up to segment cells with key checksums — the classic
    marketing micro-segmentation, with custkey tie-breaks so quintile
    boundaries are engine-identical. Monetary rides exact DECIMAL so
    the ordering cannot be moved by summation order.

    No global ntile sort (VERDICT r05 wrong-item #4): ntile(5) over a
    (value, custkey) total order is a pure function of global rank vs
    the 4 cut ranks k_j = j*(n div 5) + min(j, n mod 5), so per
    dimension the histogram-narrowed rank select extracts the exact
    (value, custkey) sort-key TUPLE at each cut rank (tuples, not
    values — a cut can split a tie group, and the tuple comparison
    reproduces ntile's row-exact boundary), and every customer is
    scored with 4 broadcast struct comparisons per dimension. The
    customers-sized frame is never sorted in one task.
    """
    from nfl_predictions_spark.operators.timeseries import _rank_select_values

    rfm = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        # integer, order-isomorphic images of the three sort keys
        .withColumn("r_ord", F.datediff("last_order", F.lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("f_ord", F.col("frequency").cast("long"))
        .withColumn("m_ord", (F.col("monetary") * 100).cast("long"))
    ).localCheckpoint(eager=False)
    cut_ranks = {
        f"c{j}": (
            lambda n, j=j: F.floor(n / 5) * j + F.least(F.lit(j), n % 5)
        )
        for j in range(1, 5)
    }
    scored = rfm
    dims = [("r", "r_ord", 32), ("f", "f_ord", 1), ("m", "m_ord", 1_000_000)]
    for d, ordcol, width in dims:
        cuts = _rank_select_values(
            rfm.select("custkey", ordcol),
            ordcol,
            ["custkey"],
            width,
            cut_ranks,
            pick_struct=True,
        ).select(*[F.col(f"c{j}").alias(f"{d}_c{j}") for j in range(1, 5)])
        scored = scored.crossJoin(F.broadcast(cuts))
    for d, ordcol, _ in dims:
        probe = F.struct(F.col(ordcol), F.col("custkey"))
        score = F.lit(1)
        for j in range(1, 5):
            score = score + (probe > F.col(f"{d}_c{j}")).cast("int")
        scored = scored.withColumn(f"{d}_score", score)
    return (
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("custkey").alias("key_sum"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# q205 — key-skew diagnostics (heavy hitters + Gini concentration)
# ---------------------------------------------------------------------------


@_q(
    "q205_skew_diagnostics",
    """
    WITH k AS (
      SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey
    ), r AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt, key) AS rn,
             count(*) OVER () AS n,
             sum(cnt) OVER () AS total
      FROM k
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_keys,
           CAST(any_value(total) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_key_rows,
           round(CAST(max(cnt) AS DOUBLE) / any_value(total), 6)
             AS top_key_share,
           round(CAST(sum((2 * rn - n - 1) * cnt) AS DOUBLE)
                 / (CAST(any_value(n) AS DOUBLE) * any_value(total)), 6)
             AS gini
    FROM r
    """,
)
def q205_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics for a join/agg key: cardinality, heaviest
    key's share, and the Gini concentration coefficient of rows-per-key
    — the measurement that decides whether q51's salting or AQE skew
    handling is worth wiring in, as a query (measure, don't guess).

    Gini via the rank formula sum((2i - n - 1) * x_i) / (n * total)
    over counts sorted ascending — but with NO per-key ranking (VERDICT
    r05's single-partition-window family): ranks within a tie group of
    g equal counts are g consecutive integers, so the group's
    contribution has the closed form cnt * g * (2*cum_below + g - n),
    and the whole statistic reduces to one aggregate per DISTINCT
    count value (a bounded frame: lineitems-per-order takes a handful
    of values) plus a prefix sum over it. Every term stays exact
    integer arithmetic; the only float op is the final division — the
    statistic is hash-exact against the oracle's per-row rank formula.
    """
    k = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    g = k.groupBy("cnt").agg(F.count(F.lit(1)).alias("gs"))
    wv = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    offs = g.withColumn(
        "cb", F.coalesce(F.sum("gs").over(wv), F.lit(0))
    ).withColumn("n", F.sum("gs").over(Window.partitionBy()))
    contrib = (
        F.col("cnt")
        * F.col("gs")
        * (2 * F.col("cb") + F.col("gs") - F.col("n"))
    )
    a = offs.agg(
        F.any_value("n").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("gs")).alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.sum(contrib).alias("gnum"),
    )
    return a.select(
        F.col("n_keys").cast("long"),
        F.col("n_rows").cast("long"),
        F.col("max_key_rows").cast("long"),
        F.round(
            F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
        ).alias("top_key_share"),
        F.round(
            F.col("gnum").cast("double")
            / (F.col("n_keys").cast("double") * F.col("n_rows")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q211 — Pareto concentration (the 80/20 revenue question)
# ---------------------------------------------------------------------------


@_q(
    "q211_pareto_concentration",
    """
    WITH c AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
             count(*) OVER () AS n,
             sum(rev) OVER () AS total,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM c
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN 5 * cum >= 4 * total THEN rn END) AS BIGINT)
             AS k80,
           round(CAST(min(CASE WHEN 5 * cum >= 4 * total THEN rn END)
                      AS DOUBLE) / any_value(n), 6) AS k80_share,
           round(CAST(max(CASE WHEN 5 * rn <= n THEN cum END)
                      AS DOUBLE) / CAST(any_value(total) AS DOUBLE), 6)
             AS top20pct_rev_share
    FROM r
    """,
)
def q211_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest number of customers whose
    revenue reaches 80% of the total (and, dually, the revenue share of
    the top 20% of customers) — the 80/20 question behind every
    account-prioritization decision.

    The 80% threshold compares 5*cum >= 4*total in exact DECIMAL — an
    integer-scaled inequality with no 0.8 float anywhere — and the
    cut rank is deterministic via the (revenue DESC, custkey) total
    order.

    No customers-sized running-sum window (VERDICT r05 wrong-item #5):
    a two-level prefix sum bucketed by revenue ($10k-wide buckets, a
    bounded frame) yields each bucket's cumulative count/revenue
    offsets; the 80%-crossing rank and the n/5-th rank each live in
    exactly one bucket (cum is strictly increasing), so pass 2 ranks
    and running-sums ONLY those ≤2 buckets' rows, offset by the
    broadcast bucket prefixes. Exact-decimal addition is associative,
    so the decomposed cum equals the oracle's row-at-a-time window.
    """
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        # rev DESC order == bucket DESC then rev DESC within bucket
        .withColumn("b", F.expr("CAST(rev * 100 AS BIGINT) div 1000000"))
        # feeds the bucket aggregate AND the pass-2 rank join: one lazy
        # checkpoint computes the orders-scale rollup once (q204 pattern)
        .localCheckpoint(eager=False)
    )
    g = c.groupBy("b").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev").alias("brev")
    )
    wd = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    zero = F.lit(0).cast(dict(g.dtypes)["brev"])
    offs = (
        g.withColumn("cum_cnt_before", F.coalesce(F.sum("cnt").over(wd), F.lit(0)))
        .withColumn("cum_rev_before", F.coalesce(F.sum("brev").over(wd), zero))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy()))
        .withColumn("total", F.sum("brev").over(Window.partitionBy()))
        .withColumn("n5", F.floor(F.col("n") / 5))
    )
    is80 = (5 * F.col("cum_rev_before") < 4 * F.col("total")) & (
        5 * (F.col("cum_rev_before") + F.col("brev")) >= 4 * F.col("total")
    )
    is20 = (F.col("cum_cnt_before") < F.col("n5")) & (
        F.col("n5") <= F.col("cum_cnt_before") + F.col("cnt")
    )
    targets = offs.withColumn("is80", is80).withColumn("is20", is20).filter(
        F.col("is80") | F.col("is20")
    ).select("b", "cum_cnt_before", "cum_rev_before", "n", "total", "n5", "is80", "is20")
    ww = Window.partitionBy("b").orderBy(F.desc("rev"), F.asc("o_custkey"))
    cand = (
        c.join(F.broadcast(targets), "b")
        .withColumn("grn", F.col("cum_cnt_before") + F.row_number().over(ww))
        .withColumn(
            "gcum",
            F.col("cum_rev_before")
            + F.sum("rev").over(
                ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    hit80 = F.col("is80") & (5 * F.col("gcum") >= 4 * F.col("total"))
    at_n5 = F.col("is20") & (F.col("grn") == F.col("n5"))
    return cand.agg(
        F.any_value("n").alias("n_customers"),
        F.min(F.when(hit80, F.col("grn"))).alias("k80"),
        F.round(
            F.min(F.when(hit80, F.col("grn"))).cast("double") / F.any_value("n"),
            6,
        ).alias("k80_share"),
        F.round(
            F.max(F.when(at_n5, F.col("gcum"))).cast("double")
            / F.any_value("total").cast("double"),
            6,
        ).alias("top20pct_rev_share"),
    )


# ---------------------------------------------------------------------------
# q262 — audience overlap matrix (pairwise user-set Jaccard by event type)
# ---------------------------------------------------------------------------


@_q(
    "q262_audience_overlap",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM du GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(count(*) AS BIGINT) AS i
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY t1, t2
    )
    SELECT i.t1, i.t2, s1.n AS n1, s2.n AS n2, i.i AS n_both,
           CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) AS jaccard
    FROM inter i
    JOIN sz s1 ON s1.event_type = i.t1
    JOIN sz s2 ON s2.event_type = i.t2
    ORDER BY t1, t2
    """,
)
def q262_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: pairwise Jaccard of the USER sets
    behind each event type — the segmentation sanity check (are
    "click" users and "purchase" users the same people?) and the same
    inverted-index self-join shape as document near-dup (q39b) applied
    to behavioral sets: pairs meet only through a shared user, never
    via a type x type cross product.

    Distinct (type, user) rows are the index; set sizes and
    intersections are exact BIGINTs; Jaccard is one exact division.
    One shuffle on user_id for the self-join, one on event_type for
    sizes — both key-sized.
    """
    du = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sz = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sz.alias("s1"), F.col("t1") == F.col("s1.event_type"))
        .join(sz.alias("s2"), F.col("t2") == F.col("s2.event_type"))
        .select(
            "t1",
            "t2",
            F.col("s1.n").cast("long").alias("n1"),
            F.col("s2.n").cast("long").alias("n2"),
            F.col("i").cast("long").alias("n_both"),
            (
                F.col("i").cast("double")
                / (F.col("s1.n") + F.col("s2.n") - F.col("i"))
            ).alias("jaccard"),
        )
        .orderBy("t1", "t2")
    )


def calendar_dim_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once) a calendar dimension parquet spanning the events
    table's date range, with the ISO week attribute queries filter on.
    Derived fully distributed: min/max aggregate -> sequence -> explode,
    no driver-side date math. Keyed on the events parquet's
    size+mtime fingerprint (ADVICE r05 #2) so a regenerated fixture
    can never reuse a stale calendar span."""
    out = state.staged_path(sf_dir, "calendar_dim")
    state.atomic_stage(
        table(spark, sf_dir, "events")
        .agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("d1"),
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("cal_date"))
        .withColumn("iso_week", F.weekofyear("cal_date")),
        out,
    )
    return out


@_q(
    "q269_dynamic_partition_pruning",
    "SELECT CAST(ts AS DATE) AS event_date, CAST(count(*) AS BIGINT) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events WHERE weekofyear(CAST(ts AS DATE)) = 2 "
    "GROUP BY 1 ORDER BY 1",
)
def q269_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema scan where the partition filter is only knowable at
    runtime: the fact (events partitioned by day, q48's layout) joins a
    calendar dimension filtered on an attribute (ISO week), and Spark's
    dynamic partition pruning turns the dim's broadcast result into a
    runtime PartitionFilters entry on the fact scan — 7 of ~30
    directories read, not all of them (asserted on the formatted plan in
    tests/test_relational.py::test_q269_dpp_plan).

    This is the mechanism that makes dimension-driven queries viable on
    a 100 TB date-partitioned fact: the static optimizer cannot prune
    (the predicate is on the dim), but DPP reuses the broadcast exchange
    to skip fact partitions at zero extra cost. The oracle states the
    equivalent direct predicate."""
    fact = spark.read.parquet(events_by_day_path(spark, sf_dir))
    dim = spark.read.parquet(calendar_dim_path(spark, sf_dir)).filter(
        F.col("iso_week") == 2
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.cal_date)
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_date")
    )


_RECON_BUCKETS = 64

#: Engine-neutral row fingerprint + bucket, written once in SQL so the
#: Spark plan and the DuckDB oracle hash bit-identically: md5 over a
#: canonical '|'-joined string (doubles canonicalized to integer cents
#: first — raw double->string formatting differs between engines), a
#: 10-hex slice as the per-row 40-bit fingerprint, an 8-hex slice of a
#: separate key-only hash as the bucket.
_RECON_ROW = (
    "CAST(event_id AS STRING) || '|' || event_type || '|' || "
    "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS STRING)"
)


def _recon_cols(kind: str):
    key_hex = F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":rb"))), 1, 8)
    row_hex = F.substring(F.md5(F.expr(_RECON_ROW)), 1, 10)
    return [
        F.pmod(F.conv(key_hex, 16, 10).cast("long"), F.lit(_RECON_BUCKETS)).alias("bucket"),
        F.conv(row_hex, 16, 10).cast("long").alias(f"fp_{kind}"),
    ]


def _recon_side_sql(src: str, kind: str) -> str:
    return f"""
    SELECT CAST(('0x' || substr(md5(CAST(event_id AS STRING) || ':rb'), 1, 8)) AS BIGINT)
             % {_RECON_BUCKETS} AS bucket,
           CAST(count(*) AS BIGINT) AS n_{kind},
           CAST(SUM(CAST(('0x' || substr(md5({_RECON_ROW}), 1, 10)) AS BIGINT)) AS BIGINT)
             AS fpsum_{kind}
    FROM {src} GROUP BY 1
    """


@_q(
    "q270_replica_reconciliation",
    f"WITH base AS ({_recon_side_sql('events', 'base')}), "
    f"rep AS ({_recon_side_sql('events', 'replica')}) "
    "SELECT base.bucket, n_base, n_replica, fpsum_base, fpsum_replica, "
    "(n_base = n_replica AND fpsum_base = fpsum_replica) AS consistent "
    "FROM base JOIN rep ON base.bucket = rep.bucket ORDER BY base.bucket",
)
def q270_replica_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-replica consistency audit without moving rows — the
    hash-bucket reconciliation a warehouse runs between a base table
    and any derived/replicated layout (here: events vs its
    day-partitioned copy from ``events_by_day_path``, the store q48 and
    q269 query). Each side reduces to {_RECON_BUCKETS} (bucket, count,
    fingerprint-sum) rows — commutative md5-slice sums, so partition
    and merge order cannot matter — and the comparison join is
    bucket-count-sized. At 100 TB each side is one map-side-combinable
    aggregate over its own layout (no shuffle wider than 64 rows
    per side), which is why this beats row-level anti-joins for drift
    detection; a mismatched bucket then bounds the row-level re-check
    to 1/{_RECON_BUCKETS} of the table. 40-bit row fingerprints keep
    BIGINT sums exact up to ~8M rows per bucket; production widens the
    sum to DECIMAL(38,0).

    The Spark side REALLY reads the replica (a stale or corrupted
    store would fail the consistent flags and the driver hash); the
    oracle replays both sides from the base table, pinning every
    fingerprint value."""
    base = (
        table(spark, sf_dir, "events")
        .select(*_recon_cols("base"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_base"), F.sum("fp_base").alias("fpsum_base"))
    )
    rep = (
        spark.read.parquet(events_by_day_path(spark, sf_dir))
        .select(*_recon_cols("replica"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_replica"),
            F.sum("fp_replica").alias("fpsum_replica"),
        )
    )
    return (
        base.join(rep, "bucket")
        .select(
            "bucket",
            "n_base",
            "n_replica",
            "fpsum_base",
            "fpsum_replica",
            (
                (F.col("n_base") == F.col("n_replica"))
                & (F.col("fpsum_base") == F.col("fpsum_replica"))
            ).alias("consistent"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q271 — per-group top-k via rank filter (WindowGroupLimit pushdown)
# ---------------------------------------------------------------------------


@_q(
    "q271_window_group_limit",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
           o_totalprice
    FROM r WHERE rn <= 3
    ORDER BY o_orderpriority, rn
    """,
)
def q271_window_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k expressed the declarative way — rank window +
    ``rn <= k`` filter — relying on Catalyst's WindowGroupLimit rewrite
    for the physical strategy (SPARK-37099, the optimization that makes
    this formulation scale): instead of sorting every group fully and
    ranking all rows, the planner inserts a PARTIAL WindowGroupLimit
    before the shuffle (each map task keeps only its local top-k per
    group) and a FINAL one after, so the exchange carries at most
    k x groups x tasks rows, never the full table. The same query shape
    without the rewrite is the q17/q20 fallback — here the plan is
    pinned in tests (Partial + Final WindowGroupLimit nodes present) so
    a regression to full-window execution is caught.

    At 100 TB: the shuffle volume is bounded by the limit, not the
    input — identical discipline to TakeOrdered, but per group.
    Tie-break on o_orderkey keeps row_number cross-engine deterministic.
    """
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    )


# ---------------------------------------------------------------------------
# q278 — CBO join reordering over ANALYZEd catalog tables
# ---------------------------------------------------------------------------

_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


def _cbo_tables(spark: SparkSession, sf_dir: str) -> str:
    """Stage customer/orders/nation as ANALYZEd catalog tables (once per
    source fingerprint — the q52/q164 staged-store discipline, stale
    tags GC'd) so the cost-based optimizer has rowCount + column NDV/
    min/max statistics to reorder joins with."""
    import shutil
    from urllib.parse import urlparse

    srcs = ("customer", "orders", "nation")
    sf_base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tag = f"{sf_base}_{state.fingerprint(sf_dir, srcs)}"
    spark.sql("CREATE DATABASE IF NOT EXISTS cbostats")
    done = {
        t[0]
        for t in spark.sql("SHOW TABLES IN cbostats").select("tableName").collect()
    }
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for old in sorted(done):
        for src in srcs:
            if old.startswith(f"{src}_{sf_base}_") and old != f"{src}_{tag}":
                spark.sql(f"DROP TABLE IF EXISTS cbostats.{old}")
                shutil.rmtree(
                    os.path.join(warehouse, "cbostats.db", old), ignore_errors=True
                )
                done.discard(old)
    from nfl_predictions_spark.catalog import ensure_catalog_table

    for src in srcs:
        tbl = f"{src}_{tag}"
        if tbl not in done:
            # adopt-or-build (VERDICT r09 #6); stats live in the
            # per-session in-memory catalog, so ANALYZE must run on
            # adoption too (it only reads the shared files)
            ensure_catalog_table(
                spark,
                f"cbostats.{tbl}",
                os.path.join(warehouse, "cbostats.db", tbl),
                lambda src=src: table(spark, sf_dir, src),
            )
            spark.sql(
                f"ANALYZE TABLE cbostats.{tbl} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
    return tag


@_q(
    "q278_cbo_join_reorder",
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS spend
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
    GROUP BY n_name ORDER BY n_name
    """,
)
def q278_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering: the query DECLARES fact-first join
    order (orders x customer x nation), but with table/column
    statistics (ANALYZE ... FOR ALL COLUMNS) and CBO on, Catalyst
    reorders to build the selective dim chain first — customer x
    (nation WHERE n_name IN (...)) — and joins the big fact LAST, the
    difference between shuffling the whole fact and shuffling 2/25 of
    it at 100 TB. Statistics are the part users forget: without them
    the reorder rule has no costs and keeps the declared order
    (asserted in tests both ways).

    Conf posture is scoped exactly like q272's runtime-filter demo:
    CBO flags set after staging, the reordered physical plan primed
    into this Dataset's cached QueryExecution (self-asserted: the
    orders scan must NOT be the first leaf), every conf restored in a
    finally. The oracle runs the plain declared-order SQL — same
    result by join commutativity, which is the point: reordering is
    pure execution strategy."""
    tag = _cbo_tables(spark, sf_dir)
    sql = f"""
      SELECT n_name, CAST(count(*) AS BIGINT) AS cnt,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS spend
      FROM cbostats.orders_{tag}
      JOIN cbostats.customer_{tag} ON o_custkey = c_custkey
      JOIN cbostats.nation_{tag} ON c_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY n_name ORDER BY n_name
    """
    old: dict[str, str | None] = {}
    for k, v in _CBO_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        df = spark.sql(sql)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        first = plan.find(f"orders_{tag}")
        assert first > plan.find(f"customer_{tag}") or first > plan.find(
            f"nation_{tag}"
        ), "CBO did not reorder — statistics posture regressed"
        df._jdf.queryExecution().executedPlan()  # bake the reordered plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


# ---------------------------------------------------------------------------
# q279 — AQE runtime re-plan (static sort-merge -> runtime broadcast)
# ---------------------------------------------------------------------------

_AQE_CONFS = {
    # static planner must NOT broadcast (no reliable size estimate at
    # 100 TB for a post-filter dim) ...
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # ... but AQE sees the ACTUAL post-shuffle size at runtime
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
}


@_q(
    "q279_aqe_runtime_replan",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '3-MEDIUM'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q279_aqe_runtime_replan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive Query Execution's headline act, pinned as a first-class
    surface: the STATIC plan for fact x filtered-dim is a sort-merge
    join (broadcast disabled below — at 100 TB the planner has no
    trustworthy size estimate for a post-filter dim), but AQE measures
    the dim's actual shuffle output at runtime and REWRITES the running
    query to a broadcast hash join, skipping the fact-side sort+merge
    entirely. This is the runtime half of the engine's join strategy
    (q06 static broadcast, q272 runtime filter, q276 hot/cold split).

    The function proves the conversion under its scoped conf posture:
    it executes a probe of the same plan inside the window and asserts
    the FINAL adaptive plan (isFinalPlan=true) contains the broadcast
    join the static plan lacked, then returns a fresh lazy frame of the
    same query (value-identical under any strategy — the oracle is the
    plain join). Confs are restored in a finally, q272-style."""

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "3-MEDIUM"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("qty"),
            )
            .select("l_returnflag", F.col("n_items").cast("long"), "qty")
            .orderBy("l_returnflag")
        )

    build()  # ensure tune_for_input ran before scoping confs
    old: dict[str, str | None] = {}
    for k, v in _AQE_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        probe = build()
        static = probe._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in static, "static plan should sort-merge"
        probe.write.format("noop").mode("overwrite").save()
        # the write path plans its own QueryExecution; re-read the final
        # adaptive plan from a collected probe instead
        probe2 = build()
        probe2.collect()
        final = probe2._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final and "BroadcastHashJoin" in final, (
            "AQE did not convert to broadcast at runtime"
        )
        df = build()
        df._jdf.queryExecution().executedPlan()  # bake SMJ->AQE plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


# ---------------------------------------------------------------------------
# q305 — Merkle-tree anti-entropy sync (hierarchical replica drill-down)
# ---------------------------------------------------------------------------

_MK_LEAVES = 64  # 64 leaves -> 16 -> 4 -> root (fanout 4)
_MK_FANOUT = 4
_MK_DROP_MOD = 997  # replica deterministically lacks okey % 997 == 13


def _merkle_oracle() -> str:
    return f"""
    WITH rowfp AS (
      SELECT o_orderkey % {_MK_LEAVES} AS leaf,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS STRING) || '|' ||
                   o_orderstatus || '|' || o_orderpriority), 1, 8)) AS BIGINT)
               AS fp,
             (o_orderkey % {_MK_DROP_MOD} = 13) AS dropped
      FROM orders
    ),
    leaves AS (
      SELECT leaf,
             CAST(sum(fp) AS BIGINT) AS base_fp,
             CAST(sum(CASE WHEN dropped THEN 0 ELSE fp END) AS BIGINT)
               AS repl_fp,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM rowfp GROUP BY leaf
    ),
    l1 AS (
      SELECT leaf // {_MK_FANOUT} AS node,
             CAST(sum(base_fp) AS BIGINT) AS b, CAST(sum(repl_fp) AS BIGINT) AS r
      FROM leaves GROUP BY leaf // {_MK_FANOUT}
    ),
    l2 AS (
      SELECT node // {_MK_FANOUT} AS node,
             CAST(sum(b) AS BIGINT) AS b, CAST(sum(r) AS BIGINT) AS r
      FROM l1 GROUP BY node // {_MK_FANOUT}
    ),
    root AS (SELECT CAST(sum(b) AS BIGINT) AS b, CAST(sum(r) AS BIGINT) AS r FROM l2),
    s_root AS (
      SELECT CAST(0 AS BIGINT) AS level, CAST(1 AS BIGINT) AS n_nodes,
             CAST(1 AS BIGINT) AS n_compared,
             CAST(CASE WHEN b <> r THEN 1 ELSE 0 END AS BIGINT) AS n_dirty
      FROM root
    ),
    s_l2 AS (
      SELECT CAST(1 AS BIGINT) AS level,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST({_MK_FANOUT} * (SELECT n_dirty FROM s_root) AS BIGINT)
               AS n_compared,
             CAST(sum(CASE WHEN b <> r THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
      FROM l2
    ),
    s_l1 AS (
      SELECT CAST(2 AS BIGINT) AS level,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST({_MK_FANOUT} * (SELECT n_dirty FROM s_l2) AS BIGINT)
               AS n_compared,
             CAST(sum(CASE WHEN b <> r AND node // {_MK_FANOUT} IN
                   (SELECT node FROM l2 WHERE b <> r) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dirty
      FROM l1
    ),
    -- l1 nodes the protocol actually visits AND finds dirty: dirty
    -- themselves with a dirty l2 ancestor — the same root->l2->l1
    -- chain the engine's drill-down walks (ADVICE r05 #3; without the
    -- ancestor condition the two sides agree only because commutative
    -- fingerprint sums essentially never cancel)
    l1chain AS (
      SELECT node FROM l1
      WHERE b <> r AND node // {_MK_FANOUT} IN (SELECT node FROM l2 WHERE b <> r)
    ),
    leafchain AS (
      SELECT leaf FROM leaves
      WHERE base_fp <> repl_fp
        AND leaf // {_MK_FANOUT} IN (SELECT node FROM l1chain)
    ),
    s_leaf AS (
      SELECT CAST(3 AS BIGINT) AS level,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST({_MK_FANOUT} * (SELECT n_dirty FROM s_l1) AS BIGINT)
               AS n_compared,
             CAST(sum(CASE WHEN leaf IN (SELECT leaf FROM leafchain)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
      FROM leaves
    ),
    ship AS (
      SELECT CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n
      FROM rowfp WHERE leaf IN (SELECT leaf FROM leafchain)
    )
    SELECT level, n_nodes, n_compared, n_dirty,
           CASE WHEN level = 3 THEN (SELECT n FROM ship)
                ELSE CAST(0 AS BIGINT) END AS n_rows_to_ship
    FROM (SELECT * FROM s_root UNION ALL SELECT * FROM s_l2
          UNION ALL SELECT * FROM s_l1 UNION ALL SELECT * FROM s_leaf)
    ORDER BY level
    """


@_q("q305_merkle_sync", _merkle_oracle())
def q305_merkle_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree anti-entropy between a base table and a replica
    missing a deterministic handful of rows — the Cassandra/Dynamo
    repair shape, and the log-depth upgrade of q270's flat fingerprint
    buckets: node fingerprints are COMMUTATIVE sums of per-row md5
    slices, so the whole {_MK_LEAVES}-leaf / fanout-{_MK_FANOUT} tree
    falls out of ONE scan + one leaf aggregate (the upper levels are
    driver-side integer rollups of the bounded leaf frame), and the
    sync protocol compares root -> only children of dirty nodes ->
    dirty leaves. Emitted per level: node count, how many fingerprints
    the protocol actually ships (fanout x dirty parents — the log-depth
    saving vs comparing all {_MK_LEAVES} leaves), how many differ, and
    finally the rows a repair would transfer. At 100 TB the per-level
    frames are tree-sized, never data-sized, and the leaf scan is the
    only pass over the table. Integer-exact in both engines."""
    orders = table(spark, sf_dir, "orders")
    rowfp = orders.select(
        (F.col("o_orderkey") % _MK_LEAVES).alias("leaf"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.col("o_orderpriority"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("fp"),
        (F.col("o_orderkey") % _MK_DROP_MOD == 13).alias("dropped"),
    )
    # One scan + one map-combinable aggregate is the only data-scale
    # work; everything above the leaves is a <= _MK_LEAVES-row tree.
    # Collect that bounded frame ONCE and run the drill-down protocol
    # on the driver (the q275/q293 bounded-model-state discipline):
    # the previous version paid ~10 separate driver jobs (3 eager
    # checkpoints + 7 count/first probes) on tree-sized frames, ~1 s of
    # pure plan+launch latency at any scale. Integer sums over longs —
    # the same values the tiny-frame aggregates produced.
    leaf_rows = (
        rowfp.groupBy("leaf")
        .agg(
            F.sum("fp").cast("long").alias("base_fp"),
            F.sum(F.when(F.col("dropped"), 0).otherwise(F.col("fp")))
            .cast("long")
            .alias("repl_fp"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0))
            .cast("long")
            .alias("n_drop"),
        )
        .collect()
    )
    leaves = {r.leaf: (r.base_fp, r.repl_fp, r.n_drop) for r in leaf_rows}
    l1: dict[int, list[int]] = {}
    for leaf, (b, r, _nd) in leaves.items():
        acc = l1.setdefault(leaf // _MK_FANOUT, [0, 0])
        acc[0] += b
        acc[1] += r
    l2: dict[int, list[int]] = {}
    for node, (b, r) in l1.items():
        acc = l2.setdefault(node // _MK_FANOUT, [0, 0])
        acc[0] += b
        acc[1] += r
    root_dirty = (
        1
        if sum(v[0] for v in l2.values()) != sum(v[1] for v in l2.values())
        else 0
    )
    l2d = {node for node, (b, r) in l2.items() if b != r}
    n_l2_dirty = len(l2d)
    l1d = {
        node
        for node, (b, r) in l1.items()
        if b != r and node // _MK_FANOUT in l2d
    }
    n_l1_dirty = len(l1d)
    leafd = [
        leaf
        for leaf, (b, r, _nd) in leaves.items()
        if b != r and leaf // _MK_FANOUT in l1d
    ]
    n_leaf_dirty = len(leafd)
    n_ship = sum(leaves[leaf][2] for leaf in leafd)
    n_l1 = len(l1)
    n_l2 = len(l2)
    n_leaves = len(leaves)
    data = [
        (0, 1, 1, root_dirty, 0),
        (1, n_l2, _MK_FANOUT * root_dirty, n_l2_dirty, 0),
        (2, n_l1, _MK_FANOUT * n_l2_dirty, n_l1_dirty, 0),
        (3, n_leaves, _MK_FANOUT * n_l1_dirty, n_leaf_dirty, int(n_ship)),
    ]
    return spark.createDataFrame(
        data,
        "level long, n_nodes long, n_compared long, n_dirty long, "
        "n_rows_to_ship long",
    ).orderBy("level")
