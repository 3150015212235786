"""Skew handling and storage co-location (100 TB scale patterns).

Two techniques the engine standardizes for hot keys and repeated joins:

- **Salting**: a skewed aggregation/join key is split into ``n_salts``
  sub-keys (deterministic hash of a tie-break column), partially
  aggregated per sub-key, then re-aggregated — no single reducer ever
  sees the whole hot key. AQE's skew-join splitting handles the join
  case automatically (enabled in session.py); explicit salting is the
  portable form for aggregations and for engines/pipelines where AQE
  can't see the skew.
- **Bucketing**: both join sides pre-hashed into the same bucket count
  on the join key at write time, so repeated joins read co-located
  buckets with no exchange on either side (plan-asserted in tests).

Both queries return results identical to their unsalted/unbucketed
forms — the DuckDB oracles are the plain formulations, proving the
rewrites are pure execution-strategy changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark.functions.scalars import dsum
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


def salted_agg(
    df: DataFrame,
    key: str,
    salt_col: str,
    n_salts: int = 16,
):
    """Two-phase aggregation for skewed keys: partial per (key, salt),
    final per key. Returns (grouped, finalize) — callers add measures in
    two steps. Simplified fixed-shape helper: count + decimal sum."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt")
    return partial


@_q(
    "q51_salted_agg",
    "SELECT o_orderpriority, count(*) AS cnt, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
def q51_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a 5-value (maximally skewed) key, salted 16 ways:
    partial count/sum per (key, salt) spreads the hot keys over 80
    reducers; the final re-aggregation touches 80 tiny rows. The oracle
    is the plain GROUP BY — identical answer, different execution."""
    orders = table(spark, sf_dir, "orders")
    partial = (
        orders.withColumn("_salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(16)))
        .groupBy("o_orderpriority", "_salt")
        .agg(
            F.count("*").alias("pcnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("psum"),
        )
    )
    return (
        partial.groupBy("o_orderpriority")
        .agg(
            F.sum("pcnt").alias("cnt"),
            F.sum("psum").cast("double").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "q51b_salted_join",
    "SELECT o_orderpriority, count(*) AS cnt FROM orders o JOIN lineitem l "
    "ON o.o_orderkey = l.l_orderkey GROUP BY o_orderpriority "
    "ORDER BY o_orderpriority",
)
def q51b_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: the (replicable) small side is exploded across all
    salt values, the big side carries one deterministic salt per row, and
    the join key becomes (key, salt) — a hot key's rows land on n_salts
    reducers instead of one. Oracle = the plain join."""
    n_salts = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(n_salts))
    )
    orders = (
        table(spark, sf_dir, "orders")
        .withColumn("_salts", F.sequence(F.lit(0), F.lit(n_salts - 1)))
        .withColumn("_salt", F.explode("_salts"))
        .drop("_salts")
        .withColumn("_salt", F.col("_salt").cast("long"))
    )
    joined = orders.hint("shuffle_hash").join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (orders._salt == li._salt),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("o_orderpriority")
    )


_BUCKET_TARGET_BYTES = 4 * 1024 * 1024  # parquet bytes per bucket (~16 MB in memory)


def _n_buckets_for(sf_dir: str) -> int:
    """Bucket count sized from the larger fact table's parquet bytes.

    A fixed bucket count is the classic bucketing scale bug: a bucketed
    scan cannot split below one task per bucket, so 8 buckets caps the
    join at 8-way parallelism forever — measured as q52's 5.7x sf0.1->sf1
    wall growth in SCALING_r03 (10x data, constant 8 tasks). Sizing
    buckets from bytes keeps per-task work constant as data grows; the
    power-of-two rounding keeps bucket pruning/compatibility simple and
    the 4096 clamp mirrors what a real warehouse does at 100 TB (fixed
    bucket count, multiple files per bucket, AQE handles residual skew).
    """
    bytes_max = 0
    for t in ("orders", "lineitem"):
        try:
            bytes_max = max(bytes_max, os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")))
        except OSError:
            pass
    n = 8
    while n < 4096 and bytes_max > n * _BUCKET_TARGET_BYTES:
        n *= 2
    return n


def write_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int | None = None
) -> str:
    """Persist orders and lineitem bucketed by the join key. Bucketed
    writes go through the session catalog (saveAsTable); the warehouse
    lives under /tmp keyed by scale factor + bucket count + a source
    fingerprint (so regenerated fixture data can never silently reuse a
    stale bucketed copy)."""
    if n_buckets is None:
        n_buckets = _n_buckets_for(sf_dir)
    from nfl_predictions_spark.state import fingerprint

    tag = (
        os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
        + f"_b{n_buckets}_{fingerprint(sf_dir, ('orders', 'lineitem'))}"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")
    done = {t[0] for t in spark.sql("SHOW TABLES IN buckets").select("tableName").collect()}
    specs = {
        f"orders_{tag}": ("orders", "o_orderkey"),
        f"lineitem_{tag}": ("lineitem", "l_orderkey"),
    }
    # GC stale copies of THIS sf_dir (ADVICE r04 #3: every fixture
    # regeneration mints a new fingerprint tag; without cleanup the old
    # bucketed copies accumulate unboundedly in the warehouse). Same
    # sf-prefix + different tag == superseded.
    import shutil
    from urllib.parse import urlparse

    sf_base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for old in sorted(done):
        for src in ("orders", "lineitem"):
            if old.startswith(f"{src}_{sf_base}_b") and old not in specs:
                spark.sql(f"DROP TABLE IF EXISTS buckets.{old}")
                shutil.rmtree(
                    os.path.join(warehouse, "buckets.db", old), ignore_errors=True
                )
                done.discard(old)
    from nfl_predictions_spark.catalog import ensure_catalog_table

    for tbl, (src, key) in specs.items():
        # adopt-or-build (VERDICT r09 #6): a complete on-disk copy left
        # by another session is REGISTERED, never wiped and rebuilt —
        # fresh processes no longer destroy bytes a concurrent reader
        # is scanning.
        ensure_catalog_table(
            spark,
            f"buckets.{tbl}",
            os.path.join(warehouse, "buckets.db", tbl),
            lambda src=src: table(spark, sf_dir, src),
            bucket=(n_buckets, key, key),
        )
    return tag


@_q(
    "q52_bucketed_join",
    "SELECT l_returnflag, count(*) AS cnt, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
)
def q52_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join over pre-bucketed tables: both sides hashed into the same 8
    buckets on the order key at write time, so the join plan has NO
    Exchange on either side (asserted in tests) — the repeated-join
    layout that removes the dominant shuffle at 100 TB."""
    tag = write_bucketed_tables(spark, sf_dir)
    orders = spark.table(f"buckets.orders_{tag}")
    li = spark.table(f"buckets.lineitem_{tag}")
    # merge hint: at test scale AQE would broadcast the small side (also
    # exchange-free); force SMJ to demonstrate the bucket co-location
    # that holds when BOTH sides are fact-table sized.
    return (
        orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("sum_price"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q120 — Bloom-filter semi-join (runtime-filter pattern, made explicit)
# ---------------------------------------------------------------------------

_BLOOM_BITS_PER_KEY = 10  # m = ~10 bits/key, k=3 => ~1.7% FPR at any sf
_BLOOM_K = 3  # hash functions
_BLOOM_WORD = 32  # bits packed per array word (fits BIGINT positive range)


def _bloom_m(n_build: int) -> int:
    """Filter size in bits for a build side of n keys: ~{_BLOOM_BITS_PER_KEY}
    bits/key rounded up to whole {_BLOOM_WORD}-bit words. Pure integer
    arithmetic so Spark and DuckDB derive the identical m."""
    n_words = (_BLOOM_BITS_PER_KEY * max(n_build, 1) + _BLOOM_WORD - 1) // _BLOOM_WORD
    return n_words * _BLOOM_WORD


def _bloom_pos_spark(key, seed: int, m: int):
    """Bit position for (key, seed): 60-bit md5 hex prefix mod m — the
    same cross-engine hash family the SimHash oracle uses."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"b{seed}"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (h % m).alias(f"p{seed}")


def _bloom_pos_duck(expr: str, seed: int) -> str:
    poly = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('b{seed}' || CAST({expr} AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"(({poly}) % mm.m)"


def _bloom_oracle() -> str:
    build = ", ".join(_bloom_pos_duck("c_custkey", s) for s in range(_BLOOM_K))
    pcols = ", ".join(f"{_bloom_pos_duck('o.o_custkey', s)} AS p{s}" for s in range(_BLOOM_K))
    probe = " AND ".join(
        f"((f.words[p{s} // {_BLOOM_WORD} + 1] >> (p{s} % {_BLOOM_WORD})) & 1) = 1"
        for s in range(_BLOOM_K)
    )
    return f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), mm AS (
      SELECT (({_BLOOM_BITS_PER_KEY} * greatest(count(*), 1) + {_BLOOM_WORD - 1})
              // {_BLOOM_WORD}) AS n_words,
             (({_BLOOM_BITS_PER_KEY} * greatest(count(*), 1) + {_BLOOM_WORD - 1})
              // {_BLOOM_WORD}) * {_BLOOM_WORD} AS m
      FROM dim
    ), pos AS (
      SELECT unnest([{build}]) AS p FROM dim, mm
    ), setw AS (
      SELECT p // {_BLOOM_WORD} AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD} AS INT)) AS word
      FROM (SELECT DISTINCT p FROM pos) GROUP BY w
    ), dense AS (
      SELECT gs.i AS w, COALESCE(setw.word, 0) AS word
      FROM (SELECT unnest(range(0, (SELECT n_words FROM mm))) AS i) gs
      LEFT JOIN setw ON setw.w = gs.i
    ), filt AS (
      SELECT list(word ORDER BY w) AS words FROM dense
    ), hashed AS (
      SELECT o.o_custkey, {pcols},
             o.o_custkey IN (SELECT c_custkey FROM dim) AS exact_pass
      FROM orders o CROSS JOIN mm
    ), probed AS (
      SELECT h.o_custkey, ({probe}) AS bloom_pass, h.exact_pass
      FROM hashed h CROSS JOIN filt f
    )
    SELECT CAST(count(*) FILTER (bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(count(*) FILTER (exact_pass) AS BIGINT) AS n_exact,
           CAST(count(*) FILTER (bloom_pass AND NOT exact_pass) AS BIGINT)
             AS n_false_pos,
           CAST(count(*) AS BIGINT) AS n_probed
    FROM probed
    """


@_q("q120_bloom_semi_join", _bloom_oracle())
def q120_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join — the runtime-filter pattern
    Spark's own `runtime.bloomFilter` optimization injects, built from
    first principles so the engine controls when it fires: hash each
    build-side key (BUILDING-segment customers) to k={_BLOOM_K} bit
    positions in a filter sized to the BUILD CARDINALITY
    (~{_BLOOM_BITS_PER_KEY} bits/key => ~1.7% FPR at any scale factor —
    a fixed m would saturate one decade up), pack the bits into
    {_BLOOM_WORD}-bit words in ONE dense broadcast array, and probe the
    fact table with k constant-time shift-and-mask word tests — no
    shuffle of the fact side, no O(set-bits) scan per row.

    Returns the filter's effectiveness report: rows passing the bloom
    probe, the exact semi-join cardinality, and the false-positive
    count (the gap the re-check join removes). The packed filter is
    m/8 bytes (~1.25 bytes/key), which is why this pattern ships a
    dimension predicate to 100 TB of fact scan for free. The bit
    positions use the cross-engine md5 hash family and m derives from
    count(*) by pure integer arithmetic, so DuckDB reproduces the
    filter bit-for-bit. The one driver-side action is the build-side
    count() that sizes m — the same scalar Spark's own runtime filter
    plans as a subquery."""
    cust = table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    m = _bloom_m(dim.count())
    n_words = m // _BLOOM_WORD
    pos = None
    for s in range(_BLOOM_K):
        part = dim.select(_bloom_pos_spark(F.col("c_custkey"), s, m).alias("p"))
        pos = part if pos is None else pos.unionByName(part)
    setw = (
        pos.distinct()
        .select(
            (F.col("p") / _BLOOM_WORD).cast("long").alias("w"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    filt = (
        spark.range(n_words)
        .select(F.col("id").alias("w"))
        .join(setw, "w", "left")
        .fillna({"word": 0})
        .agg(F.array_sort(F.collect_list(F.struct("w", "word"))).alias("sw"))
        .select(F.expr("transform(sw, x -> x.word)").alias("words"))
    )

    orders = table(spark, sf_dir, "orders").select("o_custkey")
    probed = orders.crossJoin(F.broadcast(filt))
    bloom_pass = None
    for s in range(_BLOOM_K):
        probed = probed.withColumn(
            f"p{s}", _bloom_pos_spark(F.col("o_custkey"), s, m)
        )
        term = F.expr(
            f"(shiftright(element_at(words, CAST(p{s} / {_BLOOM_WORD} AS INT) + 1), "
            f"CAST(p{s} % {_BLOOM_WORD} AS INT)) & 1) = 1"
        )
        bloom_pass = term if bloom_pass is None else bloom_pass & term
    exact = dim.select(F.col("c_custkey").alias("o_custkey")).distinct()
    probed = probed.withColumn("bloom_pass", bloom_pass).join(
        F.broadcast(exact.withColumn("exact_pass", F.lit(True))),
        "o_custkey",
        "left",
    ).fillna({"exact_pass": False})
    return probed.agg(
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_bloom_pass"),
        F.count(F.when(F.col("exact_pass"), 1)).alias("n_exact"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("exact_pass"), 1)).alias(
            "n_false_pos"
        ),
        F.count(F.lit(1)).alias("n_probed"),
    )


# ---------------------------------------------------------------------------
# q209 — null-key outer join with the null-split rewrite
# ---------------------------------------------------------------------------


def _nullsplit_oracle() -> str:
    return """
    WITH f AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey END AS fk,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    )
    SELECT coalesce(c.c_mktsegment, '__no_customer') AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(f.price) AS DOUBLE) AS total_price
    FROM f LEFT JOIN customer c ON f.fk = c.c_custkey
    GROUP BY segment ORDER BY segment
    """


@_q("q209_null_split_outer_join", _nullsplit_oracle())
def q209_null_split_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join on a foreign key that is frequently NULL (10% of
    orders here; in warehouse facts it's routinely 30%+), with the
    NULL-SPLIT rewrite: NULL keys can never match, yet a naive plan
    still shuffles them — all into the SAME hash partition, the
    classic silent skew straggler. The rewrite routes the NULL-key
    rows around the join entirely and unions them back as unmatched,
    so the shuffle carries only joinable keys.

    The oracle is the naive LEFT JOIN — the rewrite is provably
    equivalent because NULL never equals anything. Same DECIMAL sums
    both branches; the '__no_customer' class makes the routed rows
    visible in the report.
    """
    f = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 10 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("fk"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joinable = f.where(F.col("fk").isNotNull()).join(
        cust, F.col("fk") == F.col("c_custkey"), "left"
    )
    nulls = f.where(F.col("fk").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    merged = joinable.select("price", "c_mktsegment").unionByName(
        nulls.select("price", "c_mktsegment")
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("__no_customer")).alias(
                "segment"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q237 — join-output skew profile (where will the join's rows come from?)
# ---------------------------------------------------------------------------


@_q(
    "q237_join_skew_profile",
    """
    WITH co AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY k),
    cl AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY k),
    prod AS (
      SELECT co.k, CAST(co.c * cl.c AS BIGINT) AS out_rows
      FROM co JOIN cl ON cl.k = co.k
    ), r AS (
      SELECT k, out_rows,
             row_number() OVER (ORDER BY out_rows DESC, k) AS rn,
             count(*) OVER () AS nk,
             CAST(sum(out_rows) OVER () AS BIGINT) AS total
      FROM prod
    ), banded AS (
      SELECT CASE WHEN rn * 100 <= nk THEN 'top1pct'
                  WHEN rn * 10 <= nk THEN 'top10pct'
                  ELSE 'rest' END AS band,
             out_rows, total
      FROM r
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(out_rows) AS BIGINT) AS out_rows,
           CAST(sum(out_rows) AS DOUBLE) / any_value(total) AS share
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q237_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-output skew diagnosis — q205 profiles one table's key
    distribution; this profiles the JOIN's: per join key, the exact
    output contribution is count_left(k) * count_right(k), computed
    from the two per-key count aggregates (key-space sized, never the
    join itself). Keys rank into top-1% / top-10% / rest bands with
    each band's exact share of total join output — the number that
    decides whether AQE skew splitting, salting (q51b), or a bucketed
    layout (q52) is worth wiring in BEFORE running the join.

    Integer-exact throughout (counts, products, integer-arithmetic band
    thresholds rn*100 <= nk); the one division per band is
    BIGINT/BIGINT. Two map-side-combinable aggs + a key-space join —
    strictly cheaper than the join being diagnosed.

    No key-space rank window (VERDICT r05's single-partition family):
    band membership depends only on a key's rank vs floor(nk/100) and
    floor(nk/10), and ranks within a tie group of equal out_rows are
    consecutive, so each DISTINCT out_rows value (a bounded frame —
    products of two small per-key counts) contributes
    clamp(boundary - cum_below, 0, group_size) keys to each band in
    closed form. Which keys straddle a boundary is tie-order dependent,
    but the banded COUNTS and SUMS are not.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    co = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_o")
    )
    cl = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_l")
    )
    prod = co.join(cl, "k").select(
        "k", (F.col("c_o") * F.col("c_l")).cast("long").alias("out_rows")
    )
    g = prod.groupBy(F.col("out_rows").alias("v")).agg(
        F.count(F.lit(1)).alias("gs")
    )
    wv = Window.orderBy(F.desc("v")).rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        g.withColumn("cb", F.coalesce(F.sum("gs").over(wv), F.lit(0)))
        .withColumn("nk", F.sum("gs").over(Window.partitionBy()))
        .withColumn(
            "total",
            F.sum(F.col("v") * F.col("gs")).over(Window.partitionBy()),
        )
    )
    b1 = F.floor(F.col("nk") / 100)
    b10 = F.floor(F.col("nk") / 10)
    upto1 = F.greatest(F.least(b1 - F.col("cb"), F.col("gs")), F.lit(0))
    upto10 = F.greatest(F.least(b10 - F.col("cb"), F.col("gs")), F.lit(0))
    in10 = upto10 - upto1
    rest = F.col("gs") - upto10
    one = offs.agg(
        F.sum(upto1).alias("k1"),
        F.sum(upto1 * F.col("v")).alias("o1"),
        F.sum(in10).alias("k10"),
        F.sum(in10 * F.col("v")).alias("o10"),
        F.sum(rest).alias("kr"),
        F.sum(rest * F.col("v")).alias("orr"),
        F.any_value("total").alias("total"),
    )
    stacked = one.select(
        F.expr(
            "stack(3, 'top1pct', k1, o1, 'top10pct', k10, o10, "
            "'rest', kr, orr) AS (band, n_keys, out_rows)"
        ),
        "total",
    )
    return (
        stacked.filter(F.col("n_keys") > 0)
        .select(
            "band",
            F.col("n_keys").cast("long"),
            F.col("out_rows").cast("long").alias("out_rows"),
            (F.col("out_rows").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q238 — file-level Bloom pruning (equality-predicate data skipping)
# ---------------------------------------------------------------------------

_BFP_FILES = 16
_BFP_M = 4096  # bits per per-file filter (fixed -> SQL stays simple)


def _bfp_pos_duck(expr: str, seed: int) -> str:
    poly = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('f{seed}' || CAST({expr} AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"(({poly}) % {_BFP_M})"


def _bfp_pos_spark(key, seed: int):
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"f{seed}"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % _BFP_M


def _bfp_oracle() -> str:
    k = _BLOOM_K
    build = " UNION ALL ".join(
        f"SELECT file_id, {_bfp_pos_duck('l_partkey', s)} AS pos FROM f"
        for s in range(k)
    )
    probe = " UNION ALL ".join(
        f"SELECT pk, {s} AS seed, {_bfp_pos_duck('pk', s)} AS pos FROM probes"
        for s in range(k)
    )
    return f"""
    WITH m AS (
      SELECT max(l_orderkey) AS mx, min(l_partkey) AS pmin,
             max(l_partkey) AS pmax
      FROM lineitem
    ), f AS (
      SELECT CAST(floor(l_orderkey * {_BFP_FILES}.0 / (mx + 1)) AS BIGINT)
               AS file_id, l_partkey
      FROM lineitem CROSS JOIN m
    ), probes AS (
      SELECT unnest([pmin, pmin + 1, pmin + 2, pmax + 1, pmax + 2]) AS pk
      FROM m
    ), bpos AS (SELECT DISTINCT file_id, pos FROM ({build})),
    words AS (
      SELECT file_id, pos // 32 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
      FROM bpos GROUP BY file_id, w
    ), ppos AS ({probe}),
    chk AS (
      SELECT p.pk, fl.file_id,
             sum(CASE WHEN ((COALESCE(w.word, 0) >> CAST(p.pos % 32 AS INT)) & 1) = 1
                      THEN 1 ELSE 0 END) AS hits
      FROM ppos p
      CROSS JOIN (SELECT DISTINCT file_id FROM f) fl
      LEFT JOIN words w ON w.file_id = fl.file_id AND w.w = p.pos // 32
      GROUP BY p.pk, fl.file_id
    ), act AS (
      SELECT pk, file_id FROM probes JOIN f ON f.l_partkey = probes.pk
      GROUP BY pk, file_id
    )
    SELECT c.pk AS probe_key,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN c.hits = {k} THEN 1 ELSE 0 END) AS BIGINT)
             AS files_would_read,
           CAST(sum(CASE WHEN a.file_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS files_containing,
           CAST(sum(CASE WHEN c.hits = {k} AND a.file_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
    FROM chk c LEFT JOIN act a ON a.pk = c.pk AND a.file_id = c.file_id
    GROUP BY c.pk ORDER BY probe_key
    """


@_q("q238_bloom_file_pruning", _bfp_oracle())
def q238_bloom_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-predicate data skipping via per-file Bloom filters — the
    companion q226's min/max zone maps cannot provide: l_partkey is
    high-cardinality and unclustered within the orderkey-range files, so
    range stats prune nothing, but a {_BFP_M}-bit per-file Bloom answers
    "could partkey P be in this file?" from manifest-sized state (what
    parquet bloom_filter columns / Iceberg puffin files store). Probes
    cover present keys AND absent keys, and the output separates honest
    reads from `false_positives` — measuring the filter, not trusting it.

    Build = one scan + a (files x words) bit_or aggregate; probe = a
    15-row broadcast against that table. Exact containment comes from
    the same scan's group-by for the certification columns. All hashing
    is the engine-neutral md5-prefix family; bit arithmetic is identical
    BIGINT shifts in both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    m = F.broadcast(
        li.agg(
            F.max("l_orderkey").alias("mx"),
            F.min("l_partkey").alias("pmin"),
            F.max("l_partkey").alias("pmax"),
        )
    )
    f = li.crossJoin(m).select(
        F.floor(F.col("l_orderkey") * _BFP_FILES / (F.col("mx") + 1))
        .cast("long")
        .alias("file_id"),
        "l_partkey",
        "pmin",
        "pmax",
    )
    probes = (
        f.select("pmin", "pmax")
        .limit(1)
        .select(
            F.explode(
                F.array(
                    F.col("pmin"),
                    F.col("pmin") + 1,
                    F.col("pmin") + 2,
                    F.col("pmax") + 1,
                    F.col("pmax") + 2,
                )
            ).alias("pk")
        )
    )
    bpos = f.select(
        "file_id",
        F.explode(
            F.array(*[_bfp_pos_spark(F.col("l_partkey"), s) for s in range(_BLOOM_K)])
        ).alias("pos"),
    ).distinct()
    words = bpos.groupBy(
        "file_id", (F.col("pos") / 32).cast("long").alias("w")
    ).agg(
        # shiftleft's bit-count arg must be a literal in the Python API;
        # the SQL form accepts a column
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        ).alias("word")
    )
    ppos = probes.select(
        "pk",
        F.explode(
            F.array(*[_bfp_pos_spark(F.col("pk"), s) for s in range(_BLOOM_K)])
        ).alias("pos"),
    )
    files = f.select("file_id").distinct()
    words2 = words.select(
        F.col("file_id").alias("wf"), "w", "word"
    )
    chk = (
        ppos.crossJoin(files)
        .join(
            words2,
            (F.col("wf") == F.col("file_id"))
            & (F.col("w") == (F.col("pos") / 32).cast("long")),
            "left",
        )
        .drop("wf")
        .groupBy("pk", "file_id")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(shiftright(coalesce(word, CAST(0 AS BIGINT)),"
                        " CAST(pos % 32 AS INT)) & 1) = 1"
                    ),
                    1,
                ).otherwise(0)
            ).alias("hits")
        )
    )
    act = (
        probes.join(f, f.l_partkey == probes.pk)
        .select("pk", "file_id")
        .distinct()
        .withColumn("present", F.lit(1))
    )
    return (
        chk.join(act, ["pk", "file_id"], "left")
        .groupBy(F.col("pk").alias("probe_key"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(F.col("hits") == _BLOOM_K, 1).otherwise(0))
            .cast("long")
            .alias("files_would_read"),
            F.sum(F.when(F.col("present") == 1, 1).otherwise(0))
            .cast("long")
            .alias("files_containing"),
            F.sum(
                F.when(
                    (F.col("hits") == _BLOOM_K) & F.col("present").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("false_positives"),
        )
        .select(
            "probe_key",
            F.col("n_files").cast("long"),
            "files_would_read",
            "files_containing",
            "false_positives",
        )
        .orderBy("probe_key")
    )


# ---------------------------------------------------------------------------
# q272 — Catalyst-injected runtime Bloom-filter join (InjectRuntimeFilter)
# ---------------------------------------------------------------------------

#: Runtime-filter posture for q272. Spark only injects a Bloom filter
#: into a SHUFFLE join (a broadcast join already prunes at the hash
#: probe), and only when the application-side scan is big enough to pay
#: for the extra build — thresholds sized for clusters, not a local
#: fixture, so the demo lowers them for the duration of ITS OWN
#: planning/execution and restores them in a finally.
_RF_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
}


def _rf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical query under the runtime filter: urgent-order line
    revenue by return flag — a selective dim filter (orders, ~1/5 pass)
    whose join-key set Spark condenses into a bloom_filter_agg and
    probes on the fact side with might_contain BEFORE the fact rows
    reach the shuffle."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q272_runtime_bloom_join",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q272_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's own runtime-filter injection (InjectRuntimeFilter,
    SPARK-32268) as a first-class surface, complementing the engine's
    hand-built Bloom joins (q120 semi-join filter, q238 file pruning):
    the optimizer itself condenses the filtered dim's join keys into a
    bloom_filter_agg scalar subquery and rewrites the fact side to
    ``might_contain(bloom, xxhash64(l_orderkey))`` — pruning fact rows
    BEFORE the join shuffle, which is the entire economics of runtime
    filtering at 100 TB (the filter removes ~4/5 of shuffle write here,
    ~all of it for more selective dims).

    The injection fires only for shuffle joins above production-sized
    scan thresholds (a 10 GB application side by default), so this
    function scopes the documented conf posture (_RF_CONFS) around ITS
    OWN plan: it primes the Dataset's cached physical plan inside the
    window and restores every conf in a finally — later queries in the
    same session see untouched settings, and the driver's .collect() on
    the returned handle executes the already-planned bloom-filtered
    join. (A re-plan from a fresh writer path outside the window falls
    back to the plain shuffle join — value-identical by construction,
    which is also what the DuckDB oracle proves.)

    Plan shape pinned in tests: bloom_filter_agg on the creation side,
    might_contain on the probe side, under the scoped confs.
    """
    df = _rf_join(spark, sf_dir)  # table() first: tune_for_input has run
    old: dict[str, str | None] = {}
    for k, v in _RF_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        df = _rf_join(spark, sf_dir)  # re-plan under the scoped posture
        # prime the lazy physical plan NOW so the injected runtime
        # filter is baked into this Dataset's cached QueryExecution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "bloomfilter" in plan.lower(), (
            "runtime filter did not inject — conf posture regressed"
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


# ---------------------------------------------------------------------------
# q276 — hybrid hot/cold skew join (frequency-split broadcast + shuffle)
# ---------------------------------------------------------------------------

_HOT_K = 20  # hot-key count: top-K fact keys by frequency


@_q(
    "q276_hybrid_skew_join",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q276_hybrid_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid hot/cold join — the classic skew-join decomposition that
    predates (and generalizes) AQE's runtime splitting: one cheap
    frequency pass finds the {_HOT_K} hottest fact keys; fact rows with
    hot keys join against the BROADCAST hot slice of the dimension
    (every executor handles its share of the hot key — no single
    reducer melts), all other rows take the ordinary shuffle join; the
    two legs union BEFORE the aggregate, whose partial/final merge
    makes the decomposition invisible in the result — the oracle is
    the plain join, proving the rewrite is pure execution strategy
    (same contract as q51/q51b/q52).

    At 100 TB this is the shape for dimensions too big to broadcast
    WHOLE but whose hot slice is tiny: the broadcast is K rows, the
    shuffle leg's key distribution is de-skewed by construction. Here
    the cold leg pins an explicit merge-hint (at fixture scale Catalyst
    would broadcast the whole dim and hide the pattern); both physical
    strategies are plan-asserted in tests. The hot-key set is
    deterministic (count DESC, key ASC top-{_HOT_K}).
    """
    orders = spread(table(spark, sf_dir, "orders"))
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hot = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("o_custkey"))
        .limit(_HOT_K)
        .select(F.col("o_custkey").alias("hot_key"))
    )
    fact = orders.join(
        F.broadcast(hot), orders.o_custkey == hot.hot_key, "left"
    )
    hot_leg = (
        fact.filter(F.col("hot_key").isNotNull())
        .join(
            F.broadcast(cust.join(F.broadcast(hot), cust.c_custkey == hot.hot_key, "semi")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_totalprice")
    )
    cold_leg = (
        fact.filter(F.col("hot_key").isNull())
        .join(cust.hint("merge"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_totalprice")
    )
    return (
        hot_leg.unionByName(cold_leg)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_spend"),
        )
        .select("c_mktsegment", F.col("n_orders").cast("long"), "total_spend")
        .orderBy("c_mktsegment")
    )
