"""Warehouse-lifecycle operators: slowly-changing dimensions and
data-layout clustering (engine-added; no reference counterpart — the
reference's only "dimension" is the static play-type lookup in
``assets/app_nfl.py``, cited for parity scope only).

- q118_scd2_dimension — build a type-2 slowly-changing dimension from
  an append-only change log: collapse consecutive identical attribute
  values per key, stamp ``valid_from``/``valid_to`` validity intervals
  and an ``is_current`` flag. The bread-and-butter warehouse op for
  dimension history.
- q119_zorder_layout — Z-order (Morton-curve) data-layout clustering:
  interleave the bits of two dimension keys into one sort key so a
  range-partitioned layout clusters BOTH dimensions at once, and
  quantify the min/max span per storage bucket against a single-column
  sort. This is the math behind multi-dimensional file skipping
  (Delta/Iceberg OPTIMIZE ZORDER); here it is expressed as pure
  Catalyst bit arithmetic so the layout decision itself is a query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark import state
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
# q118 — SCD type-2 dimension build
# ---------------------------------------------------------------------------


@_q(
    "q118_scd2_dimension",
    """
    WITH e AS (
      SELECT o_custkey AS custkey, o_orderdate AS ts, o_orderkey AS seq,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), ch AS (
      SELECT custkey, ts, seq, status FROM e
      WHERE prev IS NULL OR status <> prev
    ), v AS (
      SELECT custkey, status, ts AS valid_from,
        lead(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS valid_to,
        row_number() OVER (PARTITION BY custkey ORDER BY ts, seq) AS version
      FROM ch
    )
    SELECT custkey, CAST(version AS BIGINT) AS version, status,
           valid_from, valid_to, valid_to IS NULL AS is_current
    FROM v ORDER BY custkey, version
    """,
)
def q118_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from an append-only change log (the
    orders table read as a per-customer status event stream): collapse
    consecutive runs of the same status, then stamp each surviving
    change with ``valid_from`` (its event time), ``valid_to`` (the next
    change's event time, NULL while current) and ``is_current``.

    All three windows share ONE partitioning (custkey) and ONE sort
    (event time, order key as the deterministic tie-break), so Catalyst
    plans a single shuffle + single sort and pipelines lag -> filter ->
    lead/row_number. At 100 TB the dimension key is the shuffle key —
    no global sort anywhere, and a daily incremental build would feed
    only the affected custkeys through the same plan (the q112
    state-merge pattern)."""
    ev = Window.partitionBy("custkey").orderBy("ts", "seq")
    e = (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
            F.col("o_orderstatus").alias("status"),
        )
        .withColumn("prev", F.lag("status").over(ev))
    )
    ch = e.filter(F.col("prev").isNull() | (F.col("status") != F.col("prev")))
    vw = Window.partitionBy("custkey").orderBy("ts", "seq")
    return (
        ch.select(
            "custkey",
            "status",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(vw).alias("valid_to"),
            F.row_number().over(vw).cast("long").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "custkey", "version", "status", "valid_from", "valid_to", "is_current"
        )
        .orderBy("custkey", "version")
    )


# ---------------------------------------------------------------------------
# q119 — Z-order layout clustering
# ---------------------------------------------------------------------------

_ZBITS = 8  # bits per dimension; z in [0, 2^16)
_ZBUCKETS = 16  # storage "files" the layout is range-split into


def _interleave_spark(x: str, y: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i + 1})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i})")
    return " + ".join(terms)


def _interleave_duck(x: str, y: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    z = _interleave_duck("xb", "yb")
    return f"""
    WITH m AS (
      SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem
    ), g AS (
      SELECT CAST(floor(l_partkey * {2**_ZBITS}.0 / (maxp + 1)) AS BIGINT) AS xb,
             CAST(floor(l_suppkey * {2**_ZBITS}.0 / (maxs + 1)) AS BIGINT) AS yb
      FROM lineitem CROSS JOIN m
    ), z AS (
      SELECT xb, yb,
        CAST(floor(({z}) / {4**_ZBITS} * {_ZBUCKETS}.0) AS BIGINT) AS zbucket,
        CAST(floor(xb / {2**_ZBITS} * {_ZBUCKETS}.0) AS BIGINT) AS xbucket
      FROM g
    ), layouts AS (
      SELECT 'zorder' AS layout, zbucket AS bucket, xb, yb FROM z
      UNION ALL
      SELECT 'xsort' AS layout, xbucket AS bucket, xb, yb FROM z
    )
    SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n_rows,
           max(xb) - min(xb) AS x_span, max(yb) - min(yb) AS y_span
    FROM layouts GROUP BY layout, bucket ORDER BY layout, bucket
    """


@_q("q119_zorder_layout", _zorder_oracle())
def q119_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering: quantize (l_partkey, l_suppkey) to
    {2**_ZBITS} buckets each, interleave their bits into a Morton code
    (pure shift/mask expressions — codegen, no UDF), range-split the
    table into {_ZBUCKETS} storage buckets by that code, and report
    each bucket's min/max span in BOTH dimensions next to the same
    stats for a plain single-column sort layout.

    The spans ARE the file-skipping story: under 'xsort' a bucket pins
    x to ~1/{_ZBUCKETS} of its range but spans ALL of y (y_span ~255 —
    a y-predicate prunes nothing); under 'zorder' every bucket holds a
    bounded square in (x, y), so min/max pruning works for predicates
    on either dimension. A real table write is just
    ``df.repartitionByRange({_ZBUCKETS}, zval).sortWithinPartitions(
    zval).write.parquet(...)`` — the layout metric computed here is
    what OPTIMIZE ZORDER decides with. One scan, one broadcast of the
    two maxima, one small agg; scale-independent."""
    li = table(spark, sf_dir, "lineitem")
    m = F.broadcast(
        li.agg(
            F.max("l_partkey").alias("maxp"), F.max("l_suppkey").alias("maxs")
        )
    )
    g = li.crossJoin(m).select(
        F.floor(F.col("l_partkey") * (2**_ZBITS) / (F.col("maxp") + 1))
        .cast("long")
        .alias("xb"),
        F.floor(F.col("l_suppkey") * (2**_ZBITS) / (F.col("maxs") + 1))
        .cast("long")
        .alias("yb"),
    )
    z = g.select(
        "xb",
        "yb",
        F.floor(
            F.expr(_interleave_spark("xb", "yb")) / (4**_ZBITS) * _ZBUCKETS
        )
        .cast("long")
        .alias("zbucket"),
        F.floor(F.col("xb") / (2**_ZBITS) * _ZBUCKETS)
        .cast("long")
        .alias("xbucket"),
    )
    both = z.select(
        F.lit("zorder").alias("layout"), F.col("zbucket").alias("bucket"), "xb", "yb"
    ).unionAll(
        z.select(
            F.lit("xsort").alias("layout"), F.col("xbucket").alias("bucket"), "xb", "yb"
        )
    )
    return (
        both.groupBy("layout", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("xb") - F.min("xb")).alias("x_span"),
            (F.max("yb") - F.min("yb")).alias("y_span"),
        )
        .orderBy("layout", "bucket")
    )


# ---------------------------------------------------------------------------
# q164 — incremental materialized-view maintenance (delta propagation)
# ---------------------------------------------------------------------------

#: Orders on/after this date are the "delta" partition; the rest is the
#: base the view was last refreshed at.
_MV_CUTOFF = "2001-01-01"


def _mv_oracle() -> str:
    return """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_rev,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """


def _mv_agg(df: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """The view definition: per-nation revenue + order count. Shared by
    the base refresh and the delta increment — incremental maintenance
    is only sound when both sides run the same plan fragment."""
    return (
        df.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_q("q164_incremental_mv", _mv_oracle())
def q164_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance by delta propagation:
    V_new = merge(V_base, Agg(delta orders JOIN dims)).

    The per-nation revenue view is refreshed for orders before
    _MV_CUTOFF and materialized to a parquet "view store" under /tmp
    (atomic-rename staging, same pattern as the stream chunk cache);
    subsequent runs read the base state back and join ONLY the delta
    partition — the classic dA |><| B half of join-view maintenance
    (B, the customer dim, is unchanged, so the A |><| dB and dA |><| dB
    terms vanish). Merge is a full-outer coalesce of the two partial
    aggregates, exactly the partial+final hash-agg decomposition
    Catalyst itself uses, so the result provably equals the full
    recompute the oracle runs.

    Scale: the base scan cost is paid once per refresh epoch, not per
    query; the per-run work is O(|delta|) plus a |nations|-sized merge.
    Sums ride exact DECIMAL(18,2) so merge order cannot move cents.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    # Key the view store by a source-data fingerprint, not just the
    # sf_dir basename: if the fixture data at the same path is
    # regenerated, a stale base would silently merge into wrong totals
    # while the oracle recomputes fresh.
    store = os.path.join(
        state.staged_path(
            sf_dir, os.path.join("mv", "nation_rev"), ("orders", "customer", "nation")
        ),
        "base",
    )
    state.atomic_stage(
        _mv_agg(orders.where(F.col("o_orderdate") < cutoff), cust, nat), store
    )

    base = spark.read.parquet(store)
    delta = _mv_agg(orders.where(F.col("o_orderdate") >= cutoff), cust, nat)
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.nation") == F.col("d.nation"), "full_outer")
        .select(
            F.coalesce(F.col("b.nation"), F.col("d.nation")).alias("nation"),
            F.coalesce(F.col("b.rev"), F.lit(0).cast("decimal(18,2)")).alias("b_rev"),
            F.coalesce(F.col("d.rev"), F.lit(0).cast("decimal(18,2)")).alias("d_rev"),
            (
                F.coalesce(F.col("b.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
        )
        .select(
            "nation",
            (F.col("b_rev") + F.col("d_rev")).cast("double").alias("total_rev"),
            "n_orders",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q170 — snapshot diff (CDC between two table versions)
# ---------------------------------------------------------------------------

_DIFF_BASE_END = "2000-01-01"
_DIFF_CURR_END = "2001-01-01"


def _snapshot_diff_oracle() -> str:
    return f"""
    WITH a AS (
      SELECT o_orderkey AS pk, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '{_DIFF_BASE_END}'
    ), b AS (
      SELECT o_orderkey AS pk, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  AND o_orderdate < TIMESTAMP '{_DIFF_BASE_END}'
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '{_DIFF_CURR_END}' AND o_orderkey % 11 <> 0
    ), j AS (
      SELECT coalesce(a.pk, b.pk) AS pk,
             CASE
               WHEN a.pk IS NULL THEN 'insert'
               WHEN b.pk IS NULL THEN 'delete'
               WHEN md5(concat_ws('|', a.o_orderstatus, a.o_totalprice))
                 <> md5(concat_ws('|', b.o_orderstatus, b.o_totalprice))
                 THEN 'update'
               ELSE 'unchanged'
             END AS change_type
      FROM a FULL OUTER JOIN b ON a.pk = b.pk
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pk) AS BIGINT) AS key_sum
    FROM j GROUP BY change_type ORDER BY change_type
    """


@_q("q170_snapshot_diff", _snapshot_diff_oracle())
def q170_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots of the orders table: classify every
    primary key as insert / delete / update / unchanged and prove
    row-level identification with a per-class key checksum.

    The "current" snapshot is derived deterministically from the base
    (a year of inserts, a 10% price bump on keys % 7, deletes on
    keys % 11) so both engines diff identical versions. Change
    detection compares an md5 row fingerprint instead of column-by-
    column equality — at 100 TB the fingerprint is computed once per
    row map-side and the diff is one pk-keyed full-outer join of
    16-byte digests, independent of column count (the same digest
    trick as q38's exact dedup). This is the table-format-free core of
    what Delta/Iceberg CDC readers emit.
    """
    orders = table(spark, sf_dir, "orders")
    base_end = F.lit(_DIFF_BASE_END).cast("timestamp")
    curr_end = F.lit(_DIFF_CURR_END).cast("timestamp")

    a = orders.where(F.col("o_orderdate") < base_end).select(
        F.col("o_orderkey").alias("pk"), "o_orderstatus", "o_totalprice"
    )
    b = (
        orders.where(
            (F.col("o_orderdate") < curr_end) & (F.col("o_orderkey") % 11 != 0)
        )
        .select(
            F.col("o_orderkey").alias("pk"),
            "o_orderstatus",
            F.when(
                (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderdate") < base_end),
                F.col("o_totalprice") * 1.1,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )

    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            "pk",
            F.md5(
                F.concat_ws("|", F.col("o_orderstatus"), F.col("o_totalprice"))
            ).alias("fp"),
        )

    fa, fb = fp(a).alias("a"), fp(b).alias("b")
    j = fa.join(fb, F.col("a.pk") == F.col("b.pk"), "full_outer").select(
        F.coalesce(F.col("a.pk"), F.col("b.pk")).alias("pk"),
        F.when(F.col("a.pk").isNull(), "insert")
        .when(F.col("b.pk").isNull(), "delete")
        .when(F.col("a.fp") != F.col("b.fp"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        j.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pk").alias("key_sum"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# q179 — point-in-time lookup against the SCD2 dimension
# ---------------------------------------------------------------------------


def _pit_oracle() -> str:
    return """
    WITH e AS (
      SELECT o_custkey AS custkey, o_orderdate AS ts, o_orderkey AS seq,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), ch AS (
      SELECT custkey, ts, seq, status FROM e
      WHERE prev IS NULL OR status <> prev
    ), dim AS (
      SELECT custkey, status, ts AS valid_from,
        lead(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS valid_to
      FROM ch
    ), facts AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
             o.o_custkey AS custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), pit AS (
      SELECT f.l_orderkey, f.l_linenumber, d.status
      FROM facts f
      LEFT JOIN dim d ON d.custkey = f.custkey
                     AND d.valid_from <= f.l_shipdate
                     AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
    )
    SELECT coalesce(status, '__before_first_version') AS status_at_ship,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(l_orderkey + l_linenumber) AS BIGINT) AS key_sum
    FROM pit GROUP BY status_at_ship ORDER BY status_at_ship
    """


@_q("q179_scd2_pit_lookup", _pit_oracle())
def q179_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: attribute every lineitem to the customer
    STATUS THAT WAS CURRENT when the line shipped, via the SCD2
    dimension q118 builds — the temporal-join correctness rule that
    separates a warehouse from a spreadsheet (joining today's dimension
    row onto yesterday's fact silently rewrites history).

    The validity intervals partition each customer's timeline, so the
    interval predicate matches at most one version per fact — the join
    is provably non-duplicating. Lines shipped before the customer's
    first recorded version surface as '__before_first_version' instead
    of silently dropping. Shape: custkey equi-join with the interval
    bound as a residual; the dimension side is version-count-sized, so
    at 100 TB it broadcasts while facts stay in place (the q63 as-of
    decomposition is the fallback when even the dim outgrows memory).
    """
    dim = (
        q118_scd2_dimension(spark, sf_dir)
        .select("custkey", "status", "valid_from", "valid_to")
        .alias("d")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    facts = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", F.col("o_custkey").alias("custkey"))
        .alias("f")
    )
    pit = facts.join(
        F.broadcast(dim),
        (F.col("d.custkey") == F.col("f.custkey"))
        & (F.col("d.valid_from") <= F.col("f.l_shipdate"))
        & (F.col("d.valid_to").isNull() | (F.col("f.l_shipdate") < F.col("d.valid_to"))),
        "left",
    )
    return (
        pit.select(
            F.coalesce(F.col("status"), F.lit("__before_first_version")).alias(
                "status_at_ship"
            ),
            (F.col("l_orderkey") + F.col("l_linenumber")).alias("k"),
        )
        .groupBy("status_at_ship")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("k").alias("key_sum"),
        )
        .orderBy("status_at_ship")
    )


# ---------------------------------------------------------------------------
# q180 — right-to-be-forgotten cascade (GDPR erasure audit)
# ---------------------------------------------------------------------------

_FORGET_MOD = 13


def _forget_oracle() -> str:
    return f"""
    WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % {_FORGET_MOD} = 0),
    o_purge AS (
      SELECT o_orderkey FROM orders JOIN f ON o_custkey = c_custkey
    ),
    l_purge AS (
      SELECT l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN o_purge p ON l.l_orderkey = p.o_orderkey
    )
    SELECT 'customer' AS tbl,
           (SELECT CAST(count(*) AS BIGINT) FROM f) AS purged,
           (SELECT CAST(count(*) AS BIGINT) FROM customer)
             - (SELECT count(*) FROM f) AS remaining,
           (SELECT CAST(coalesce(sum(c_custkey), 0) AS BIGINT) FROM f) AS purge_key_sum
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(count(*) AS BIGINT) FROM o_purge),
           (SELECT CAST(count(*) AS BIGINT) FROM orders)
             - (SELECT count(*) FROM o_purge),
           (SELECT CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) FROM o_purge)
    UNION ALL
    SELECT 'lineitem',
           (SELECT CAST(count(*) AS BIGINT) FROM l_purge),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
             - (SELECT count(*) FROM l_purge),
           (SELECT CAST(coalesce(sum(l_orderkey + l_linenumber), 0) AS BIGINT)
              FROM l_purge)
    ORDER BY tbl
    """


@_q("q180_forget_cascade", _forget_oracle())
def q180_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure planning: given a deletion set of
    customers, resolve the full FK cascade (customer -> orders ->
    lineitem) and report per-table purge/remaining counts plus a purge
    key checksum — the audit artifact a compliance pipeline must
    produce BEFORE rewriting any files.

    Shape: the deletion set is broadcast down the FK chain (a
    deletion batch is always small relative to the fact tables), each
    table contributes one semi-join + one count — no fact table is
    scanned more than once, and the actual rewrite is q82's compaction
    with the semi-join flipped to anti (not run here: the audit is the
    query; the rewrite is a write job).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    f = cust.where(F.col("c_custkey") % _FORGET_MOD == 0).select("c_custkey")
    o_purge = orders.join(
        F.broadcast(f), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey")
    l_purge = li.join(
        F.broadcast(o_purge.select(F.col("o_orderkey").alias("pk"))),
        F.col("l_orderkey") == F.col("pk"),
    ).select("l_orderkey", "l_linenumber")

    def _row(tbl: str, purge: DataFrame, total: DataFrame, key: F.Column) -> DataFrame:
        p = purge.agg(
            F.count(F.lit(1)).alias("purged"),
            F.coalesce(F.sum(key), F.lit(0)).alias("purge_key_sum"),
        )
        t = total.agg(F.count(F.lit(1)).alias("n_total"))
        return p.crossJoin(t).select(
            F.lit(tbl).alias("tbl"),
            "purged",
            (F.col("n_total") - F.col("purged")).alias("remaining"),
            "purge_key_sum",
        )

    out = (
        _row("customer", f, cust, F.col("c_custkey"))
        .unionByName(_row("orders", o_purge, orders, F.col("o_orderkey")))
        .unionByName(
            _row(
                "lineitem",
                l_purge,
                li,
                F.col("l_orderkey") + F.col("l_linenumber"),
            )
        )
    )
    return out.orderBy("tbl")


# ---------------------------------------------------------------------------
# q221 — incremental MV maintenance WITH retractions (insert/update/delete)
# ---------------------------------------------------------------------------


def _mv_retraction_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0
                  AND o_orderdate < TIMESTAMP '{_DIFF_BASE_END}'
                  THEN CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             END AS cents
      FROM orders
      WHERE o_orderdate < TIMESTAMP '{_DIFF_CURR_END}' AND o_orderkey % 11 <> 0
    )
    SELECT n.n_name AS nation,
           CAST(sum(b.cents) AS DOUBLE) / 100.0 AS total_rev,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b
    JOIN customer c ON c.c_custkey = b.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name ORDER BY nation
    """


@_q("q221_mv_retraction", _mv_retraction_oracle())
def q221_mv_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental view maintenance: the per-nation revenue view is
    kept current under INSERTS, UPDATES, and DELETES by applying q170's
    CDC diff as signed retractions — V_new = V_base + Agg(+new inserts)
    + Agg(new-old updates) - Agg(-old deletes) — the complete
    change-propagation algebra (q164 covers the append-only half).

    The oracle recomputes the view from the current snapshot directly,
    so a value-hash match PROVES the retraction algebra equals
    recompute. Money rides integer CENTS (floor(p*100+0.5), and the
    10% bump as floor(p*1.1*100+0.5) — the identical IEEE sequence in
    both engines), so +/- contributions cancel EXACTLY; SUM/COUNT are
    self-maintainable aggregates, which is what makes this O(|delta|)
    per refresh at 100 TB while the oracle's recompute is O(|table|).
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base_end = F.lit(_DIFF_BASE_END).cast("timestamp")
    curr_end = F.lit(_DIFF_CURR_END).cast("timestamp")

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    bumped = F.floor(F.col("o_totalprice") * 1.1 * 100 + 0.5).cast("long")

    snap_a = orders.where(F.col("o_orderdate") < base_end).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_custkey").alias("ck"),
        cents.alias("cents"),
    )
    snap_b = orders.where(
        (F.col("o_orderdate") < curr_end) & (F.col("o_orderkey") % 11 != 0)
    ).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_custkey").alias("ck"),
        F.when(
            (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderdate") < base_end),
            bumped,
        )
        .otherwise(cents)
        .alias("cents"),
    )

    def to_nation(df: DataFrame) -> DataFrame:
        return df.join(cust, df.ck == cust.c_custkey).join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        )

    v_base = (
        to_nation(snap_a)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n"))
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    diff = a.join(b, F.col("a.pk") == F.col("b.pk"), "full_outer").select(
        F.coalesce(F.col("a.ck"), F.col("b.ck")).alias("ck"),
        # signed retraction contribution: insert +new, delete -old,
        # update new-old, unchanged 0 (exact integer cancellation)
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            - F.coalesce(F.col("a.cents"), F.lit(0))
        ).alias("dcents"),
        F.when(F.col("a.pk").isNull(), 1)
        .when(F.col("b.pk").isNull(), -1)
        .otherwise(0)
        .alias("dn"),
    )
    v_delta = (
        to_nation(diff)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("dcents").alias("dcents"), F.sum("dn").alias("dn"))
    )
    vb, vd = v_base.alias("vb"), v_delta.alias("vd")
    return (
        vb.join(vd, F.col("vb.nation") == F.col("vd.nation"), "full_outer")
        .select(
            F.coalesce(F.col("vb.nation"), F.col("vd.nation")).alias("nation"),
            (
                F.coalesce(F.col("vb.cents"), F.lit(0))
                + F.coalesce(F.col("vd.dcents"), F.lit(0))
            ).alias("cents"),
            (
                F.coalesce(F.col("vb.n"), F.lit(0))
                + F.coalesce(F.col("vd.dn"), F.lit(0))
            ).alias("n_orders"),
        )
        .filter(F.col("n_orders") > 0)
        .select(
            "nation",
            (F.col("cents").cast("double") / 100.0).alias("total_rev"),
            F.col("n_orders").cast("long"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q228 — incremental SCD2 merge-apply (proven equal to full rebuild)
# ---------------------------------------------------------------------------

_SCD2_APPLY_CUTOFF = "1997-01-01"


def _scd2_events(df: DataFrame) -> DataFrame:
    """(custkey, ts, seq, status) change events after run-collapse."""
    ev = Window.partitionBy("custkey").orderBy("ts", "seq")
    e = df.withColumn("prev", F.lag("status").over(ev))
    return e.filter(
        F.col("prev").isNull() | (F.col("status") != F.col("prev"))
    ).select("custkey", "ts", "seq", "status")


def _scd2_stitch(ch: DataFrame) -> DataFrame:
    """Change events -> versioned validity rows (version starts at 1)."""
    vw = Window.partitionBy("custkey").orderBy("ts", "seq")
    return ch.select(
        "custkey",
        "status",
        F.col("ts").alias("valid_from"),
        F.col("seq").alias("seq"),
        F.lead("ts").over(vw).alias("valid_to"),
        F.row_number().over(vw).cast("long").alias("version"),
    )


@_q(
    "q228_scd2_merge_apply",
    # the oracle is the FULL REBUILD over the complete log — identical
    # to q118's SQL — so a value-hash match proves the incremental
    # merge-apply algebra reproduces the rebuild exactly
    """
    WITH e AS (
      SELECT o_custkey AS custkey, o_orderdate AS ts, o_orderkey AS seq,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), ch AS (
      SELECT custkey, ts, seq, status FROM e
      WHERE prev IS NULL OR status <> prev
    ), v AS (
      SELECT custkey, status, ts AS valid_from,
        lead(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS valid_to,
        row_number() OVER (PARTITION BY custkey ORDER BY ts, seq) AS version
      FROM ch
    )
    SELECT custkey, CAST(version AS BIGINT) AS version, status,
           valid_from, valid_to, valid_to IS NULL AS is_current
    FROM v ORDER BY custkey, version
    """,
)
def q228_scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a batch of late dimension changes into an existing SCD2
    dimension incrementally: untouched keys pass through verbatim;
    for keys present in the delta, closed history rows are kept as-is
    and only the segment from each key's CURRENT row onward is
    re-derived (current-row-as-event unioned with the key's delta
    events, run-collapsed — so a delta event repeating the current
    status correctly creates NO new version — then re-versioned with
    the key's old version offset).

    The oracle is the FULL REBUILD over the complete change log
    (q118's exact SQL), so the hash match proves incremental == rebuild
    — the q221 proof pattern applied to dimension history. At 100 TB
    the merge touches O(|delta keys|) dimension rows; the rebuild the
    oracle runs is the O(|log|) job this operator exists to avoid.
    """
    cutoff = F.lit(_SCD2_APPLY_CUTOFF).cast("timestamp")
    log = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
    )
    base, delta = log.filter(F.col("ts") < cutoff), log.filter(
        F.col("ts") >= cutoff
    )
    # The existing dimension is ONE window pipeline over base, shared by
    # four consumers (untouched/closed/current/new-key anti). Without a
    # cut Spark re-plans and re-executes the scan+shuffle+window chain
    # per consumer (measured: 24 parquet scans, 40 Exchanges, 22 Window
    # nodes in the plan); the checkpoint materializes the dimension once
    # — which is exactly what production does with a stored SCD2 table —
    # and every consumer reads the truncated plan (3 scans, guide §2.1).
    dim = _scd2_stitch(_scd2_events(base)).localCheckpoint(eager=False)
    affected = delta.select("custkey").distinct().localCheckpoint(eager=False)

    untouched = dim.join(affected, "custkey", "left_anti")
    closed = (
        dim.join(F.broadcast(affected), "custkey")
        .filter(F.col("valid_to").isNotNull())
        .select("custkey", "version", "status", "valid_from", "valid_to", "seq")
    )
    curr = (
        dim.join(F.broadcast(affected), "custkey")
        .filter(F.col("valid_to").isNull())
        .select(
            "custkey",
            F.col("valid_from").alias("ts"),
            "seq",
            "status",
            (F.col("version") - 1).alias("offset"),
        )
    )
    offsets = curr.select("custkey", "offset").unionByName(
        # brand-new keys (no base history): offset 0
        affected.join(dim, "custkey", "left_anti").select(
            "custkey", F.lit(0).alias("offset")
        )
    )
    replay_ev = curr.select("custkey", "ts", "seq", "status").unionByName(
        delta.join(F.broadcast(affected), "custkey").select(
            "custkey", "ts", "seq", "status"
        )
    )
    rederived = (
        _scd2_stitch(_scd2_events(replay_ev))
        .join(offsets, "custkey")
        .select(
            "custkey",
            (F.col("version") + F.col("offset")).alias("version"),
            "status",
            "valid_from",
            "valid_to",
            "seq",
        )
    )
    merged = closed.select(
        "custkey", "version", "status", "valid_from", "valid_to"
    ).unionByName(
        rederived.select("custkey", "version", "status", "valid_from", "valid_to")
    ).unionByName(
        untouched.select("custkey", "version", "status", "valid_from", "valid_to")
    )
    return (
        merged.withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "custkey", "version", "status", "valid_from", "valid_to", "is_current"
        )
        .orderBy("custkey", "version")
    )


# ---------------------------------------------------------------------------
# q232 — aggregate backfill diff (recompute only what corrections touch)
# ---------------------------------------------------------------------------


@_q(
    "q232_aggregate_backfill_diff",
    """
    WITH base AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS s
      FROM events GROUP BY event_type, hr
    ), corr AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt,
             sum(CASE WHEN event_id % 13 = 0
                      THEN CAST(round(value * 2, 6) AS DECIMAL(18,6))
                      ELSE CAST(round(value, 6) AS DECIMAL(18,6)) END) AS s
      FROM events WHERE event_id % 17 <> 0
      GROUP BY event_type, hr
    )
    SELECT coalesce(b.event_type, c.event_type) AS event_type,
           CAST(coalesce(b.hr, c.hr) AS TIMESTAMP) AS hr,
           coalesce(b.cnt, 0) AS old_cnt, coalesce(c.cnt, 0) AS new_cnt,
           CAST(coalesce(c.s, 0) - coalesce(b.s, 0) AS DOUBLE) AS sum_delta
    FROM base b FULL OUTER JOIN corr c
      ON c.event_type = b.event_type AND c.hr = b.hr
    WHERE coalesce(b.cnt, 0) <> coalesce(c.cnt, 0)
       OR coalesce(b.s, 0) <> coalesce(c.s, 0)
    ORDER BY event_type, hr
    """,
)
def q232_aggregate_backfill_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The backfill planner's core question: after a correction batch
    (here deterministic: events with id % 17 = 0 retracted, values with
    id % 13 = 0 doubled), WHICH aggregate buckets actually changed?
    Recompute both hourly rollups and emit only differing (type, hour)
    cells with their exact decimal delta — downstream consumers re-read
    just those partitions instead of the whole history (the partition-
    overwrite counterpart of q221's row-level retractions).

    Both rollups share the scan; the diff is a rollup-sized full-outer
    join keyed on the same (type, hour) the rollups grouped by — one
    shuffle feeds all three. Decimal sums make "changed" an exact
    predicate, not an epsilon test.
    """
    ev = table(spark, sf_dir, "events")
    rv = F.round(F.col("value"), 6).cast("decimal(18,6)")
    base = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.sum(rv).alias("s"))
    corr = (
        ev.filter(F.col("event_id") % 17 != 0)
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.when(
                    F.col("event_id") % 13 == 0,
                    F.round(F.col("value") * 2, 6).cast("decimal(18,6)"),
                ).otherwise(rv)
            ).alias("s"),
        )
    )
    b, c = base.alias("b"), corr.alias("c")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        b.join(
            c,
            (F.col("c.event_type") == F.col("b.event_type"))
            & (F.col("c.hr") == F.col("b.hr")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.event_type"), F.col("c.event_type")).alias(
                "event_type"
            ),
            F.coalesce(F.col("b.hr"), F.col("c.hr")).alias("hr"),
            F.coalesce(F.col("b.cnt"), F.lit(0)).alias("old_cnt"),
            F.coalesce(F.col("c.cnt"), F.lit(0)).alias("new_cnt"),
            (
                F.coalesce(F.col("c.s"), zero) - F.coalesce(F.col("b.s"), zero)
            )
            .cast("double")
            .alias("sum_delta"),
        )
        .filter(
            (F.col("old_cnt") != F.col("new_cnt"))
            | (F.col("sum_delta") != 0.0)
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# q239 — LSM-level compaction with tombstones (last-writer-wins merge)
# ---------------------------------------------------------------------------

_LSM_BASE_END = "1996-01-01"


@_q(
    "q239_lsm_compaction",
    f"""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status
      FROM orders WHERE o_orderdate < TIMESTAMP '{_LSM_BASE_END}'
    ),
    -- closed-form last-writer-wins: level-2 rules override level-1
    -- rules override base; tombstones remove the key entirely
    final AS (
      SELECT pk,
             CASE WHEN pk % 11 = 0 THEN NULL
                  WHEN pk % 3 = 0 THEN 'U2'
                  WHEN pk % 7 = 0 THEN NULL
                  WHEN pk % 5 = 0 THEN 'U1'
                  ELSE status END AS status
      FROM base
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(pk) AS BIGINT) AS key_sum
    FROM final WHERE status IS NOT NULL
    GROUP BY status ORDER BY status
    """,
)
def q239_lsm_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM/merge-on-read compaction: three write levels (a base segment
    plus two delta levels carrying updates AND delete tombstones,
    derived deterministically from the base key space) merged by the
    GENERIC algorithm — union all levels, keep each key's
    highest-version record, drop keys whose winner is a tombstone.
    This is the read-path merge Hudi MOR / RocksDB compaction performs;
    q55's MERGE is the single-delta special case.

    The oracle is the closed-form precedence CASE, so the hash match
    proves the generic rank-and-filter merge implements last-writer-
    wins exactly — including the tombstone-over-update and
    update-after-tombstone orderings. Scale shape: one union + one
    per-key argmax window keyed on pk (the LSM key) — levels never
    join each other pairwise.
    """
    base = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit(_LSM_BASE_END).cast("timestamp"))
        .select(F.col("o_orderkey").alias("pk"), F.col("o_orderstatus").alias("status"))
    )
    l0 = base.select(
        "pk", F.lit(0).alias("version"), F.lit(False).alias("tombstone"), "status"
    )
    l1 = base.filter((F.col("pk") % 5 == 0) | (F.col("pk") % 7 == 0)).select(
        "pk",
        F.lit(1).alias("version"),
        (F.col("pk") % 7 == 0).alias("tombstone"),
        F.when(F.col("pk") % 7 == 0, None).otherwise(F.lit("U1")).alias("status"),
    )
    l2 = base.filter((F.col("pk") % 3 == 0) | (F.col("pk") % 11 == 0)).select(
        "pk",
        F.lit(2).alias("version"),
        (F.col("pk") % 11 == 0).alias("tombstone"),
        F.when(F.col("pk") % 11 == 0, None).otherwise(F.lit("U2")).alias("status"),
    )
    levels = l0.unionByName(l1).unionByName(l2)
    w = Window.partitionBy("pk").orderBy(F.desc("version"))
    return (
        levels.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("tombstone")))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("pk").cast("long").alias("key_sum"),
        )
        .select("status", F.col("n_keys").cast("long"), "key_sum")
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q346 — right-to-be-forgotten cascade across the INDEX surfaces
# ---------------------------------------------------------------------------


def _forget_idx_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _EVICT_MOD, _SHINGLE_SQL
    from nfl_predictions_spark.operators.similarity import (
        _D2_DUCK,
        _EVICT_VEC_MOD,
        _IVF_FITTED_ROOT,
        _SRC_KEY_DUCK,
    )

    return f"""
WITH dt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
dex AS (SELECT doc_id, unnest({_SHINGLE_SQL}) AS s
        FROM dt WHERE len(ts) >= 3),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
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
)
SELECT surface, purged, remaining, key_sum FROM (
  SELECT 'documents' AS surface,
    CAST(count(*) FILTER (WHERE doc_id % {_EVICT_MOD} = 0) AS BIGINT)
      AS purged,
    CAST(count(*) FILTER (WHERE doc_id % {_EVICT_MOD} <> 0) AS BIGINT)
      AS remaining,
    CAST(coalesce(sum(doc_id) FILTER (WHERE doc_id % {_EVICT_MOD} = 0), 0)
      AS BIGINT) AS key_sum
  FROM documents
  UNION ALL
  SELECT 'doc_shingle_index',
    CAST(count(*) FILTER (WHERE doc_id % {_EVICT_MOD} = 0) AS BIGINT),
    CAST(count(*) FILTER (WHERE doc_id % {_EVICT_MOD} <> 0) AS BIGINT),
    CAST(coalesce(sum(doc_id) FILTER (WHERE doc_id % {_EVICT_MOD} = 0), 0)
      AS BIGINT)
  FROM dex
  UNION ALL
  SELECT 'embeddings',
    CAST(count(*) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} = 0) AS BIGINT),
    CAST(count(*) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} <> 0) AS BIGINT),
    CAST(coalesce(sum(vec_id) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} = 0), 0)
      AS BIGINT)
  FROM e
  UNION ALL
  SELECT 'ivf_assignments',
    CAST(count(*) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} = 0) AS BIGINT),
    CAST(count(*) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} <> 0) AS BIGINT),
    CAST(coalesce(sum(cell) FILTER (WHERE vec_id % {_EVICT_VEC_MOD} = 0), 0)
      AS BIGINT)
  FROM a
) ORDER BY surface
"""


@_q("q346_forget_cascade_indexes", _forget_idx_oracle())
def q346_forget_cascade_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure audit across the INDEX surfaces —
    q180's relational FK cascade extended to the two index families
    (VERDICT r10 #1's observation that the GDPR cascade lacked a
    vector-store arm, now closed end-to-end): for the q338/q344
    tombstone sets, report per-surface purge/remaining counts and a
    purge-key checksum over (1) the documents table, (2) the STAGED
    document shingle index (the real fan-out — one doc contributes
    many index rows), (3) the embeddings table, and (4) the STAGED
    IVF assignment store, whose checksum sums the CELLS of purged
    vectors — proving the audit knows WHERE in the index the deletes
    live, not just how many there are. This is the compliance artifact
    produced BEFORE any rewrite: the merge-on-read eviction itself is
    q338/q344, the physical rewrite is q336/q345.

    Scale shape: one scan per surface with a map-side conditional
    aggregate — no joins at all (the tombstone predicate is
    key-derived); the index components are read from the staged
    store, never rebuilt. The oracle re-derives both indexes from
    the shared bytes (shingle SQL + centroid argmin)."""
    from nfl_predictions_spark.operators.dedup import _EVICT_MOD, base_index
    from nfl_predictions_spark.operators.similarity import (
        _EVICT_VEC_MOD,
        _fitted_centroids_path,
        _served_centroids,
        _staged_base_assign,
    )
    from nfl_predictions_spark.sources.tables import spread

    docs = table(spark, sf_dir, "documents").select("doc_id")
    dex = base_index(spark, sf_dir)["dex"].select("doc_id")
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent_path = _fitted_centroids_path(spark, sf_dir)
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    def row(surface: str, df: DataFrame, key, tomb, ksum) -> DataFrame:
        return df.agg(
            F.sum(F.when(tomb, 1).otherwise(0)).cast("long").alias("purged"),
            F.sum(F.when(tomb, 0).otherwise(1)).cast("long").alias("remaining"),
            F.coalesce(F.sum(F.when(tomb, ksum)), F.lit(0))
            .cast("long")
            .alias("key_sum"),
        ).select(F.lit(surface).alias("surface"), "purged", "remaining", "key_sum")

    d_tomb = F.col("doc_id") % _EVICT_MOD == 0
    v_tomb = F.col("vec_id") % _EVICT_VEC_MOD == 0
    return (
        row("documents", docs, "doc_id", d_tomb, F.col("doc_id"))
        .unionByName(row("doc_shingle_index", dex, "doc_id", d_tomb, F.col("doc_id")))
        .unionByName(row("embeddings", emb, "vec_id", v_tomb, F.col("vec_id")))
        .unionByName(row("ivf_assignments", assign, "vec_id", v_tomb, F.col("cell")))
        .orderBy("surface")
    )
