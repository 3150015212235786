"""Driver-facing streaming queries (SURVEY §2B Q31-Q36).

Each entry runs a real Structured Streaming query to completion with
Trigger.AvailableNow over a deterministic multi-chunk file stream (see
``streaming.sources``) and returns the materialized sink as a batch
DataFrame. Results are deterministic, so Q31-Q35 carry full DuckDB
oracles — the oracle encodes the *streaming* semantics (e.g. Q34's
append-mode output is exactly the windows finalized below the final
watermark). Q36 scores with the GBT models (not SQL-expressible →
rows-only check; its invariants are pinned in tests/test_streaming.py).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nfl_predictions_spark.session import scoped_conf
from nfl_predictions_spark.streaming.sources import events_file_stream
from nfl_predictions_spark.streaming.windows import (
    run_to_batch,
    session_counts,
    sliding_counts,
    stateful_dedup,
    tumbling_counts,
    watermarked_tumbling,
)

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


@_q(
    "q31_stream_tumbling",
    "SELECT date_trunc('minute', ts) AS ws, count(*) AS cnt "
    "FROM events GROUP BY ws ORDER BY ws",
)
def q31_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling counts, complete mode: the final emission holds
    every window.

    Replay epoch = all 4 chunks in ONE micro-batch (round 12, guide §1
    measured: 1.83 -> 0.64 s median at sf0.1, output canon-equal):
    complete-mode output is a pure function of the TOTAL state, with no
    watermark or cross-batch arrival semantics, so the per-chunk epochs
    only paid 4x the fixed micro-batch planning + state-store checkpoint
    cost. The multi-epoch replay semantics stay demonstrated by
    q32-q36/q84 (which keep one-chunk epochs)."""
    stream = events_file_stream(spark, sf_dir, with_dups=False, files_per_trigger=4)
    return run_to_batch(spark, tumbling_counts(stream), mode="complete").orderBy("ws")


@_q(
    "q32_stream_sliding",
    "SELECT ws, count(*) AS cnt FROM ("
    "  SELECT date_trunc('minute', ts) AS ws FROM events "
    "  UNION ALL "
    "  SELECT date_trunc('minute', ts) - INTERVAL 1 MINUTE FROM events"
    ") GROUP BY ws ORDER BY ws",
)
def q32_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-minute windows sliding by 1 minute: each event lands in two
    windows (the oracle materializes both membership rows)."""
    stream = events_file_stream(spark, sf_dir, with_dups=False)
    return run_to_batch(spark, sliding_counts(stream), mode="complete").orderBy("ws")


@_q(
    "q33_stream_session",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  < INTERVAL 30 SECOND THEN 0 ELSE 1 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ), agg AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 SECOND AS session_end, count(*) AS cnt
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, cnt FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 MINUTE FROM events)
    ORDER BY user_id, session_start
    """,
)
def q33_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30 s-gap session windows (append mode): emitted sessions
    are exactly those closed below the final watermark — the oracle is
    the gaps-and-islands formulation with the same cutoff."""
    stream = events_file_stream(spark, sf_dir, with_dups=False)
    return run_to_batch(spark, session_counts(stream), mode="append").orderBy(
        "user_id", "session_start"
    )


@_q(
    "q34_stream_watermark",
    "SELECT * FROM ("
    "  SELECT date_trunc('minute', ts) AS ws, "
    "         date_trunc('minute', ts) + INTERVAL 1 MINUTE AS we, count(*) AS cnt "
    "  FROM events GROUP BY 1, 2"
    ") WHERE we <= (SELECT max(ts) - INTERVAL 1 MINUTE FROM events) ORDER BY ws",
)
def q34_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append mode under a 1-minute watermark: only windows the final
    watermark has passed are emitted; the newest window stays in state
    (bounded-state contract at scale)."""
    stream = events_file_stream(spark, sf_dir, with_dups=False)
    return run_to_batch(spark, watermarked_tumbling(stream), mode="append").orderBy("ws")


@_q(
    "q35_stream_dedup",
    "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
)
def q35_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup by event_id within the watermark: the source
    stream re-sends a deterministic subset of events in the following
    chunk (streaming.sources.DUP_MODULUS); dedup state + lateness
    filtering reduce the stream back to exactly the distinct events."""
    stream = events_file_stream(spark, sf_dir, with_dups=True)
    return run_to_batch(spark, stateful_dedup(stream), mode="append").orderBy("event_id")


_Q36_N = 300
_Q36_INVALID_EVERY = 37


def _run_score_route(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Shared Q36 pipeline: simulated requests -> ``score_and_route``'s two
    file-sink queries, validated rows scored by both models into the
    success sink and the rest into the dead-letter sink (the reference's
    NiFi flow, assets/flow.xml.gz). Returns the materialized (scored,
    dead_letter) sinks as batch DataFrames, checkpointed so they outlive
    the temp sink dirs."""
    from nfl_predictions_spark.ml.queries import trained_models
    from nfl_predictions_spark.streaming.score import score_and_route
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    reqs = with_invalid(
        simulated_requests(spark.range(_Q36_N), "id"), every=_Q36_INVALID_EVERY
    )
    in_dir = tempfile.mkdtemp(prefix="nflspark_q36_in_")
    reqs.repartition(3).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(reqs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out_root = tempfile.mkdtemp(prefix="nflspark_q36_out_")
    try:
        pass_model, run_model = trained_models(spark)
        ok_dir, dlq_dir = score_and_route(spark, stream, pass_model, run_model, out_root)
        scored = spark.read.parquet(ok_dir).localCheckpoint()
        dlq = spark.read.parquet(dlq_dir).localCheckpoint()
        return scored, dlq
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_root, ignore_errors=True)


@_q(
    "q36_stream_route_counts",
    f"SELECT 'dead_letter' AS route, count(*) AS cnt FROM range({_Q36_N}) t(i) "
    f"WHERE i % {_Q36_INVALID_EVERY} = 0 "
    "UNION ALL "
    f"SELECT 'scored' AS route, count(*) AS cnt FROM range({_Q36_N}) t(i) "
    f"WHERE i % {_Q36_INVALID_EVERY} <> 0 ORDER BY route",
)
def q36_stream_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q36's routing invariant, with a full oracle: every request whose
    seq hits the invalid-injection modulus carries an unseen
    PlayType_lag and MUST land in the dead-letter sink; every other
    request MUST be scored. Those counts are deterministic functions of
    the sequence alone — independent of the GBT predictions — so DuckDB
    can state them from ``range()``. The model-dependent best-play split
    stays in ``q36_stream_score_route`` (rows-only by design)."""
    scored, dlq = _run_score_route(spark)
    return (
        scored.select(F.lit("scored").alias("route"))
        .unionByName(dlq.select(F.lit("dead_letter").alias("route")))
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("route")
    )


def q36_stream_score_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-best-play routing summary (model predictions are not
    SQL-expressible -> rows-only check; invariants pinned in
    tests/test_streaming.py)."""
    scored, dlq = _run_score_route(spark)
    summary = (
        scored.groupBy("best_play")
        .agg(F.count("*").alias("cnt"))
        .withColumnRenamed("best_play", "route")
        .unionByName(
            dlq.select(F.lit("dead_letter").alias("route")).groupBy("route").agg(
                F.count("*").alias("cnt")
            )
        )
    )
    return summary.orderBy("route").select("route", "cnt")


QUERIES["q36_stream_score_route"] = q36_stream_score_route


_Q53_ORACLE = """
WITH ranked AS (
  SELECT user_id, value,
    CAST(FLOOR((row_number() OVER (ORDER BY ts, event_id) - 1) * 4.0
         / (SELECT count(*) FROM events)) AS INT) AS chunk
  FROM events
), per AS (
  SELECT user_id, chunk, count(*) AS c, sum(value) AS s
  FROM ranked GROUP BY user_id, chunk
)
SELECT user_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY chunk) - 1 AS INT) AS batch,
  CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY chunk
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS events_so_far,
  ROUND(SUM(s) OVER (PARTITION BY user_id ORDER BY chunk
                     ROWS UNBOUNDED PRECEDING), 2) AS value_sum
FROM per ORDER BY user_id, batch
"""


@_q("q53_stateful_running_totals", _Q53_ORACLE)
def q53_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    cumulative count/value-sum updated every micro-batch the user
    appears in. The chunked source assigns rows to batches by a
    deterministic global rank, so the oracle reconstructs each batch's
    membership and the cumulative state trajectory in SQL."""
    from nfl_predictions_spark.streaming.stateful import running_user_totals

    stream = events_file_stream(spark, sf_dir, with_dups=False)
    return run_to_batch(spark, running_user_totals(stream), mode="update").orderBy(
        "user_id", "batch"
    )


@_q(
    "q68_stream_stream_join",
    "SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id "
    "FROM events p JOIN events v ON p.event_type = 'purchase' "
    "AND v.event_type = 'view' AND p.user_id = v.user_id "
    "AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts "
    "ORDER BY p_id, v_id",
)
def q68_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to same-user views in
    the preceding 10 minutes. Both sides carry watermarks and the join
    has the time-range bound Structured Streaming needs to size state;
    the watermark here exceeds the replay span so no state is evicted
    and the result equals the batch interval join (the oracle). In a
    live deployment the delay is the real out-of-orderness bound and
    state stays O(watermark x rate) per key — q34 pins the eviction
    semantics."""
    ev = events_file_stream(spark, sf_dir, with_dups=False)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "90 days")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "90 days")
    )
    joined = p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 10 MINUTES AND p_ts"
        ),
    ).select("p_id", "v_id", F.col("p_user").alias("user_id"))
    return run_to_batch(spark, joined, mode="append").orderBy("p_id", "v_id")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _has_tws_runtime() -> bool:
    """transformWithStateInPandas speaks protobuf between the JVM and
    the Python state server; without the google.protobuf package the
    driver worker crashes at init. Gate, don't fail (this container
    ships pyarrow/pandas but not protobuf)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _q_if(cond: bool, name: str, sql: str | None = None):
    return _q(name, sql) if cond else (lambda fn: fn)


@_q_if(_has_tws_runtime(), "q79_transform_with_state", _Q53_ORACLE)
def q79_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's per-user running totals re-expressed on Spark 4.x's
    ``transformWithStateInPandas`` — typed state handles, timer support,
    and the RocksDB state store (which this API requires; it spills
    keyed state to disk instead of pinning it on the JVM heap — the
    state backend you want at 100 TB). Same deterministic chunked
    source, so the same SQL oracle certifies both stateful APIs emit
    identical cumulative trajectories. Registered only when the Python
    protobuf runtime is present (see ``_has_tws_runtime``)."""
    from nfl_predictions_spark.streaming.stateful import running_user_totals_tws

    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER}):
        stream = events_file_stream(spark, sf_dir, with_dups=False)
        return run_to_batch(spark, running_user_totals_tws(stream), mode="update").orderBy(
            "user_id", "batch"
        )


@_q(
    "q83_python_stream_source",
    "SELECT event_type, count(*) AS cnt, "
    "ROUND(sum(((i * 48271) % 65536) / 65536.0), 6) AS sum_value "
    "FROM (SELECT unnest(range(0, 20000)) AS i), "
    "LATERAL (SELECT ['click','error','purchase','signup','view']"
    "[((i * 40503) % 31 % 5) + 1] AS event_type) "
    "GROUP BY event_type ORDER BY event_type",
)
def q83_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python *streaming* source (q69's generator via
    ``simpleStreamReader``): the offset is the global row index, each
    micro-batch appends the next slice, and generation stops advancing
    at the row cap. Batch BOUNDARIES are timing-dependent; batch CONTENT
    is not — append-mode union of all batches is exactly rows [0, N), so
    the same generate_series oracle as the batch flavor certifies the
    streaming path end-to-end (offsets, commits, replay).

    AvailableNow prefetches only the simple reader's first batch, so the
    run uses a continuous trigger and stops once the sink holds all N
    rows (bounded by a deadline; the assert keeps a silent short-read
    from masquerading as success)."""
    import time
    import uuid

    from nfl_predictions_spark.sources import synthetic

    synthetic.register(spark)
    n_rows = 20_000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", str(n_rows))
        .option("batch_rows", "6000")
        .load()
    )
    name = f"nflspark_synstream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and spark.table(name).count() < n_rows:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    sunk = spark.table(name)
    assert sunk.count() == n_rows, "streaming source under-delivered"
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@_q(
    "q84_state_reader",
    "SELECT date_trunc('minute', ts) AS ws, count(*) AS cnt FROM events "
    "GROUP BY ws "
    "HAVING ws + INTERVAL 1 MINUTE > (SELECT max(ts) - INTERVAL 1 MINUTE FROM events) "
    "ORDER BY ws",
)
def q84_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store reader (Spark 4 ``statestore`` batch source): run
    q34's watermarked tumbling aggregation, then open its CHECKPOINT as
    a DataFrame and return what is still buffered in keyed state — which
    in append mode is exactly the windows the final watermark has NOT
    passed (the complement of q34's emission; that complement predicate
    is the oracle). This is the observability story for stateful
    pipelines at scale: state inspection/repair is a batch query over
    the checkpoint, not a debugger attached to a running job.

    The reader resolves state partitions through the session's
    StateStoreCoordinator, which only exists after a streaming query has
    run in THIS session — so the query always executes its own stream
    (fresh checkpoint each call) rather than caching across sessions. The
    state is read out eagerly, so the checkpoint is removed on return."""
    import uuid

    stream = events_file_stream(spark, sf_dir, with_dups=False)
    agg = watermarked_tumbling(stream)
    ck = tempfile.mkdtemp(prefix="nflspark_stateq_")
    name = f"nflspark_state_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        assert q.awaitTermination(300), "q84 stream did not finish within 300 s"
        in_state = (
            spark.read.format("statestore")
            .load(ck)
            .select(
                F.col("key.window.start").cast("timestamp_ntz").alias("ws"),
                F.col("value.count").alias("cnt"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return in_state.orderBy("ws")


@_q(
    "q96_streaming_matview",
    "SELECT event_type, count(*) AS cnt, "
    "CAST(ROUND(sum(CAST(value AS DECIMAL(18,3))), 3) AS DOUBLE) AS total "
    "FROM events GROUP BY event_type ORDER BY event_type",
)
def q96_streaming_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: ``foreachBatch`` merges each
    micro-batch's partial aggregate into a persisted per-event-type
    rollup (read-modify-swap on parquet; a lake format would do the same
    under a transaction log). After the run the VIEW equals the batch
    aggregate over all events — the oracle — proving the incremental
    maintenance is exactly-once across restarts and batch boundaries.
    Partials are decimal(18,3), so merge order cannot perturb the sums
    (double partial sums would differ from the single-pass oracle in the
    last bits). At 100 TB this pattern replaces re-aggregating the
    corpus per refresh with work proportional to the NEW data only.

    Exactly-once mechanics (the transaction-log part a lake format would
    supply): state versions are immutable directories ``v<batch_id>``
    and a tiny ``CURRENT`` pointer file — atomically replaced via
    ``os.replace`` — names the live version AND the set of applied batch
    ids. A retried ``foreachBatch`` attempt (Spark retries the batch
    function on transient failure, same batch_id) finds its id already
    recorded and becomes a no-op, so a partial aggregate can never be
    merged twice; a crash between the version write and the pointer swap
    leaves the pointer on the previous consistent version and the retry
    simply overwrites the orphan. Readers resolve ``CURRENT`` then load
    that version — they never observe a half-swapped state."""
    import json
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="nflspark_mv_")
    pointer = os.path.join(root, "CURRENT")

    def _read_pointer() -> dict:
        if not os.path.exists(pointer):
            return {"dir": None, "applied": []}
        with open(pointer) as f:
            return json.load(f)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        meta = _read_pointer()
        if batch_id in meta["applied"]:
            return  # retried attempt of an already-committed batch
        part = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,3)")).alias("total"),
        )
        if meta["dir"] is not None:
            existing = part.sparkSession.read.parquet(os.path.join(root, meta["dir"]))
            part = (
                existing.unionByName(part)
                .groupBy("event_type")
                .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
            )
        part = part.select(
            "event_type", "cnt", F.col("total").cast("decimal(18,3)").alias("total")
        )
        new_dir = f"v{batch_id}"
        part.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, new_dir))
        tmp_ptr = pointer + ".tmp"
        with open(tmp_ptr, "w") as f:
            json.dump({"dir": new_dir, "applied": meta["applied"] + [batch_id]}, f)
        os.replace(tmp_ptr, pointer)  # the commit point
        if meta["dir"] is not None:
            shutil.rmtree(os.path.join(root, meta["dir"]), ignore_errors=True)

    stream = events_file_stream(spark, sf_dir, with_dups=False)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    assert finished, "q96 stream did not finish within 300 s"
    meta = _read_pointer()
    assert meta["dir"] is not None, "q96 matview state never committed"
    return (
        spark.read.parquet(os.path.join(root, meta["dir"]))
        .select(
            "event_type",
            "cnt",
            # Partials stay decimal(18,3) so merge order cannot perturb the
            # sum; the EMITTED value is DOUBLE — the driver's hasher feeds
            # type+repr, and decimal scale/width diverges between engines
            # (Spark decimal(28,3) vs DuckDB DECIMAL(38,3)) even when the
            # rounded values agree. DOUBLE is the window-wide contract.
            F.round("total", 3).cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


@_q(
    "q100_stream_static_enrich",
    "SELECT n_name, count(*) AS cnt FROM events "
    "JOIN customer ON user_id = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE event_type = 'purchase' GROUP BY n_name ORDER BY n_name",
)
def q100_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joins the static
    customer->nation dimension INSIDE the streaming query — per
    micro-batch Spark plans a broadcast hash join of the batch against
    the dim, no stream-side state at all (unlike the stream-stream join
    q68, nothing is buffered: static enrich is stateless). This is the
    canonical "attach dimensions at ingest" pattern; at 100 TB the dim
    broadcast is refreshed per batch, so slowly-changing dimensions pick
    up updates between micro-batches for free. Oracle: the same join in
    batch SQL."""
    from nfl_predictions_spark.sources.tables import table

    stream = events_file_stream(spark, sf_dir, with_dups=False)
    dim = (
        table(spark, sf_dir, "customer")
        .join(table(spark, sf_dir, "nation"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_to_batch(spark, enriched, mode="complete").orderBy("n_name")


def corpus_ingest_fn(root: str):
    """foreachBatch function for the incremental corpus build: quality
    gate, in-batch dedup, anti-join against accumulated digest state,
    append survivors under an exactly-once manifest. Exposed at module
    level so tests can drive a RETRY directly (same batch_id twice must
    be a no-op the second time)."""
    import os

    from nfl_predictions_spark.operators.llmprep import quality_docs
    from nfl_predictions_spark.streaming.state import (
        commit_batch,
        data_dirs,
        read_manifest,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        meta = read_manifest(root)
        if batch_id in meta["applied"]:
            return  # retried attempt of a committed batch
        sess = batch_df.sparkSession
        qual = quality_docs(batch_df).withColumn("digest", F.md5("text"))
        w = Window.partitionBy("digest").orderBy("doc_id")
        accepted = (
            qual.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        seen = data_dirs(root, meta)
        if seen:
            state_digests = sess.read.parquet(*seen).select("digest")
            accepted = accepted.join(state_digests, "digest", "left_anti")
        out = os.path.join(root, f"b{batch_id}")
        accepted.write.mode("overwrite").parquet(out)
        rows = sess.read.parquet(out).count() if os.path.isdir(out) else 0
        commit_batch(root, meta, batch_id, f"b{batch_id}", rows)

    return ingest


def _q112_oracle() -> str:
    from nfl_predictions_spark.operators.llmprep import quality_sql

    return f"""
WITH q AS ({quality_sql()}),
d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM q
)
SELECT lang, CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n) AS BIGINT) AS tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang
"""


@_q("q112_streaming_corpus_ingest", _q112_oracle())
def q112_streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion — the streaming form of the batch
    corpus build: documents arrive as doc_id-ordered micro-batches; each
    batch is quality-filtered (q40b rule), deduplicated within itself,
    anti-joined against the ACCUMULATED digest state, and the survivors
    appended as an immutable per-batch file recorded in an exactly-once
    manifest (streaming/state.py — append-only variant of q96's
    versioned-pointer pattern, so a retried batch can never double-add).

    Work per batch is proportional to NEW data: the corpus is never
    rewritten, the only reread is the digest column of accepted state
    for the anti-join (16 bytes/doc; at 100 TB this is the dedup-index
    table a lake format would keep — and the anti-join shuffles only
    the new batch against it). Because arrival order == doc_id order
    and first-seen wins, the final state equals the batch "lowest
    doc_id per digest" survivor rule, which is exactly what the oracle
    states — an incremental computation certified against its batch
    equivalent."""
    from nfl_predictions_spark.streaming.sources import documents_file_stream
    from nfl_predictions_spark.streaming.state import data_dirs, read_manifest

    root = tempfile.mkdtemp(prefix="nflspark_corpus_")
    ingest = corpus_ingest_fn(root)
    stream = documents_file_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "q112 stream did not finish within 300 s"
    meta = read_manifest(root)
    dirs = data_dirs(root, meta)
    assert dirs, "q112 ingested nothing"
    return (
        spark.read.parquet(*dirs)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n").alias("tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


@_q(
    "q171_stream_dedup_ttl",
    "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
)
def q171_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup with TTL-bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes its event time + delay, so state is
    O(duplicate-arrival-window x rate) instead of O(all keys ever) —
    the difference that decides whether a 100 TB stream dedup fits in
    a state store at all. q35's ``dropDuplicates`` remembers keys
    forever (within the watermark column horizon); this variant is the
    production shape when duplicates are known to arrive within a
    bounded lag.

    Here the delay exceeds the replay span, so no entry expires and
    the output is exactly the distinct events (the oracle).
    tests/test_streaming.py pins the other regime: with a short TTL,
    duplicates that arrive after their key expired are re-emitted —
    observed and asserted, not assumed.

    Replay epoch = 2 chunks per micro-batch (round 12, guide §1
    measured: 1.74 -> 1.11 s median at sf0.1, output canon-equal).
    Cross-epoch duplicate arrival — the query's semantic content — is
    still exercised: chunk2 re-sends chunk1's DUP_MODULUS events, and
    chunk1 commits in epoch 0 while chunk2 arrives in epoch 1, so the
    keyed state still drops duplicates across micro-batches; only the
    fixed per-micro-batch replay cost halves.
    """
    stream = events_file_stream(
        spark, sf_dir, with_dups=True, files_per_trigger=2
    )
    deduped = (
        stream.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_batch(spark, deduped, mode="append").orderBy("event_id")


# ---------------------------------------------------------------------------
# q225 — stream-stream LEFT OUTER join (watermark-gated null emission)
# ---------------------------------------------------------------------------

_SSLJ_DELAY = "1 day"


@_q(
    "q225_stream_stream_left_join",
    """
    WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS v_id, user_id, ts AS v_ts FROM events
          WHERE event_type = 'view'),
    w AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'purchase'),
                       (SELECT max(ts) FROM events WHERE event_type = 'view'))
                 - INTERVAL 1 DAY AS wm),
    j AS (
      SELECT p.p_id, p.user_id, p.p_ts, v.v_id
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.v_ts BETWEEN p.p_ts - INTERVAL 10 MINUTES AND p.p_ts
    )
    SELECT CAST(p_id AS BIGINT) AS p_id, CAST(user_id AS BIGINT) AS user_id,
           CAST(v_id AS BIGINT) AS v_id
    FROM j CROSS JOIN w
    WHERE v_id IS NOT NULL OR p_ts < wm
    ORDER BY p_id, v_id
    """,
)
def q225_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics milestone beyond
    q68's inner join: an unmatched purchase can only emit its NULL row
    once the watermark proves no matching view can still arrive.

    The oracle encodes the exact emission rule, measured empirically
    (this is the q34 pattern of pinning watermark semantics as a
    predicate): Spark maintains ONE global watermark = the MIN across
    both streams' watermark columns, so with time-ordered chunk replay
    the final state flush emits null rows exactly for
    ``p_ts < least(max(purchase ts), max(view ts)) - delay`` — matched
    rows are never gated. (Not max(all ts): the lagging stream drags
    the global watermark back; discovering that min was the point of
    the experiment.) Matches equal the batch interval join because the
    chunk replay is time-ordered, so no view is evicted while a
    joinable purchase can still arrive. State stays O(watermark x rate)
    per key at any scale; q34 pins row-drop, q171 TTL-dedup, and this
    pins outer-null timing.
    """
    ev = events_file_stream(spark, sf_dir, with_dups=False)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", _SSLJ_DELAY)
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", _SSLJ_DELAY)
    )
    joined = p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 10 MINUTES AND p_ts"
        ),
        "leftOuter",
    ).select("p_id", F.col("p_user").alias("user_id"), "v_id")
    return run_to_batch(spark, joined, mode="append").orderBy("p_id", "v_id")


# ---------------------------------------------------------------------------
# q332 — streaming incremental NEAR-dup ingest (q327 as a stream)
# ---------------------------------------------------------------------------


def neardup_foreach_handler(spark: SparkSession, sf_dir: str, out_dir: str):
    """q332's production foreachBatch handler, factored out so the
    crash-restart test (VERDICT r10 #3) drives the EXACT code the query
    runs: dedupes one micro-batch of re-crawl chunks against the staged
    base index and lands the verdicts in the deterministic epoch=<id>
    overwrite partition (idempotent under micro-batch retry AND under
    checkpoint-recovery re-delivery after a crash — same epoch id, same
    bytes). Stateless given the base index, so a restarted query needs
    no state recovery: the checkpoint's committed offsets are the only
    carried state."""
    import os

    from nfl_predictions_spark.operators.dedup import (
        base_index,
        inc_near,
        inc_prefix,
        shingle_rows,
    )

    # staged base-side index, built ONCE PER FIXTURE (not per run —
    # this is the persistent dedup index a production lake keeps and
    # q333's absorb step updates incrementally): digest table for the
    # exact path, shingles/sizes/frequencies + df-ranked prefix rows
    # for the near path.
    idx = base_index(spark, sf_dir)
    bdig = idx["bdig"]
    dex = idx["dex"]
    dsz = idx["dsz"].localCheckpoint(eager=False)
    dfreq = idx["dfreq"].localCheckpoint(eager=False)
    pd_ = idx["pd"].localCheckpoint(eager=False)

    def handle(chunk_df: DataFrame, bid: int) -> None:
        chunk_df = chunk_df.localCheckpoint(eager=False)
        exact = (
            chunk_df.select("batch_id", F.md5("text").alias("dg"))
            .join(bdig, "dg")
            .groupBy("batch_id")
            .agg(F.min("doc_id").alias("match_id"))
            .localCheckpoint(eager=False)
        )
        rem = chunk_df.join(
            exact.select("batch_id"), "batch_id", "left_anti"
        ).localCheckpoint(eager=False)
        bex = shingle_rows(rem, id_col="batch_id").localCheckpoint(eager=False)
        bsz = bex.groupBy("batch_id").agg(F.count(F.lit(1)).alias("sz"))
        pb = inc_prefix(bex, "batch_id", bsz, dfreq)
        near = inc_near(pb, pd_, bex, dex, bsz, dsz).localCheckpoint(
            eager=False
        )
        verdicts = (
            exact.select(
                "batch_id",
                F.lit("drop_exact").alias("action"),
                "match_id",
                F.lit(1.0).alias("jac"),
            )
            .unionByName(
                near.select(
                    "batch_id",
                    F.lit("drop_near").alias("action"),
                    "match_id",
                    "jac",
                )
            )
            .unionByName(
                rem.join(near.select("batch_id"), "batch_id", "left_anti")
                .select(
                    "batch_id",
                    F.lit("keep").alias("action"),
                    F.lit(-1).cast("long").alias("match_id"),
                    F.lit(0.0).alias("jac"),
                )
            )
        )
        # deterministic per-epoch partition + overwrite = idempotent on
        # micro-batch retry (foreachBatch is at-least-once; a plain
        # append sink would duplicate a retried epoch's rows)
        (
            verdicts.join(
                chunk_df.select("batch_id", "chunk"), "batch_id"
            )
            .select("chunk", "batch_id", "action", "match_id", "jac")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch={bid}"))
        )

    return handle


def _q332_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _INC_STREAM_ORACLE

    return _INC_STREAM_ORACLE


@_q("q332_stream_neardup_ingest", _q332_oracle())
def q332_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental near-dedup — q327's batch-vs-base verdicts
    produced by a STREAM: the derived re-crawl batch arrives as
    batch_id-ordered micro-batches (file stream) and every chunk is
    deduped against the base corpus inside foreachBatch — exact
    verdicts from an md5 join against the staged base digest table,
    near verdicts from the ppjoin prefix-filter ssjoin against the
    staged base prefix index (dedup.inc_prefix / inc_near — the SAME
    machinery q327 runs in batch). Each micro-batch OVERWRITES its own
    deterministic epoch=<id> sink partition, so a retried epoch
    replaces rather than duplicates its rows — the at-least-once
    foreachBatch contract hardened to an idempotent effectively-once
    sink (plain parquet append would duplicate on retry).

    This is the steady-state production shape: the base-side index
    (digests + document-frequency-ranked prefix rows) is built ONCE
    and every arriving crawl chunk joins against it — per-chunk work
    is proportional to the CHUNK, never the corpus. Verdicts are
    per-batch-doc independent given the base, so the streamed result
    provably equals the q327 batch computation restricted per chunk —
    which is exactly what the oracle states (q327's verdict CTEs plus
    a chunk map), making this an incremental computation certified
    against its batch equivalent (the q112/q164 discipline, extended
    from exact to NEAR dedup)."""
    from nfl_predictions_spark.operators.dedup import _INC_CHUNKS
    from nfl_predictions_spark.streaming.sources import recrawl_file_stream

    out_dir = tempfile.mkdtemp(prefix="nflspark_neardup_out_")
    handle = neardup_foreach_handler(spark, sf_dir, out_dir)
    # All 4 chunk files in one trigger (round 12; the round-11 move to
    # 2 was the same lever): verdicts are per-batch-doc independent
    # given the base index and chunk attribution is data-borne (the
    # staged chunk column), so the stream==batch + rank-split pins
    # discriminate unchanged; each epoch only pays the fixed
    # foreachBatch plan + ssjoin + sink-write round trip, and the
    # multi-epoch idempotence contract stays pinned by
    # tests/test_crash_restart.py, which drives this handler with
    # one-chunk epochs and a mid-stream crash.
    stream = recrawl_file_stream(
        spark, sf_dir, n_chunks=_INC_CHUNKS, files_per_trigger=4
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "q332 stream did not finish in 300 s"
    # drop the discovered epoch partition column — it is sink plumbing
    # (idempotence key), not part of the verdict wire schema
    return (
        spark.read.parquet(out_dir)
        .select("chunk", "batch_id", "action", "match_id", "jac")
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# q335 — streamed multi-generation absorb (q334 as a stream)
# ---------------------------------------------------------------------------


def absorb_foreach_handler(
    spark: SparkSession, sf_dir: str, out_dir: str, state=None
):
    """q335's production foreachBatch handler + its carried
    AbsorbState, factored out so the crash-restart test (VERDICT r10
    #3) drives the EXACT code the query runs. Pass a ``state`` rebuilt
    by :func:`recover_absorb_state` to resume after a crash; the
    default builds the fresh pre-ingest state.

    Returns ``(handle, state)``. The epoch->frame memo inside guards
    the state against same-process micro-batch RETRY double-absorption
    (a retried epoch rewrites its sink partition only); cross-process
    recovery re-absorbs committed chunks deterministically instead."""
    import os

    from nfl_predictions_spark.operators.dedup import AbsorbState, base_index

    if state is None:
        idx = base_index(spark, sf_dir)
        state = AbsorbState(idx, idx["dfreq"].localCheckpoint(eager=False))
    # epoch -> verdict frame: a RETRIED micro-batch must rewrite its
    # sink partition but must NOT mutate the carried index state a
    # second time (double-absorbing its survivors) — the state-side
    # half of the idempotence contract the per-epoch sink provides
    absorbed: dict = {}

    def handle(chunk_df: DataFrame, bid: int) -> None:
        if bid not in absorbed:
            ch = chunk_df.select("batch_id", "text", "chunk").localCheckpoint(
                eager=False
            )
            absorbed[bid] = (
                state.absorb(ch.select("batch_id", "text"))
                .join(ch.select("batch_id", "chunk"), "batch_id")
                .select(
                    F.col("chunk").cast("int").alias("gen"),
                    "batch_id",
                    "action",
                    "match_id",
                    "jac",
                )
            )
        absorbed[bid].write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={bid}")
        )

    return handle, state


def recover_absorb_state(spark: SparkSession, sf_dir: str, out_dir: str):
    """The q335 RESTART path (VERDICT r10 #3): rebuild the carried
    AbsorbState from the sink's committed epoch partitions. Each
    committed epoch names the chunk it absorbed (the data-borne ``gen``
    column); replaying those chunks through ``AbsorbState.absorb`` in
    epoch order reconstructs the exact pre-crash state — absorption is
    deterministic given the base index and the chunk, which is the
    same argument that makes stream == batch provable. Committed sink
    partitions are NOT rewritten (verdicts were already landed; only
    the state is rebuilt), and the crashed epoch re-fires from the
    checkpoint with its original batch id."""
    import os

    from nfl_predictions_spark.operators.dedup import (
        _INC_CHUNKS,
        AbsorbState,
        base_index,
    )
    from nfl_predictions_spark.streaming.sources import stage_recrawl_chunks

    idx = base_index(spark, sf_dir)
    state = AbsorbState(idx, idx["dfreq"].localCheckpoint(eager=False))
    epochs = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("epoch=")
    )
    if not epochs:
        return state
    chunks_dir = stage_recrawl_chunks(spark, sf_dir, _INC_CHUNKS)
    staged = spark.read.schema("batch_id long, text string, chunk long").parquet(
        chunks_dir
    )
    for eid in epochs:
        landed = spark.read.parquet(os.path.join(out_dir, f"epoch={eid}"))
        chunk_ids = [r[0] for r in landed.select("gen").distinct().collect()]
        ch = staged.filter(
            F.col("chunk").isin([int(c) for c in chunk_ids])
        ).localCheckpoint(eager=False)
        state.absorb(ch.select("batch_id", "text"))
    return state


def _q335_oracle() -> str:
    from nfl_predictions_spark.operators.dedup import _multigen_oracle

    return _multigen_oracle()


@_q("q335_stream_absorb_ingest", _q335_oracle())
def q335_stream_absorb_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup loop as a STREAM: q334's sequential
    absorb driven by a file stream, one chunk per micro-batch
    (maxFilesPerTrigger=1 — absorption makes later chunks depend on
    earlier survivors, so micro-batches cannot be coalesced the way
    q332's absorb-free ingest can). The carried state is
    dedup.AbsorbState — base index components plus one
    eagerly-checkpointed survivor delta per processed chunk — held
    across foreachBatch invocations, which Structured Streaming runs
    strictly in micro-batch order. Because both forms drive the SAME
    AbsorbState.absorb step, stream == batch is provable and pinned
    row-for-row in tests; the oracle is q334's unrolled
    multi-generation rebuild. Verdicts land in per-epoch overwrite
    partitions (idempotent under micro-batch retry, the q332
    contract). The in-memory carried state is scoped to one replay
    (temporary checkpoint, failures surface via awaitTermination); a
    long-lived deployment would persist each delta keyed by epoch —
    exactly the staged-component shape q333 demonstrates — and
    reload on restart."""
    from nfl_predictions_spark.operators.dedup import _INC_CHUNKS
    from nfl_predictions_spark.streaming.sources import recrawl_file_stream

    out_dir = tempfile.mkdtemp(prefix="nflspark_absorb_out_")
    handle, _state = absorb_foreach_handler(spark, sf_dir, out_dir)

    stream = recrawl_file_stream(
        spark, sf_dir, n_chunks=_INC_CHUNKS, files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "q335 stream did not finish in 300 s"
    return (
        spark.read.parquet(out_dir)
        .select("gen", "batch_id", "action", "match_id", "jac")
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# q341 — streamed IVF vector ingest (q337 as a stream)
# ---------------------------------------------------------------------------


def ivf_ingest_foreach_handler(out_dir: str, med: DataFrame):
    """q341's production foreachBatch handler, factored out so the
    crash-restart test (VERDICT r10 #3) drives the EXACT code the
    query runs: map-side argmin assignment of one vector micro-batch
    against the pinned frozen centroids, landed as the deterministic
    epoch=<id> overwrite delta. Stateless given the centroid
    generation (frozen quantizer ⇒ per-vector assignment is
    order-independent), so restart needs only the checkpoint's
    committed offsets."""
    import os

    from nfl_predictions_spark.operators.similarity import _ivf_assign

    assigned: dict = {}

    def handle(chunk_df: DataFrame, bid: int) -> None:
        if bid not in assigned:
            ch = chunk_df.select("vec_id", "emb").localCheckpoint(eager=False)
            assigned[bid] = _ivf_assign(ch, med)
        assigned[bid].write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={bid}")
        )

    return handle


def _q341_oracle() -> str:
    from nfl_predictions_spark.operators.similarity import _IVF_ABSORB_ORACLE

    return _IVF_ABSORB_ORACLE


@_q("q341_stream_ivf_ingest", _q341_oracle())
def q341_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production vector-DB ingest as a STREAM: q337's absorbed batch
    arrives as a file stream of vec_id-ordered chunks, each micro-batch
    assigned map-side against the FROZEN pinned centroids and landed as
    a per-epoch delta partition (overwrite sink: idempotent under
    micro-batch retry, the q332/q335 contract). Because the quantizer
    is frozen, per-vector assignment is order-independent, so the
    streamed index state equals q337's batch absorb exactly — the
    oracle IS q337's from-scratch rebuild, and the final top-k probe
    reuses the shared _ivf_probe_topk lattice (stream == batch shares
    one plan, pinned row-for-row in tests).

    Scale shape: per-trigger work is O(chunk x nlist) map-side with no
    shuffle (broadcast centroids), deltas append as epoch partitions —
    the index is never rebuilt, and probes stay answerable between any
    two micro-batches against base + landed epochs."""
    import os

    from nfl_predictions_spark.operators.similarity import (
        _fitted_centroids_path,
        _ivf_assign,
        _ivf_probe_topk,
        _served_centroids,
        _staged_base_assign,
        _ANN_OFF,
    )
    from nfl_predictions_spark.sources.tables import spread, table
    from nfl_predictions_spark.streaming.sources import vector_file_stream

    cent_path = _fitted_centroids_path(spark, sf_dir)
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base_assign = _staged_base_assign(spark, sf_dir, emb, med, gen)

    out_dir = tempfile.mkdtemp(prefix="nflspark_vecingest_out_")
    handle = ivf_ingest_foreach_handler(out_dir, med)

    stream = vector_file_stream(spark, sf_dir, n_chunks=4, files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "q341 stream did not finish in 300 s"

    deltas = spark.read.parquet(out_dir).select("vec_id", "cell")
    assign = base_assign.unionByName(deltas)
    nb = emb.select(
        (F.col("vec_id") + _ANN_OFF).alias("vec_id"),
        F.reverse("emb").alias("emb"),
    )
    alle = emb.unionByName(nb).localCheckpoint(eager=False)
    return _ivf_probe_topk(emb, alle, med, assign)
