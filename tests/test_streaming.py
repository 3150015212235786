"""Streaming semantics tests (SURVEY §2B Q31-Q36, §5 streaming strategy).

The driver-facing entries are oracle-checked in test_relational; here we
pin the semantics the oracles can't express: late-data drops beyond the
watermark, dedup of duplicates arriving within the watermark, and the
score-and-route invariants.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_chunks(spark, chunks):
    """Write each chunk (list of row tuples) as one parquet file with
    increasing mtimes; returns the input dir for a file stream."""
    root = tempfile.mkdtemp(prefix="nflspark_chunks_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, SCHEMA)
        tmpout = os.path.join(root, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmpout)
        src = glob.glob(os.path.join(tmpout, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"chunk{i:03d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return in_dir


def _stream(spark, in_dir):
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(in_dir)
    )


def _row(eid, minute, second=0, user=1, etype="click"):
    import datetime

    return (
        eid,
        datetime.datetime(2024, 1, 1, 0, minute, second),
        user,
        etype,
        1.0,
        "{}",
    )


def test_late_event_beyond_watermark_dropped(spark):
    """An event arriving in a later micro-batch with ts older than the
    watermark must not be counted (Q34 late-data policy)."""
    from nfl_predictions_spark.streaming.windows import run_to_batch, watermarked_tumbling

    # Note: Spark filters batch N's late rows with the watermark computed
    # after batch N-1, so the drop shows up two batches after the window
    # passed (verified empirically via numRowsDroppedByWatermark).
    chunks = [
        [_row(1, 2), _row(2, 10)],  # batch 0: wm -> 09:00 (after batch)
        [_row(3, 20)],  # batch 1: window 02:00 evicted+emitted, wm -> 19:00
        [_row(4, 2), _row(5, 30)],  # batch 2: late event at 02:00 -> dropped
    ]
    in_dir = _write_chunks(spark, chunks)
    out = run_to_batch(spark, watermarked_tumbling(_stream(spark, in_dir)), "append")
    rows = out.collect()
    counts = {r.ws.minute: r.cnt for r in rows}
    assert counts.get(2) == 1  # late minute-2 event did not land
    assert len(rows) == len(counts)  # no double emission of an evicted window


def test_on_time_event_within_watermark_kept(spark):
    """A late-ish event still inside the watermark horizon is merged
    into its (not yet finalized) window."""
    from nfl_predictions_spark.streaming.windows import run_to_batch, watermarked_tumbling

    chunks = [
        [_row(1, 2), _row(2, 2, 30)],
        [_row(3, 2, 45), _row(4, 10)],  # minute-2 is above wm (=01:xx) after batch 0
    ]
    in_dir = _write_chunks(spark, chunks)
    out = run_to_batch(spark, watermarked_tumbling(_stream(spark, in_dir)), "append")
    counts = {r.ws.minute: r.cnt for r in out.collect()}
    assert counts.get(2) == 3


def test_dedup_within_watermark(spark):
    """A duplicate event_id arriving in a later batch, still within the
    watermark horizon, is dropped by keyed state (Q35)."""
    from nfl_predictions_spark.streaming.windows import run_to_batch, stateful_dedup

    chunks = [
        [_row(1, 2), _row(2, 3)],
        [_row(1, 4), _row(3, 5)],  # id=1 again, within the 10 min horizon
    ]
    in_dir = _write_chunks(spark, chunks)
    out = run_to_batch(spark, stateful_dedup(_stream(spark, in_dir)), "append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3]


def test_session_window_merge_and_gap(spark):
    """Events <30 s apart merge into one session; >=30 s starts a new
    one (Q33)."""
    from nfl_predictions_spark.streaming.windows import run_to_batch, session_counts

    chunks = [
        [_row(1, 0, 0), _row(2, 0, 20), _row(3, 0, 55)],  # merge 1+2; 3 separate
        [_row(4, 30)],  # advances watermark so earlier sessions emit
    ]
    in_dir = _write_chunks(spark, chunks)
    out = run_to_batch(spark, session_counts(_stream(spark, in_dir)), "append")
    sizes = sorted(r.cnt for r in out.collect())
    assert sizes == [1, 2]


def test_score_route_invariants(spark):
    """Q36: every request lands in exactly one route; invalid labels go
    to the dead letter (300 requests, every 37th invalid -> 9)."""
    from nfl_predictions_spark.operators.streaming_batch import q36_stream_score_route

    rows = {r.route: r.cnt for r in q36_stream_score_route(spark, "").collect()}
    assert rows.get("dead_letter") == 9
    assert sum(rows.values()) == 300
    assert set(rows) <= {"dead_letter", "Passing Play", "Running Play"}


#: seq -> request field nulled in the ``routed`` input.
_NULLED = {5: "PlayType_lag", 6: "qtr", 7: "ydsnet", 8: "posteam"}


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    """One ``score_and_route`` run over 120 simulated requests in 2 files:
    every 37th has an unseen label, and the ``_NULLED`` rows each carry a
    null. Returns (input rows, scored sink, dead-letter sink)."""
    from nfl_predictions_spark.ml.queries import trained_models
    from nfl_predictions_spark.streaming.score import score_and_route
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    root = tmp_path_factory.mktemp("routed")
    reqs = with_invalid(simulated_requests(spark.range(0, 120, 1, 2), "id"), every=37)
    for seq, col in _NULLED.items():
        reqs = reqs.withColumn(col, F.when(F.col("seq") != seq, F.col(col)))
    reqs.write.parquet(str(root / "in"))
    stream = (
        spark.readStream.schema(reqs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(root / "in"))
    )
    ok_dir, dlq_dir = score_and_route(spark, stream, *trained_models(spark), str(root / "out"))
    return (
        spark.read.parquet(str(root / "in")),
        spark.read.parquet(ok_dir),
        spark.read.parquet(dlq_dir),
    )


def test_score_route_timeout_stops_queries(spark, routed, tmp_path, monkeypatch):
    """A stream that does not finish in time raises, and the call leaves
    none of its queries running."""
    from nfl_predictions_spark.ml.queries import trained_models
    from nfl_predictions_spark.streaming import score

    requests = routed[0]
    before = {q.id for q in spark.streams.active}
    monkeypatch.setattr(score, "TIMEOUT_S", 0.001)
    in_dir = os.path.dirname(requests.inputFiles()[0])
    stream = spark.readStream.schema(requests.schema).parquet(in_dir)
    with pytest.raises(TimeoutError):
        score.score_and_route(spark, stream, *trained_models(spark), str(tmp_path))
    assert [q.id for q in spark.streams.active if q.id not in before] == []


def test_score_route_dead_letters_nulls_with_reason(routed):
    """A null in any request field, the label included, routes the row to
    the dead letter with a reason naming the field; an unseen label names
    the label. Every input row lands in exactly one sink."""
    requests, scored, dlq = routed
    reasons = {r.seq: r.reason for r in dlq.collect()}
    for seq, col in _NULLED.items():
        assert reasons.pop(seq) == f"{col}: null"
    assert sorted(reasons) == [0, 37, 74, 111]
    assert all(r.startswith("PlayType_lag: unseen label 'Bogus'") for r in reasons.values())
    ok = [r.seq for r in scored.collect()]
    assert sorted(ok + list(reasons) + list(_NULLED)) == list(range(120))


def test_score_route_matches_score_batch(spark, routed):
    """Every scored row's best_play and 2 dp yards equal
    ``ScoringService.score_batch`` on the same rows."""
    from nfl_predictions_spark.api import ScoringService
    from nfl_predictions_spark.ml.queries import trained_models

    requests, scored, _ = routed
    cols = [
        "seq",
        "best_play",
        F.round("passing_yards", 2).alias("passing_yards"),
        F.round("running_yards", 2).alias("running_yards"),
    ]
    service = ScoringService(spark, *trained_models(spark))
    want = service.score_batch(requests.join(scored.select("seq"), "seq"))
    got = sorted(tuple(r) for r in scored.select(*cols).collect())
    assert len(got) == 120 - 4 - len(_NULLED)
    assert got == sorted(tuple(r) for r in want.select(*cols).collect())


def test_score_route_sink_schemas(routed):
    """scored = input columns + passing_yards, running_yards, best_play;
    dead_letter = input columns + reason."""
    requests, scored, dlq = routed

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert fields(scored) == fields(requests) + [
        ("passing_yards", "double"),
        ("running_yards", "double"),
        ("best_play", "string"),
    ]
    assert fields(dlq) == fields(requests) + [("reason", "string")]


def test_simulated_requests_deterministic(spark):
    from nfl_predictions_spark.streaming.simulate import simulated_requests

    a = simulated_requests(spark.range(100), "id").collect()
    b = simulated_requests(spark.range(100), "id").collect()
    assert a == b


def test_rate_micro_batch_tick_source(spark):
    """Deterministic tick stream (SURVEY §2A#23: the reference's NiFi
    GenerateFlowFile cadence): rate-micro-batch emits a fixed number of
    rows per batch with deterministic timestamps, mapped to simulated
    play requests."""
    import tempfile

    from nfl_predictions_spark.streaming.simulate import simulated_requests

    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "10")
        .option("startTimestamp", "0")
        .option("advanceMillisPerBatch", "5000")  # the reference's 5 s tick
        .load()
    )
    reqs = simulated_requests(ticks, "value")
    name = "tick_sink_t1"
    q = (
        reqs.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="nflspark_tick_"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 30:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table(name)
    assert out.count() >= 30
    first3 = {r.seq for r in out.filter("seq < 30").collect()}
    assert first3 == set(range(30))  # deterministic dense sequence


def test_restart_from_checkpoint_is_exactly_once(spark):
    """Kill a streaming query after its first micro-batch, restart it
    from the SAME checkpoint, and the final deduped output must equal
    the full-run result — no missing and no duplicated rows. This is
    the recovery contract every production deployment relies on."""
    import tempfile

    from pyspark.sql import functions as F

    from nfl_predictions_spark.streaming.sources import events_file_stream
    from nfl_predictions_spark.streaming.windows import stateful_dedup
    from nfl_predictions_spark.sources.tables import table
    from tests.conftest import SF_SMOKE

    ck = tempfile.mkdtemp(prefix="nflspark_restart_ck_")
    out = tempfile.mkdtemp(prefix="nflspark_restart_out_")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        def start():
            # the memory sink does NOT support checkpoint recovery; the
            # file sink does (its commit log is part of the contract)
            stream = events_file_stream(spark, SF_SMOKE, with_dups=True)
            return (
                stateful_dedup(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )

        q1 = start()
        # interrupt mid-run: wait for >=1 batch then hard-stop
        deadline = __import__("time").time() + 60
        while not q1.recentProgress and __import__("time").time() < deadline:
            __import__("time").sleep(0.2)
        q1.stop()
        q1.awaitTermination(60)
        q2 = start()
        q2.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    sunk = spark.read.parquet(out).select("event_id").collect()
    got = {r.event_id for r in sunk}
    expected = {r.event_id for r in table(spark, SF_SMOKE, "events").collect()}
    assert got == expected
    assert len(sunk) == len(expected), "duplicate emission across restart"


def test_analyze_table_feeds_cbo_stats(spark):
    """ANALYZE TABLE persists row-count/size statistics the cost-based
    optimizer reads; the catalog table from q81 must report them."""
    from nfl_predictions_spark.operators.maintenance import q81_catalog_table
    from nfl_predictions_spark.state import fingerprint
    from tests.conftest import SF_SMOKE

    q81_catalog_table(spark, SF_SMOKE).collect()
    name = f"nflspark_orders_sf0_001_{fingerprint(SF_SMOKE, ('orders',))}"
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    row = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").filter(
        "col_name = 'Statistics'"
    ).first()
    assert row is not None and "rows" in row.data_type


def test_exactly_once_manifest_semantics(tmp_path):
    """The append-only manifest: batch ids record exactly once, empty
    dirs are skipped by readers, and the commit is an atomic pointer
    replace (the tmp file never survives)."""
    import os

    from nfl_predictions_spark.streaming.state import (
        commit_batch,
        data_dirs,
        read_manifest,
    )

    root = str(tmp_path)
    meta = read_manifest(root)
    assert meta == {"applied": [], "dirs": []}
    commit_batch(root, meta, 0, "b0", rows=10)
    meta = read_manifest(root)
    assert meta["applied"] == [0]
    # a retried batch 0 is detected by the caller via `applied`
    assert 0 in meta["applied"]
    commit_batch(root, meta, 1, "b1", rows=0)  # empty batch commits too
    meta = read_manifest(root)
    assert meta["applied"] == [0, 1]
    assert data_dirs(root, meta) == [os.path.join(root, "b0")]  # empty skipped
    assert not [f for f in os.listdir(root) if f.startswith(".MANIFEST.tmp")]


def test_corpus_ingest_retry_is_noop(spark, tmp_path):
    """Drive the q112 foreachBatch function directly and RETRY a batch:
    the second application of the same batch_id must not change state -
    the failure mode the driver caught in q96 round 1."""
    from pyspark.sql import Row

    from nfl_predictions_spark.operators.streaming_batch import corpus_ingest_fn
    from nfl_predictions_spark.streaming.state import data_dirs, read_manifest

    root = str(tmp_path / "state")
    import os

    os.makedirs(root)
    ingest = corpus_ingest_fn(root)
    # 40 tokens, 25% stopwords, no punctuation -> passes the quality gate
    text_ok = " ".join(f"tok{i} alpha{i} beta{i} the" for i in range(10))
    b0 = spark.createDataFrame(
        [
            Row(doc_id=1, text=text_ok, lang="en", source="s", n_chars=1),
            Row(doc_id=2, text=text_ok, lang="en", source="s", n_chars=1),  # dup of 1
        ]
    )
    b1 = spark.createDataFrame(
        [
            Row(doc_id=3, text=text_ok, lang="en", source="s", n_chars=1),  # dup of 1
            Row(doc_id=4, text=text_ok + " extra", lang="en", source="s", n_chars=1),
        ]
    )
    ingest(b0, 0)
    ingest(b1, 1)

    def state_rows():
        meta = read_manifest(root)
        dirs = data_dirs(root, meta)
        return sorted(
            (r.doc_id, r.digest) for r in spark.read.parquet(*dirs).collect()
        )

    before = state_rows()
    assert [d for d, _ in before] == [1, 4]  # in-batch + cross-batch dedup
    ingest(b1, 1)  # Spark retries the batch function: same batch_id
    ingest(b0, 0)  # even an out-of-order replay of an old batch
    assert state_rows() == before
    assert read_manifest(root)["applied"] == [0, 1]


def test_corpus_ingest_incremental_across_restarts(spark, tmp_path):
    """True incrementality: run the corpus-ingest stream to completion,
    then deliver MORE chunk files and restart with the same checkpoint
    and state root. The restart must process only the new files (one
    new applied batch), and the final state must equal the batch
    survivor rule over the union of all arrivals."""
    import glob
    import os
    import shutil

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.streaming_batch import corpus_ingest_fn
    from nfl_predictions_spark.streaming.state import data_dirs, read_manifest

    in_dir = str(tmp_path / "in")
    root = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    os.makedirs(in_dir)
    os.makedirs(root)

    def txt(seed):
        return " ".join(f"tok{seed}x{i} alpha{i} beta{i} the" for i in range(10))

    def stage(chunk_no, rows):
        df = spark.createDataFrame(
            [Row(doc_id=d, text=t, lang="en", source="s", n_chars=len(t)) for d, t in rows]
        )
        tmpout = str(tmp_path / f"tmpout{chunk_no}")
        df.coalesce(1).write.mode("overwrite").parquet(tmpout)
        src = glob.glob(os.path.join(tmpout, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"chunk{chunk_no:03d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + chunk_no,) * 2)

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(corpus_ingest_fn(root))
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        assert q.awaitTermination(120)

    stage(0, [(0, txt(0)), (1, txt(1)), (2, txt(0))])  # 2 is dup of 0
    run_stream()
    meta1 = read_manifest(root)
    s1 = sorted(
        r.doc_id for r in spark.read.parquet(*data_dirs(root, meta1)).collect()
    )
    assert s1 == [0, 1]

    stage(1, [(3, txt(1)), (4, txt(4))])  # 3 dups doc 1 from the first run
    run_stream()
    meta2 = read_manifest(root)
    assert len(meta2["applied"]) == len(meta1["applied"]) + 1  # only new work
    s2 = sorted(
        r.doc_id for r in spark.read.parquet(*data_dirs(root, meta2)).collect()
    )
    assert s2 == [0, 1, 4]


def test_dedup_ttl_guarantee_boundary(spark, tmp_path):
    """dropDuplicatesWithinWatermark's documented guarantee is
    "duplicates within the delay of each other": a retry with a fresh
    event time arriving AFTER its key's state expired is re-emitted.
    Constructed scenario (the staged source can't provoke this — its
    duplicates carry the original timestamp, so the late-row filter or
    still-live state always absorbs them):

      batch0: (1, 00:00) (2, 05:00)   -> key 1 expiry 01:00
      batch1: (4, 06:00)              -> watermark advances to 05:00,
                                         key 1 evicted at batch end
      batch2: (1, 10:00) retry        -> not late, key gone: RE-EMITTED

    (q171's driver entry uses a TTL above the replay span, where output
    is exactly-once; this pins the other regime.)"""
    import datetime as dt
    import glob
    import shutil

    from nfl_predictions_spark.streaming.windows import run_to_batch

    T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp"
    flat = tmp_path / "flat"
    flat.mkdir()
    chunks = [
        [(1, T0), (2, T0 + dt.timedelta(hours=5))],
        [(4, T0 + dt.timedelta(hours=6))],
        [(1, T0 + dt.timedelta(hours=10)), (5, T0 + dt.timedelta(hours=11))],
    ]
    for i, rows in enumerate(chunks):
        d = tmp_path / f"c{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        shutil.copy(
            glob.glob(str(d / "part-*.parquet"))[0], str(flat / f"{i:03d}.parquet")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    dd = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    out = run_to_batch(spark, dd, mode="append").collect()
    from collections import Counter

    copies = Counter(r.event_id for r in out)
    assert copies[1] == 2, copies  # expired key: retry re-emitted
    assert copies[2] == copies[4] == copies[5] == 1


def test_checkpoint_recovery_exactly_once(spark):
    """Kill a streaming query mid-run and resume it from its checkpoint:
    the file sink must contain exactly the one-shot result — no lost
    windows, no duplicated windows (exactly-once across restart is THE
    operational guarantee checkpointing exists for)."""
    import tempfile
    import time

    from nfl_predictions_spark.streaming.sources import events_file_stream
    from nfl_predictions_spark.streaming.windows import (
        run_to_batch,
        watermarked_tumbling,
    )
    from tests.conftest import SF_SMOKE

    ck = tempfile.mkdtemp(prefix="nflspark_ck_recover_")
    out = tempfile.mkdtemp(prefix="nflspark_out_recover_")

    def start(available_now: bool):
        stream = watermarked_tumbling(
            events_file_stream(spark, SF_SMOKE, with_dups=False)
        )
        w = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # phase 1: process at least one micro-batch, then kill mid-stream
    q1 = start(available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if len([p for p in q1.recentProgress if p["numInputRows"] > 0]) >= 2:
            break
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(60)

    # phase 2: resume from the same checkpoint, drain the rest
    q2 = start(available_now=True)
    q2.awaitTermination(300)

    recovered = {
        (r["ws"], r["cnt"]) for r in spark.read.parquet(out).collect()
    }
    oneshot = {
        (r["ws"], r["cnt"])
        for r in run_to_batch(
            spark,
            watermarked_tumbling(
                events_file_stream(spark, SF_SMOKE, with_dups=False)
            ),
            mode="append",
        ).collect()
    }
    assert recovered == oneshot
