"""Checkpoint-restart CRASH tests for the streamed lifecycle entries
(VERDICT r10 #3): q332/q335/q341 previously pinned retry-idempotence by
re-firing epochs in-process; these tests deliver the missing evidence —
a REAL mid-stream failure (an exception thrown from inside foreachBatch
kills the query between commits), then a restart from the SAME
checkpoint directory, asserting the recovered sink + carried state
equal the uninterrupted run row-for-row. ``score_and_route`` gets the
same treatment through a failing UDF column in its input stream."""

from __future__ import annotations

import os
import tempfile

import pytest

from tests.conftest import SF_SMOKE


def _run(spark, stream, handle, ck_dir, bomb_epoch=None, timeout=300):
    """Run a foreachBatch stream to completion; with ``bomb_epoch``,
    crash the query (real StreamingQueryException) when that micro-batch
    fires, BEFORE the handler touches sink or state."""

    def wrapper(df, bid):
        if bomb_epoch is not None and bid == bomb_epoch:
            raise RuntimeError(f"injected crash at epoch {bid}")
        handle(df, bid)

    q = (
        stream.writeStream.foreachBatch(wrapper)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck_dir)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    if bomb_epoch is None:
        assert q.awaitTermination(timeout), "stream did not finish"
    else:
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(timeout)


def _epochs(out_dir: str) -> list[int]:
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("epoch=")
    )


def _rows(spark, out_dir: str, cols: list[str]):
    return sorted(
        tuple(r) for r in spark.read.parquet(out_dir).select(*cols).collect()
    )


def _dirs(prefix: str) -> tuple[str, str]:
    return (
        tempfile.mkdtemp(prefix=f"{prefix}_out_"),
        tempfile.mkdtemp(prefix=f"{prefix}_ck_"),
    )


def test_q332_crash_restart(spark):
    """q332 (stateless-given-base ingest): crash after 2 committed
    epochs, restart from the same checkpoint — the failed epoch
    re-fires with its original batch id, the remaining files drain,
    and the sink equals the uninterrupted run."""
    from nfl_predictions_spark.operators.streaming_batch import (
        neardup_foreach_handler,
    )
    from nfl_predictions_spark.streaming.sources import recrawl_file_stream

    cols = ["chunk", "batch_id", "action", "match_id", "jac"]

    # uninterrupted baseline (own sink + checkpoint)
    base_out, base_ck = _dirs("q332base")
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        neardup_foreach_handler(spark, SF_SMOKE, base_out),
        base_ck,
    )
    assert _epochs(base_out) == [0, 1, 2, 3]

    # crashed run: epochs 0-1 commit, epoch 2 dies before touching sink
    out, ck = _dirs("q332crash")
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        neardup_foreach_handler(spark, SF_SMOKE, out),
        ck,
        bomb_epoch=2,
    )
    assert _epochs(out) == [0, 1]

    # restart: SAME checkpoint + sink, fresh handler
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        neardup_foreach_handler(spark, SF_SMOKE, out),
        ck,
    )
    assert _epochs(out) == [0, 1, 2, 3]
    assert _rows(spark, out, cols) == _rows(spark, base_out, cols)


def test_q335_crash_restart_recovers_carried_state(spark):
    """q335 (SEQUENTIAL absorb — carried AbsorbState): crash after 2
    committed epochs; the restart rebuilds the carried state from the
    sink's committed partitions (recover_absorb_state) and resumes from
    the checkpoint. Later chunks' verdicts depend on earlier survivors,
    so this passes ONLY if the recovered state exactly equals the
    pre-crash state — the strongest equality the lifecycle offers."""
    from nfl_predictions_spark.operators.streaming_batch import (
        absorb_foreach_handler,
        recover_absorb_state,
    )
    from nfl_predictions_spark.streaming.sources import recrawl_file_stream

    cols = ["gen", "batch_id", "action", "match_id", "jac"]

    base_out, base_ck = _dirs("q335base")
    handle, _ = absorb_foreach_handler(spark, SF_SMOKE, base_out)
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        handle,
        base_ck,
    )
    assert _epochs(base_out) == [0, 1, 2, 3]

    out, ck = _dirs("q335crash")
    handle, _ = absorb_foreach_handler(spark, SF_SMOKE, out)
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        handle,
        ck,
        bomb_epoch=2,
    )
    assert _epochs(out) == [0, 1]

    # restart: carried state rebuilt from the committed sink, then the
    # stream resumes from the same checkpoint (fresh in-memory memo —
    # the crash killed the process's state by construction)
    state = recover_absorb_state(spark, SF_SMOKE, out)
    handle, _ = absorb_foreach_handler(spark, SF_SMOKE, out, state=state)
    _run(
        spark,
        recrawl_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        handle,
        ck,
    )
    assert _epochs(out) == [0, 1, 2, 3]
    assert _rows(spark, out, cols) == _rows(spark, base_out, cols)


def test_q341_crash_restart(spark):
    """q341 (streamed IVF ingest, stateless given the frozen
    quantizer): crash mid-ingest, restart from the same checkpoint;
    the landed delta partitions equal the uninterrupted run's — the
    index state a probe would serve is identical."""
    from nfl_predictions_spark.operators.similarity import (
        _fitted_centroids_path,
        _served_centroids,
    )
    from nfl_predictions_spark.operators.streaming_batch import (
        ivf_ingest_foreach_handler,
    )
    from nfl_predictions_spark.streaming.sources import vector_file_stream
    from pyspark.sql import functions as F

    cent_path = _fitted_centroids_path(spark, SF_SMOKE)
    cent, _gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    cols = ["vec_id", "cell"]

    base_out, base_ck = _dirs("q341base")
    _run(
        spark,
        vector_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        ivf_ingest_foreach_handler(base_out, med),
        base_ck,
    )
    assert _epochs(base_out) == [0, 1, 2, 3]

    out, ck = _dirs("q341crash")
    _run(
        spark,
        vector_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        ivf_ingest_foreach_handler(out, med),
        ck,
        bomb_epoch=2,
    )
    assert _epochs(out) == [0, 1]

    _run(
        spark,
        vector_file_stream(spark, SF_SMOKE, n_chunks=4, files_per_trigger=1),
        ivf_ingest_foreach_handler(out, med),
        ck,
    )
    assert _epochs(out) == [0, 1, 2, 3]
    assert _rows(spark, out, cols) == _rows(spark, base_out, cols)


def test_score_and_route_crash_restart(spark, tmp_path):
    """score_and_route's two file-sink queries: the input carries a UDF
    column that raises on the second file while a marker file exists, so
    the first run dies mid-stream. A rerun with the same ``out_root``
    makes both sinks equal an uninterrupted run row for row, and a
    further rerun with no new input adds no rows."""
    import glob

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from nfl_predictions_spark.ml.queries import trained_models
    from nfl_predictions_spark.streaming.score import score_and_route
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    models = trained_models(spark)
    in_dir = str(tmp_path / "in")
    reqs = with_invalid(simulated_requests(spark.range(0, 300, 1, 3), "id"), every=37)
    reqs.write.parquet(in_dir)
    for i, f in enumerate(sorted(glob.glob(os.path.join(in_dir, "part-*.parquet")))):
        os.utime(f, (1_700_000_000 + i,) * 2)  # file i holds seq 100*i .. 100*i+99
    marker = str(tmp_path / "crash")

    @F.udf("long")
    def seq_or_crash(seq):
        if seq >= 100 and os.path.exists(marker):
            raise RuntimeError(f"injected crash at seq {seq}")
        return seq

    def run(out_root):
        stream = (
            spark.readStream.schema(reqs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("seq", seq_or_crash("seq"))
        )
        return score_and_route(spark, stream, *models, str(tmp_path / out_root))

    def rows(sink):
        return sorted(tuple(r) for r in spark.read.parquet(sink).collect())

    base = [rows(d) for d in run("base")]
    assert len(base[0]) + len(base[1]) == 300 and len(base[1]) == 9

    open(marker, "w").close()
    with pytest.raises(StreamingQueryException):
        run("out")
    ok_dir = str(tmp_path / "out" / "scored")
    assert rows(ok_dir) == [r for r in base[0] if r[0] < 100]  # only file 0 committed

    os.remove(marker)
    assert [rows(d) for d in run("out")] == base
    assert [rows(d) for d in run("out")] == base
