"""``stream_route``: the NiFi flow as the engine runs it.

Why this workload: ``streaming.score.score_and_route`` uses the same two
models as ``api_serve`` but per micro-batch: each batch is persisted,
validated, scored and written to two sinks (``streaming/score.py``).
There is no HTTP. The chunk size keeps both costs visible: at 10 000
rows a batch spends about as long on its fixed per-batch work (planning,
offsets, commit, two sink jobs) as on scoring its rows.

The input is staged once per run: ``ROUND_ROWS`` simulated requests
(``streaming.simulate``) whose sequence numbers start at a seed-derived
offset, with ``with_invalid(every=37)`` labels, as ``CHUNKS`` parquet
files read one file per trigger. After an untimed half round, the measured
window replays that input through ``score_and_route`` a fixed number of
rounds, each round a new query with fresh sinks.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from pathlib import Path

import common

CHUNKS = 8
CHUNK_ROWS = 10_000
ROUND_ROWS = CHUNKS * CHUNK_ROWS
INVALID_EVERY = 37
#: The untimed warm-up round replays the first chunks of the staged input.
WARMUP_CHUNKS = 4
#: Round time on a 4-core host once warm. A window runs a whole number of
#: rounds, ``round(seconds / ROUND_S)``, so every run does the same work.
ROUND_S = 5.0


def seq_base(seed: int) -> int:
    return seed * 1_000_003


def stage(spark, seed: int, rows: int, out: Path) -> Path:
    """Write ``rows`` requests as CHUNKS-sized files with increasing
    mtimes (the file source reads oldest first); one Spark job."""
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    base = seq_base(seed)
    n_files = rows // CHUNK_ROWS
    ticks = spark.range(base, base + rows, 1, n_files)
    reqs = with_invalid(simulated_requests(ticks, "id"), every=INVALID_EVERY)
    tmp = out.with_name(out.name + ".tmp")
    reqs.write.mode("overwrite").parquet(str(tmp))
    out.mkdir(parents=True)
    for i, src in enumerate(sorted(tmp.glob("part-*.parquet"))):
        dst = out / f"chunk{i:03d}.parquet"
        os.rename(src, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(tmp)
    return out


def expected_split(seed: int, rows: int) -> tuple[int, int]:
    """(scored, dead_letter) in closed form, as q36_stream_route_counts
    states it: a row goes to the dead letter iff seq % 37 == 0."""
    base = seq_base(seed)
    dead = (base + rows - 1) // INVALID_EVERY - (base - 1) // INVALID_EVERY
    return rows - dead, dead


class Listener:
    """Collects streaming progress per run id (a StreamingQueryListener
    the benchmark registers; the program is unchanged)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: dict[str, list[dict]] = {}
        self.started: list[str] = []
        self.done: set[str] = set()
        self._cv = threading.Condition()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.progress.setdefault(str(p.runId), []).append(
                        {"batch": p.batchId, "rows": p.numInputRows,
                         "durations": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.done.add(str(event.runId))
                    outer._cv.notify_all()

        self._impl = _L()
        spark.streams.addListener(self._impl)

    def finished(self, run_id: str, timeout: float = 30) -> list[dict]:
        with self._cv:
            self._cv.wait_for(lambda: run_id in self.done, timeout)
            return [p for p in self.progress.get(run_id, []) if p["rows"] > 0]


class PlanTimer:
    """Time spent inside the two model instances' ``transform``."""

    def __init__(self, models) -> None:
        self.total = 0.0
        self.calls = 0
        for m in models:
            inner = m.transform

            def transform(dataset, params=None, _inner=inner):
                t0 = time.monotonic()
                try:
                    return _inner(dataset, params)
                finally:
                    self.total += time.monotonic() - t0
                    self.calls += 1

            m.transform = transform


def one_round(spark, listener, in_dir: Path, schema, models, out_root: Path) -> dict:
    from nfl_predictions_spark.streaming.score import score_and_route

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        str(in_dir))
    n_started = len(listener.started)
    t0 = time.perf_counter()
    ok_dir, dlq_dir = score_and_route(spark, stream, *models, str(out_root))
    wall = time.perf_counter() - t0
    run_id = listener.started[n_started]
    return {"wall": wall, "run_id": run_id, "batches": listener.finished(run_id),
            "ok_dir": ok_dir, "dlq_dir": dlq_dir}


def run(seed: int, seconds: float, trace: bool) -> dict:
    from pyspark.sql import functions as F

    from nfl_predictions_spark.api import ScoringService

    scratch = common.run_dir("stream")
    t0 = time.perf_counter()
    spark, session_s = common.start_spark("perfbench-stream")
    try:
        pass_model, run_model, load_s = common.load_models()
        t1 = time.perf_counter()
        in_dir = stage(spark, seed, ROUND_ROWS, scratch / "in")
        staging_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        schema = spark.read.parquet(str(in_dir)).schema
        host = common.host_info(spark)
        listener = Listener(spark)
        models = (pass_model, run_model)

        warm_dir = scratch / "warm"
        warm_dir.mkdir()
        for src in sorted(in_dir.iterdir())[:WARMUP_CHUNKS]:
            os.link(src, warm_dir / src.name)
        one_round(spark, listener, warm_dir, schema, models, scratch / "out-warm")
        windows = [seconds / 2, seconds / 2] if trace else [seconds]
        results = []
        plan_timer = None
        for i, win_s in enumerate(windows):
            if trace and i == 1:
                plan_timer = PlanTimer(models)
            results.append([
                one_round(spark, listener, in_dir, schema, models, scratch / f"out{i}-{k}")
                for k in range(max(1, round(win_s / ROUND_S)))])
        if trace:
            plan_total, plan_calls = plan_timer.total, plan_timer.calls

        # correctness: every round's split; the last round's best_play split
        exp_ok, exp_dead = expected_split(seed, ROUND_ROWS)
        failed = 0
        counts = []
        for rounds in results:
            for r in rounds:
                n_ok = spark.read.parquet(r["ok_dir"]).count()
                n_dead = spark.read.parquet(r["dlq_dir"]).count()
                counts.append((n_ok, n_dead))
                failed += abs(n_ok - exp_ok) + abs(n_dead - exp_dead)
        last = results[-1][-1]
        got = dict(spark.read.parquet(last["ok_dir"]).groupBy("best_play").count().collect())
        valid = spark.read.parquet(str(in_dir)).filter(
            F.col("PlayType_lag").isin("FirstPlay", "Run", "Pass"))
        service = ScoringService(spark, pass_model, run_model)
        want = dict(service.score_batch(valid).groupBy("best_play").count().collect())
        split_diff = sum(abs(got.get(k, 0) - want.get(k, 0)) for k in set(got) | set(want))
        failed += split_diff

        if trace:
            tracker = spark.sparkContext.statusTracker()
            per_round = [common.job_counts(tracker, r["run_id"]) for r in results[1]]
            jobs, tasks = sum(j for j, _ in per_round), sum(t for _, t in per_round)
        rss = common.peak_rss_mb()
    finally:
        common.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    def summary(rounds):
        batches = [b for r in rounds for b in r["batches"]]
        trig = [b["durations"]["triggerExecution"] for b in batches]
        rows = sum(b["rows"] for b in batches)
        return {
            "rows": rows, "batches": batches, "tail": common.tail(trig),
            "rows_per_s": rows / sum(r["wall"] for r in rounds),
            "batch_p50_ms": statistics.median(trig),
        }

    first = summary(results[0])
    attempted = sum(len(r) for r in results) * ROUND_ROWS
    detail = {
        "workload": "stream_route", "seed": seed, "seconds": seconds,
        "setup": {"setup_s": setup_s, "session_s": session_s, "load_models_s": load_s,
                  "staging_s": staging_s},
        "setup.train_s": common.train_s(),
        "host": host,
        "input": {"rows_per_round": ROUND_ROWS, "chunks": CHUNKS, "chunk_rows": CHUNK_ROWS,
                  "invalid_every": INVALID_EVERY, "seq_base": seq_base(seed)},
        "metrics": {
            "stream.rows_per_s": common.metric(first["rows_per_s"], "1/s"),
            "stream.batch_p50_ms": common.metric(first["batch_p50_ms"], "ms"),
            "stream.batch_tail_ms": common.metric(first["tail"]["value"], "ms"),
            "stream.batch_tail_percentile": first["tail"]["percentile"],
            "stream.fail_share": common.metric(common.share(failed, attempted), "share"),
            "setup_s": common.metric(setup_s, "s"),
            "peak_rss_mb": common.metric(rss, "MB"),
        },
        "phases": {
            "rounds": {"attempted": attempted, "succeeded": attempted - failed,
                       "failed": failed, "rounds": sum(len(r) for r in results),
                       "batches": len(first["batches"])},
            "split": {"expected": [exp_ok, exp_dead], "seen": counts,
                      "best_play": got, "best_play_expected": want,
                      "best_play_rows_off": split_diff},
        },
    }
    end_to_end = {
        "setup_s": common.metric(setup_s, "s"),
        "peak_rss_mb": common.metric(rss, "MB"),
        "p50_ms": common.metric(first["batch_p50_ms"], "ms"),
        "throughput_per_s": common.metric(first["rows_per_s"], "1/s"),
    }
    per_layer = None
    spans = [{"name": "round", "run_id": r["run_id"], "wall": r["wall"],
              "batches": r["batches"]} for rounds in results for r in rounds]
    if trace:
        second = summary(results[1])
        n_b = len(second["batches"])
        med = statistics.median
        d = [b["durations"] for b in second["batches"]]
        plan_ms = plan_total * 1000 / n_b
        layers = {
            "stream.add_batch_ms": med(x["addBatch"] for x in d),
            "stream.planning_ms": med(x["queryPlanning"] for x in d),
            "stream.offsets_ms": med(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d),
            "stream.commit_ms": med(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
            "stream.batches": n_b,
            "stream.rows_per_batch": second["rows"] / n_b,
            "stream.scored_rows": counts[-1][0], "stream.dead_letter_rows": counts[-1][1],
            "ml.score.plan_ms": plan_ms,
            "ml.score.transform_calls_per_batch": plan_calls / n_b,
            "spark.jobs_per_batch": jobs / n_b,
            "spark.tasks_per_batch": tasks / n_b,
        }
        detail["layers"] = layers
        detail["traced_batch_p50_ms"] = second["batch_p50_ms"]
        per_layer = {
            "setup.session_s": common.metric(session_s, "s"),
            "setup.program_s": common.metric(load_s + staging_s, "s"),
            "op.plan_ms": common.metric(plan_ms, "ms"),
            "op.exec_ms": common.metric(layers["stream.add_batch_ms"] - plan_ms, "ms"),
            "op.outside_ms": common.metric(
                med(x["triggerExecution"] - x["addBatch"] for x in d), "ms"),
            "op.jobs": common.metric(jobs / n_b, "count"),
            "op.tasks": common.metric(tasks / n_b, "count"),
            "op.count": common.metric(n_b, "count"),
            "trace.overhead_pct": common.metric(
                (second["batch_p50_ms"] / first["batch_p50_ms"] - 1) * 100, "%"),
        }
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "end_to_end": end_to_end, "per_layer": per_layer, "detail": detail, "spans": spans,
    }
