"""The system under test for ``api_serve``: one process holding a Spark
session, the two models and ``ScoringService.serve_http``.

Started by ``wl_api.py``. Speaks one JSON object per line: it prints a
``ready`` line after set-up, then answers commands read from stdin:

- ``{"cmd": "trace"}``: wrap the service and model instances so every
  request records handler, scoring and plan spans plus its Spark job
  group (benchmark-side wrappers; nothing inside the program changes);
- ``{"cmd": "spans"}``: return and clear the recorded spans;
- ``{"cmd": "score_batch", "records": [...]}``: score records through
  ``ScoringService.score_batch`` (the correctness reference);
- ``{"cmd": "quit"}``: stop the listener and the session, report peak RSS.
"""

from __future__ import annotations

import json
import shutil
import sys
import threading
import time

import common


class Tracer:
    """Per-request spans for a serial HTTP server: one request is in the
    handler at a time, so the current request id is a plain attribute."""

    def __init__(self, spark, service) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rid = None
        self.plan = 0.0
        self._wrap_handler(service)
        self._wrap_score(service)
        for model in (service.pass_model, service.run_model):
            self._wrap_transform(model)

    def _wrap_handler(self, service) -> None:
        inner = service.score_json

        def score_json(payload: str) -> str:
            self.rid = json.loads(payload).get("rid")
            self.sc.setJobGroup(f"req-{self.rid}", "perfbench request")
            self.plan = 0.0
            t0 = time.monotonic()
            try:
                return inner(payload)
            finally:
                self.spans.append({"name": "handler", "rid": self.rid,
                                   "start": t0, "end": time.monotonic(), "plan": self.plan})

        service.score_json = score_json

    def _wrap_score(self, service) -> None:
        inner = service.score

        def score(record: dict) -> dict:
            t0 = time.monotonic()
            try:
                return inner(record)
            finally:
                self.spans.append({"name": "score", "rid": self.rid,
                                   "start": t0, "end": time.monotonic()})

        service.score = score

    def _wrap_transform(self, model) -> None:
        inner = model.transform

        def transform(dataset, params=None):
            t0 = time.monotonic()
            try:
                return inner(dataset, params)
            finally:
                self.plan += time.monotonic() - t0

        model.transform = transform

    def drain(self) -> list[dict]:
        """Spans so far, each handler span with its Spark job/task counts."""
        tracker = self.sc.statusTracker()
        spans, self.spans = self.spans, []
        for s in spans:
            if s["name"] == "handler":
                s["jobs"], s["tasks"] = common.job_counts(tracker, f"req-{s['rid']}")
        return spans


def score_batch(spark, service, records: list[dict]) -> list[dict]:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    schema = T.StructType(SCORE_REQUEST_SCHEMA.fields + [T.StructField("rid", T.LongType())])
    rows = [tuple(r[f.name] for f in schema.fields) for r in records]
    out = service.score_batch(spark.createDataFrame(rows, schema)).select(
        "rid",
        "best_play",
        F.round("passing_yards", 2).alias("passing_yards"),
        F.round("running_yards", 2).alias("running_yards"),
    )
    return [r.asDict() for r in out.collect()]


def reply(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> None:
    scratch = common.run_dir("api-server")
    common.prepare_env(scratch)
    from nfl_predictions_spark.api import ScoringService

    t0 = time.perf_counter()
    spark, session_s = common.start_spark("perfbench-api")
    pass_model, run_model, load_s = common.load_models()
    t1 = time.perf_counter()
    service = ScoringService(spark, pass_model, run_model)
    server = service.serve_http("127.0.0.1", 0)
    serve_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    reply({"ready": True, "port": server.server_address[1], "setup_s": setup_s,
           "session_s": session_s, "load_models_s": load_s, "serve_s": serve_s,
           "host": common.host_info(spark)})

    tracer = None
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "trace":
            tracer = Tracer(spark, service)
            reply({"ok": True})
        elif cmd == "spans":
            reply({"spans": tracer.drain() if tracer else []})
        elif cmd == "score_batch":
            reply({"rows": score_batch(spark, service, msg["records"])})
        elif cmd == "quit":
            break
    server.shutdown()
    server.server_close()
    thread.join()
    rss = common.peak_rss_mb()
    common.stop_spark(spark)
    shutil.rmtree(scratch, ignore_errors=True)
    reply({"peak_rss_mb": rss})


if __name__ == "__main__":
    main()
