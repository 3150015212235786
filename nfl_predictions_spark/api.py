"""Serving facade — the reference's query entry points, engine-native.

The reference serves scoring through Flask routes (``POST /api`` JSON,
``POST /index`` form + cursor; reference ``assets/app_nfl.py`` §3 of
SURVEY.md). The engine keeps the HTTP layer out of core and exposes the
same contracts as plain functions over a SparkSession + two models:

- ``score(record)``        — 10-field dict in, best-play dict out
- ``score_json(payload)``  — JSON string in/out (the /api wire contract)
- ``score_batch(df)``      — N rows in one vectorized pass
- ``next_play(cursor)``    — positional row lookup over an ordered plays
                             table (the /index "next play" cursor)
- ``render_index(cursor)`` / ``handle_index_form(form)`` — the /index
  HTML form round-trip (prefill → score → advance cursor), bound to
  GET|POST / and /index by ``serve_http`` (VERDICT r05 missing #2)

Models load once at service construction (the reference loads at boot,
``assets/app_nfl.py:337-338``; its Livy path reloads per statement —
the engine never does). Construction also compiles each model into a
``ScoringModel`` (``ml/score.py``) and certifies it bit-identical to
MLlib on a fixed probe set. When both certify, ``score`` walks the trees
in Python and launches no Spark job; otherwise it logs one warning and
scores through Spark (``score_record``), as the reference does. Either
way a request is checked by ``validate_request`` first, so a bad field
or an unseen label is a ``ValueError`` (HTTP 400), never a Spark error.
``score_batch`` and the stream always use MLlib.
"""

from __future__ import annotations

import json
import logging

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_predictions_spark.ml.score import (
    ScoringModel,
    score_best_play,
    score_compiled,
    score_record,
)


log = logging.getLogger(__name__)

_JSON = "application/json"


def _error(message: str) -> bytes:
    return json.dumps({"error": message}).encode("utf-8")


class ScoringService:
    def __init__(
        self,
        spark: SparkSession,
        pass_model: PipelineModel,
        run_model: PipelineModel,
        plays: DataFrame | None = None,
    ):
        self.spark = spark
        self.pass_model = pass_model
        self.run_model = run_model
        self._plays = plays
        compiled_pass = ScoringModel.compile(pass_model)
        compiled_run = compiled_pass and ScoringModel.compile(run_model)
        self._compiled = (compiled_pass, compiled_run) if compiled_run else None

    @classmethod
    def from_trained(cls, spark: SparkSession, plays: DataFrame | None = None):
        from nfl_predictions_spark.ml.queries import trained_models

        return cls(spark, *trained_models(spark), plays=plays)

    # -- /api contract ------------------------------------------------------
    def score(self, record: dict) -> dict:
        """Score one play: compiled when certified, else through Spark.
        An invalid record raises ``ValueError`` on either path."""
        if self._compiled is None:
            return score_record(self.spark, self.pass_model, self.run_model, record)
        return score_compiled(*self._compiled, record)

    def score_json(self, payload: str) -> str:
        """JSON-in/JSON-out single-record scoring. A missing, mistyped
        or out-of-range field, or an unseen label, raises ``ValueError``
        naming it (the reference silently NameError'd on its sklearn
        route — a documented defect we do not reproduce; SURVEY §2A
        notes)."""
        return json.dumps(self.score(json.loads(payload)))

    # -- batch scoring ------------------------------------------------------
    def score_batch(self, requests: DataFrame) -> DataFrame:
        return score_best_play(self.pass_model, self.run_model, requests)

    # -- HTTP binding (reference-parity smoke surface) ----------------------
    def serve_http(self, host: str = "127.0.0.1", port: int = 0):
        """Bind the ``/api`` contract to a localhost HTTP listener —
        the end-to-end shape of the reference's serving app (single-
        threaded Flask on :4444, ``assets/app_nfl.py:282-343``), with
        stdlib ``http.server`` so the engine core stays framework-free.
        Returns the bound ``HTTPServer``; the caller owns
        ``serve_forever``/``shutdown``. Malformed or incomplete requests,
        and a bad ``Content-Length``, get a 400 (the reference's bare
        ``except`` swallowed them — a documented defect we do not
        reproduce); any other error in a POST gets a 500 JSON reply
        rather than a dropped connection."""
        from http.server import BaseHTTPRequestHandler, HTTPServer

        service = self

        class _Handler(BaseHTTPRequestHandler):
            def _reply(self, code: int, body: bytes, ctype: str):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path not in ("/", "/index"):
                    self.send_error(404, "unknown route")
                    return
                try:
                    page = service.render_index(0).encode("utf-8")
                except ValueError as e:  # no plays table attached
                    self._reply(400, str(e).encode(), "text/plain")
                    return
                self._reply(200, page, "text/html")

            def do_POST(self):
                try:
                    code, out, ctype = self._post()
                except Exception as e:  # last resort: answer, never drop the connection
                    log.exception("POST %s failed", self.path)
                    code, out, ctype = 500, _error(f"{type(e).__name__}: {e}"), _JSON
                self._reply(code, out, ctype)

            def _post(self) -> tuple[int, bytes, str]:
                length = self.headers.get("Content-Length", "0").strip()
                if not length.isdecimal():
                    return 400, _error("Content-Length must be a non-negative integer"), _JSON
                body = self.rfile.read(int(length))
                if self.path in ("/", "/index"):
                    from urllib.parse import parse_qs

                    try:
                        form = {k: v[0] for k, v in parse_qs(body.decode("utf-8")).items()}
                        return 200, service.handle_index_form(form).encode("utf-8"), "text/html"
                    except (ValueError, KeyError) as e:
                        return 400, str(e).encode(), "text/plain"
                if self.path != "/api":
                    return 404, _error("unknown route"), _JSON
                try:
                    return 200, service.score_json(body.decode("utf-8")).encode("utf-8"), _JSON
                except ValueError as e:  # bad JSON or UTF-8 are ValueErrors too
                    return 400, _error(str(e)), _JSON

            def log_message(self, *args):  # keep test output clean
                pass

        return HTTPServer((host, port), _Handler)

    # -- /index form flow (reference assets/app_nfl.py:236-280) -------------
    _INDEX_TEMPLATE = (
        "<html><body><h1>next play</h1>$banner"
        '<form method="POST" action="/index">'
        '<input type="hidden" name="row_number" value="$row_number">'
        '<input name="datestamp" value="$datestamp">'
        '<input name="posteam" value="$posteam">'
        '<input name="DefensiveTeam" value="$DefensiveTeam">'
        '<input name="quarter" value="$quarter">'
        '<input name="down" value="$down">'
        '<input name="timesecs" value="$timesecs">'
        '<input name="yrdline100" value="$yrdline100">'
        '<input name="ydstogo" value="$ydstogo">'
        '<input name="ydsnet" value="$ydsnet">'
        '<input name="playtype_lag" value="$playtype_lag">'
        '<input type="submit" value="predict"></form></body></html>'
    )

    def render_index(self, cursor: int, prediction: dict | None = None) -> str:
        """The /index page at a cursor: a form prefilled with that play
        (field names exactly the reference template's —
        ``assets/app_nfl.py:251-261`` reads them back by these keys),
        plus the prediction banner after a POST. Rendering is stdlib
        string.Template; the engine core stays framework-free, same
        policy as serve_http."""
        import html
        import string

        play = self.next_play(cursor)
        if play is None:
            return "<html><body><h1>no more plays</h1></body></html>"
        banner = ""
        if prediction is not None:
            banner = (
                f"<p>best_play={html.escape(str(prediction['best_play']))} "
                f"passing_yards={round(prediction['passing_yards'], 2)} "
                f"running_yards={round(prediction['running_yards'], 2)}</p>"
            )
        # Escape EVERY substituted value, numeric-typed columns included —
        # XSS safety must not depend on the plays table's column types
        # staying numeric (ADVICE r06 #4). banner is already escaped
        # markup, so it alone is substituted verbatim.
        esc = lambda v: html.escape(str(v), quote=True)  # noqa: E731
        return string.Template(self._INDEX_TEMPLATE).substitute(
            banner=banner,
            row_number=esc(cursor),
            datestamp=esc(play["Date"]),
            posteam=esc(play["posteam"]),
            DefensiveTeam=esc(play["DefensiveTeam"]),
            quarter=esc(play["qtr"]),
            down=esc(play["down"]),
            timesecs=esc(play["TimeSecs"]),
            yrdline100=esc(play["yrdline100"]),
            ydstogo=esc(play["ydstogo"]),
            ydsnet=esc(play["ydsnet"]),
            playtype_lag=esc(play["PlayType_lag"]),
        )

    def handle_index_form(self, form: dict) -> str:
        """POST /index: score the submitted form, ADVANCE the cursor,
        render the next play with the prediction banner — the
        reference's form round-trip (``assets/app_nfl.py:250-272``),
        including its month_day = int(MM + DD) derivation from the
        datestamp. Missing/malformed fields raise (the engine's
        fail-loud policy), they do not 500 silently."""
        datestamp = form["datestamp"]
        record = {
            "qtr": int(form["quarter"]),
            "down": int(form["down"]),
            "TimeSecs": int(form["timesecs"]),
            "yrdline100": int(form["yrdline100"]),
            "ydstogo": int(form["ydstogo"]),
            "ydsnet": int(form["ydsnet"]),
            "month_day": int(datestamp[5:7] + datestamp[8:10]),
            "posteam": form["posteam"],
            "DefensiveTeam": form["DefensiveTeam"],
            "PlayType_lag": form["playtype_lag"],
        }
        prediction = self.score(record)
        return self.render_index(int(form["row_number"]) + 1, prediction)

    # -- /index cursor ------------------------------------------------------
    def next_play(self, cursor: int) -> dict | None:
        """Nth play of the ordered plays table (reference get_next_play,
        ``assets/app_nfl.py:68-71``) — ORDER BY + OFFSET/LIMIT, not a
        driver-side row list."""
        if self._plays is None:
            raise ValueError("no plays table attached")
        rows = (
            self._plays.orderBy(F.desc("Date"), F.asc("GameID"), F.desc("TimeSecs"))
            .offset(cursor)
            .limit(1)
            .collect()
        )
        return rows[0].asDict() if rows else None
