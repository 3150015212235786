"""``api_serve``: single-play ``/api`` traffic to ``ScoringService.serve_http``.

Why this workload: every request launches Spark jobs through two
``PipelineModel.transform`` calls on a one-row DataFrame
(``ml/score.py``), so per-job scheduling and plan building dominate and
the operator library does no work. It is the path a user of the scoring
service waits on.

Three processes: this orchestrator, the server (``api_server.py``) and
the load generator (``loadgen.py``). The server runs a fixed open loop
and then a closed loop of ``nproc`` clients. Requests are drawn from the
seed over the field ranges of ``streaming/simulate.py:request_exprs``.
Every eighth request lacks one field and must get a 400 JSON error;
every other reply must equal ``ScoringService.score_batch`` on the same
record (best_play, yards to 2 dp).
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
from pathlib import Path

import common

HERE = Path(__file__).resolve().parent

#: Open-loop arrival rate (requests/s), fixed so it is the same offered
#: load on every commit. On a 4-core host one request takes ~0.6 s alone
#: and the serial server completes ~2.2 requests/s under the closed loop,
#: so at one request a second no queue should form.
OPEN_RATE = 1.0
#: Share of the measured window given to the open loop; the closed loop
#: gets the rest.
OPEN_SHARE = 0.65
WARMUP_REQUESTS = 5
N_REQUESTS = 512
MISSING_EVERY = 8

# The input domain is written out here, not imported from the program, so
# a change to the program cannot change the benchmark's inputs.
FIELDS = ("qtr", "down", "TimeSecs", "yrdline100", "ydstogo", "ydsnet",
          "month_day", "posteam", "DefensiveTeam", "PlayType_lag")
TEAMS = (
    "NYJ CAR TB OAK DET TEN BUF BAL NE GB JAC DEN ARI SF KC SEA CIN DAL CLE "
    "MIA SD STL MIN ATL PHI WAS NYG PIT NO IND HOU CHI"
).split()


def make_requests(seed: int, n: int = N_REQUESTS) -> list[dict]:
    """Seeded requests over request_exprs' field ranges; every
    MISSING_EVERY-th one has a field removed."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        pos = rng.randrange(32)
        req = {
            "qtr": rng.randint(1, 5),
            "down": rng.randint(1, 4),
            "TimeSecs": rng.randint(-659, 3600),
            "yrdline100": rng.randint(1, 99),
            "ydstogo": rng.randint(1, 42),
            "ydsnet": rng.randint(-48, 99),
            "month_day": rng.randint(103, 1228),
            "posteam": TEAMS[pos],
            "DefensiveTeam": TEAMS[(pos + 1 + rng.randrange(31)) % 32],
            "PlayType_lag": rng.choice(("FirstPlay", "Run", "Pass")),
        }
        if i % MISSING_EVERY == MISSING_EVERY - 1:
            del req[rng.choice(FIELDS)]
        out.append(req)
    return out


def probe_requests(seed: int) -> list[dict]:
    """An unseen PlayType_lag (the stream's 1-in-37 label), then a valid
    request that shows the server still answers."""
    bogus, follow = make_requests(seed + 7_919, 2)
    return [dict(bogus, PlayType_lag="Bogus"), follow]


class Server:
    """The server process and its JSON-lines command channel."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "api_server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.ready = self._read()
        if not self.ready.get("ready"):
            raise RuntimeError(f"api server failed to start: {self.ready}")

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"api server exited with {self.proc.wait()}")
        return json.loads(line)

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> dict:
        out = self.call("quit")
        self.proc.stdin.close()
        self.proc.wait(timeout=120)
        return out

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def run_window(port: int, requests: list[dict], rid_base: int, seconds: float,
               warmup: int, probe: list[dict]) -> dict:
    plan = {
        "port": port, "requests": requests, "rid_base": rid_base, "warmup": warmup,
        "open_rate": OPEN_RATE, "open_s": seconds * OPEN_SHARE,
        "clients": common.nproc(), "closed_s": seconds * (1 - OPEN_SHARE), "probe": probe,
    }
    out = subprocess.run(
        [sys.executable, str(HERE / "loadgen.py")], input=json.dumps(plan),
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout)


def expected_ok(rec: dict, requests: list[dict]) -> bool:
    """True when the reply is the expected kind: 400 JSON error for a
    request missing a field, 200 with the three scoring fields otherwise."""
    req = requests[rec["index"]]
    try:
        body = json.loads(rec.get("body") or "null")
    except json.JSONDecodeError:
        return False
    if len(req) < len(FIELDS):
        return rec["status"] == 400 and isinstance(body, dict) and "error" in body
    return rec["status"] == 200 and isinstance(body, dict) and set(body) == {
        "best_play", "passing_yards", "running_yards"}


def window_metrics(win: dict) -> dict:
    lat = [(r["end"] - r["due"]) * 1000 for r in win["open"]]
    closed = win["closed"]
    span = max(r["end"] for r in closed) - win["closed_start"]
    return {
        "p50_ms": statistics.median(lat),
        "tail": common.tail(lat),
        "closed_rps": len(closed) / span,
        "late_ms": [(r["start"] - r["due"]) * 1000 for r in win["open"]],
    }


def layer_metrics(win: dict, spans: list[dict], requests: list[dict]) -> dict:
    """Per-layer numbers of the traced window, joined on rid."""
    handler = {s["rid"]: s for s in spans if s["name"] == "handler"}
    score = {s["rid"]: s for s in spans if s["name"] == "score"}
    valid_open = [r for r in win["open"] if len(requests[r["index"]]) == len(FIELDS)]
    scored = [r["rid"] for r in win["open"] + win["closed"]
              if len(requests[r["index"]]) == len(FIELDS) and r["rid"] in score]
    med = statistics.median
    return {
        "api.handler_ms": med((handler[r["rid"]]["end"] - handler[r["rid"]]["start"]) * 1000
                              for r in valid_open),
        "api.wire_ms": med(((r["end"] - r["start"]) - (handler[r["rid"]]["end"]
                            - handler[r["rid"]]["start"])) * 1000 for r in valid_open),
        "api.queue_ms": med((handler[r["rid"]]["start"] - r["start"]) * 1000
                            for r in win["closed"]),
        "gen.late_ms": med((r["start"] - r["due"]) * 1000 for r in win["open"]),
        "ml.score.plan_ms": med(handler[rid]["plan"] * 1000 for rid in scored),
        "ml.score.exec_ms": med((score[rid]["end"] - score[rid]["start"]
                                 - handler[rid]["plan"]) * 1000 for rid in scored),
        "spark.jobs_per_req": statistics.mean(handler[rid]["jobs"] for rid in scored),
        "spark.tasks_per_req": statistics.mean(handler[rid]["tasks"] for rid in scored),
        "requests": len(handler),
    }


def run(seed: int, seconds: float, trace: bool) -> dict:
    requests = make_requests(seed)
    probe = probe_requests(seed)
    server = Server()
    try:
        port = server.ready["port"]
        windows = [seconds / 2, seconds / 2] if trace else [seconds]
        results, spans = [], []
        rid_base = 0
        for i, win_s in enumerate(windows):
            if trace and i == 1:
                server.call("trace")
            last = i == len(windows) - 1
            win = run_window(port, requests, rid_base, win_s,
                             WARMUP_REQUESTS if i == 0 else 0, probe if last else [])
            rid_base += 100_000
            results.append(win)
        if trace:
            spans = server.call("spans")["spans"]
        records = [r for w in results for r in w["open"] + w["closed"]]
        valid = sorted({r["index"] for r in records
                        if len(requests[r["index"]]) == len(FIELDS)})
        ref = server.call("score_batch",
                          records=[dict(requests[i], rid=i) for i in valid])["rows"]
        rss = server.close()["peak_rss_mb"]
    except BaseException:
        server.kill()
        raise

    expected = {row.pop("rid"): row for row in ref}

    def correct(r: dict) -> bool:
        return expected_ok(r, requests) and (
            r["status"] != 200 or json.loads(r["body"]) == expected[r["index"]])

    def phase(recs: list[dict]) -> dict:
        bad = [r["rid"] for r in recs if not correct(r)]
        return {"attempted": len(recs), "succeeded": len(recs) - len(bad),
                "failed": len(bad), "failed_rids": bad[:10],
                "missing_field": sum(len(requests[r["index"]]) < len(FIELDS) for r in recs)}

    failed = [r["rid"] for r in records if not correct(r)]
    bogus, follow = results[-1]["probe"]
    probe_outcome = ("scored" if bogus["status"] == 200 else
                     "4xx" if bogus["status"] and 400 <= bogus["status"] < 500 else
                     f"status {bogus['status']}" if bogus["status"] else "dropped")
    probe_failed = int(probe_outcome == "scored") + int(follow["status"] != 200)

    first = window_metrics(results[0])
    detail = {
        "workload": "api_serve", "seed": seed, "seconds": seconds,
        "setup": {k: server.ready[k] for k in ("setup_s", "session_s", "load_models_s", "serve_s")},
        "setup.train_s": common.train_s(),
        "host": server.ready["host"],
        "open_rate": OPEN_RATE, "clients": common.nproc(),
        "metrics": {
            "api.p50_ms": common.metric(first["p50_ms"], "ms"),
            "api.tail_ms": common.metric(first["tail"]["value"], "ms"),
            "api.tail_percentile": first["tail"]["percentile"],
            "api.closed_rps": common.metric(first["closed_rps"], "1/s"),
            "api.fail_share": common.metric(common.share(len(failed), len(records)), "share"),
            "setup_s": common.metric(server.ready["setup_s"], "s"),
            "peak_rss_mb": common.metric(rss, "MB"),
        },
        "phases": {
            **{f"{kind}{i}": phase(w[kind]) for i, w in enumerate(results)
               for kind in ("open", "closed")},
            "probe": {"attempted": 2, "succeeded": 2 - probe_failed, "failed": probe_failed,
                      "unseen_label_outcome": probe_outcome},
        },
        "gen.late_ms_max": max(first["late_ms"]),
    }
    end_to_end = {
        "setup_s": common.metric(server.ready["setup_s"], "s"),
        "peak_rss_mb": common.metric(rss, "MB"),
        "p50_ms": common.metric(first["p50_ms"], "ms"),
        "throughput_per_s": common.metric(first["closed_rps"], "1/s"),
    }
    per_layer = None
    if trace:
        layers = layer_metrics(results[1], spans, requests)
        traced = window_metrics(results[1])
        detail["layers"] = layers
        detail["traced_p50_ms"] = traced["p50_ms"]
        per_layer = {
            "setup.session_s": common.metric(server.ready["session_s"], "s"),
            "setup.program_s": common.metric(
                server.ready["load_models_s"] + server.ready["serve_s"], "s"),
            "op.plan_ms": common.metric(layers["ml.score.plan_ms"], "ms"),
            "op.exec_ms": common.metric(layers["ml.score.exec_ms"], "ms"),
            "op.outside_ms": common.metric(layers["api.wire_ms"], "ms"),
            "op.jobs": common.metric(layers["spark.jobs_per_req"], "count"),
            "op.tasks": common.metric(layers["spark.tasks_per_req"], "count"),
            "op.count": common.metric(layers["requests"], "count"),
            "trace.overhead_pct": common.metric(
                (traced["p50_ms"] / first["p50_ms"] - 1) * 100, "%"),
        }
    return {
        "correct": not failed and not probe_failed,
        "attempted": len(records) + 2,
        "failed": len(failed) + probe_failed,
        "end_to_end": end_to_end, "per_layer": per_layer, "detail": detail,
        "spans": spans + [dict(r, name="client") for r in records],
    }
