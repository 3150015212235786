"""Load generator for ``api_serve``: a process of its own, stdlib only.

Reads one JSON plan on stdin and prints one JSON report on stdout. The
plan holds the port, the request list (made from the seed by
``wl_api.py``) and the phase settings:

- ``warmup``: that many requests one after another, not recorded;
- ``open``: request i is due at ``start + i / rate`` and is sent when due
  by a pool thread whether or not earlier replies have come back.
  Latency runs from the due time, so a stall also delays the requests
  queued behind it; ``late`` is how far the generator ran behind;
- ``closed``: ``clients`` threads, each sending its next request only
  after its previous reply, until the phase time is up;
- ``probe``: the given requests one after another, outcome recorded.

Every request body carries ``rid``, a send number counted from the plan's
``rid_base``; the server-side tracer uses it to join its spans to these
records. Probe requests get negative ids.
"""

from __future__ import annotations

import http.client
import itertools
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor


class Sender:
    def __init__(self, port: int, requests: list[dict], rid_base: int) -> None:
        self.port = port
        self.requests = requests
        self._next = itertools.count(rid_base)
        self._lock = threading.Lock()

    def take(self) -> tuple[int, dict]:
        with self._lock:
            rid = next(self._next)
        return rid, self.requests[rid % len(self.requests)]

    def send(self, rid: int, request: dict, **extra) -> dict:
        body = json.dumps(dict(request, rid=rid))
        rec = {"rid": rid, "index": rid % len(self.requests), **extra}
        rec["start"] = time.monotonic()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/api", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            rec["status"] = resp.status
            rec["body"] = resp.read().decode("utf-8")
        except (OSError, http.client.HTTPException) as e:
            rec["status"] = None
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            conn.close()
        rec["end"] = time.monotonic()
        return rec


def open_loop(sender: Sender, rate: float, seconds: float) -> list[dict]:
    n = max(1, int(seconds * rate))
    pool = ThreadPoolExecutor(max_workers=min(n, 64))
    futures = []
    t0 = time.monotonic() + 0.05
    for i in range(n):
        due = t0 + i / rate
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        rid, req = sender.take()
        futures.append(pool.submit(sender.send, rid, req, due=due))
    out = [f.result() for f in futures]
    pool.shutdown()
    return out


def closed_loop(sender: Sender, clients: int, seconds: float) -> tuple[list[dict], float, float]:
    records: list[dict] = []
    lock = threading.Lock()
    start = time.monotonic()
    deadline = start + seconds

    def client() -> None:
        while time.monotonic() < deadline:
            rec = sender.send(*sender.take())
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, start, deadline


def main() -> None:
    plan = json.loads(sys.stdin.read())
    sender = Sender(plan["port"], plan["requests"], plan["rid_base"])
    for _ in range(plan["warmup"]):
        sender.send(*sender.take())
    rec_open = open_loop(sender, plan["open_rate"], plan["open_s"])
    rec_closed, c_start, c_deadline = closed_loop(sender, plan["clients"], plan["closed_s"])
    probe = [sender.send(-1 - i, req) for i, req in enumerate(plan["probe"])]
    print(json.dumps({"open": rec_open, "closed": rec_closed, "closed_start": c_start,
                      "closed_deadline": c_deadline, "probe": probe}))


if __name__ == "__main__":
    main()
