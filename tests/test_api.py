"""Serving-facade and extended-operator tests."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def service(spark):
    from nfl_predictions_spark.api import ScoringService
    from nfl_predictions_spark.ml.features import build_features
    from nfl_predictions_spark.ml.synthetic import synthetic_plays

    plays = build_features(synthetic_plays(spark, 2, 30))
    return ScoringService.from_trained(spark, plays=plays)


def test_score_json_contract(service):
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    out = json.loads(service.score_json(json.dumps(GOLDEN_REQUEST)))
    assert set(out) == {"best_play", "passing_yards", "running_yards"}
    assert out["best_play"] in ("Passing Play", "Running Play")


def test_score_json_missing_field_errors(service):
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    bad = {k: v for k, v in GOLDEN_REQUEST.items() if k != "qtr"}
    with pytest.raises(ValueError, match="qtr"):
        service.score_json(json.dumps(bad))


def test_next_play_cursor(service):
    first = service.next_play(0)
    second = service.next_play(1)
    assert first is not None and second is not None and first != second
    assert service.next_play(10**6) is None  # past the end


def test_http_golden_replay(service):
    """End-to-end serving smoke (SURVEY §3 entry points 1-2): bind the
    service to a localhost HTTP listener and replay the reference's
    golden curl request (assets/app_nfl.py:286) over a real socket.
    The JSON wire contract must be exactly {best_play, passing_yards,
    running_yards} (assets/app_nfl.py:316); HTTP answers must agree
    with direct in-process scoring; missing fields and unknown routes
    must fail loudly (400/404), unlike the reference's silent excepts."""
    import threading
    import urllib.error
    import urllib.request

    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    srv = service.serve_http()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"

        def post(path, payload):
            req = urllib.request.Request(
                base + path,
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=60) as resp:
                return json.loads(resp.read())

        out = post("/api", GOLDEN_REQUEST)
        assert set(out) == {"best_play", "passing_yards", "running_yards"}
        assert out["best_play"] in ("Passing Play", "Running Play")
        assert out == json.loads(service.score_json(json.dumps(GOLDEN_REQUEST)))

        bad = {k: v for k, v in GOLDEN_REQUEST.items() if k != "qtr"}
        with pytest.raises(urllib.error.HTTPError) as e400:
            post("/api", bad)
        assert e400.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as e404:
            post("/nope", GOLDEN_REQUEST)
        assert e404.value.code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def test_batch_matches_single(service, spark):
    """Batch scoring and single-record scoring agree row for row."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    single = service.score(GOLDEN_REQUEST)
    row = tuple(GOLDEN_REQUEST[f.name] for f in SCORE_REQUEST_SCHEMA.fields)
    batch = (
        service.score_batch(spark.createDataFrame([row] * 3, SCORE_REQUEST_SCHEMA))
        .select(
            "best_play",
            F.round("passing_yards", 2).alias("passing_yards"),
            F.round("running_yards", 2).alias("running_yards"),
        )
        .collect()
    )
    assert len(batch) == 3
    for r in batch:
        assert r.asDict() == single


def test_connect_gated():
    from nfl_predictions_spark.connect import get_remote_spark

    with pytest.raises(RuntimeError, match="SPARK_REMOTE"):
        get_remote_spark(None)


def test_partition_pruning_plan(spark):
    """q48's one-day filter must prune to a single partition directory."""
    from nfl_predictions_spark.operators.extended import q48_partition_pruned_scan

    df = q48_partition_pruned_scan(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "Scan parquet" in l or "PartitionFilters" in l]
    assert any("PartitionFilters" in l and "event_date" in l for l in plan.splitlines()), scan_lines


def test_bucketed_join_no_exchange(spark):
    """q52's bucketed join must have no Exchange on either join side."""
    from nfl_predictions_spark.operators.skew import q52_bucketed_join

    df = q52_bucketed_join(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_salted_join_matches_plain(spark):
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.skew import q51b_salted_join
    from nfl_predictions_spark.sources.tables import table

    salted = {(r.o_orderpriority, r.cnt) for r in q51b_salted_join(spark, SF_SMOKE).collect()}
    orders = table(spark, SF_SMOKE, "orders")
    li = table(spark, SF_SMOKE, "lineitem")
    plain = {
        (r.o_orderpriority, r.cnt)
        for r in orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert salted == plain


def test_bloom_filter_effectiveness(spark):
    """The size-adaptive packed bloom filter must actually filter: every
    true semi-join row passes, and false positives stay near the ~1.7%
    design FPR (10 bits/key, k=3) rather than the ~97% a saturated
    fixed-size filter would show."""
    from nfl_predictions_spark.operators.skew import q120_bloom_semi_join

    row = q120_bloom_semi_join(spark, SF_SMOKE).collect()[0]
    assert row.n_bloom_pass >= row.n_exact  # no false negatives, ever
    assert row.n_false_pos == row.n_bloom_pass - row.n_exact
    assert row.n_false_pos <= 0.05 * row.n_probed  # filter not saturated


def test_dynamic_partition_pruning(spark):
    """Joining the date-partitioned events table to a filtered dim must
    inject a dynamic pruning subquery into the fact scan (the runtime
    analogue of q48's static pruning)."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.extended import events_by_day_path

    fact = spark.read.parquet(events_by_day_path(spark, SF_SMOKE))
    dim = (
        spark.createDataFrame([("2024-01-05",), ("2024-01-06",), ("2024-01-09",)], "d string")
        .select(F.col("d").cast("date").alias("d"))
        # DPP's benefit heuristic requires a selective filter on the
        # build side — the realistic "filtered dim prunes the fact" shape.
        .filter(F.col("d") < "2024-01-07")
    )
    joined = fact.join(dim, fact.event_date == dim.d).agg(F.count("*").alias("cnt"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_python_datasource_partition_invariant(spark):
    """The custom source must generate identical content at any
    generation width (rows are a pure function of the global index)."""
    from nfl_predictions_spark.sources import synthetic

    synthetic.register(spark)

    def load(parts):
        return sorted(
            spark.read.format("synthetic_events")
            .option("rows", "500")
            .option("partitions", str(parts))
            .load()
            .collect()
        )

    a, b = load(1), load(7)
    assert a == b and len(a) == 500
    assert a[3]["event_id"] == 3
    assert a[3]["user_id"] == (3 * 2654435761) % 1000


def test_single_record_scoring_launches_no_shuffle(spark, service):
    """SURVEY §4 risk 3 / VERDICT r03 #6: the reference's whole point is
    per-request scoring, so `score(record)` must not shuffle. The
    certified compiled path is stricter: it launches no Spark job at
    all (and so no shuffle)."""
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    sc = spark.sparkContext
    group = "score-shuffle-guard"
    sc.setJobGroup(group, "single-record scoring", interruptOnCancel=False)
    try:
        out = service.score(dict(GOLDEN_REQUEST))
    finally:
        sc.setJobGroup(None, None)
    assert out["best_play"] in ("Passing Play", "Running Play")
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_index_form_roundtrip(service):
    """The /index HTML flow (reference assets/app_nfl.py:236-280): GET
    renders a form prefilled with play 0; POSTing that form back scores
    it, ADVANCES the cursor, and renders play 1 with the prediction
    banner. Field names must be exactly the reference template's."""
    import re
    import threading
    import urllib.parse
    import urllib.request

    srv = service.serve_http()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        page = urllib.request.urlopen(base + "/index").read().decode()
        fields = dict(re.findall(r'name="([^"]+)" value="([^"]*)"', page))
        play0 = service.next_play(0)
        assert fields["row_number"] == "0"
        assert fields["posteam"] == str(play0["posteam"])
        assert fields["timesecs"] == str(play0["TimeSecs"])

        body = urllib.parse.urlencode(fields).encode()
        req = urllib.request.Request(
            base + "/index",
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        page2 = urllib.request.urlopen(req).read().decode()
        assert "best_play=" in page2  # prediction banner rendered
        fields2 = dict(re.findall(r'name="([^"]+)" value="([^"]*)"', page2))
        play1 = service.next_play(1)
        assert fields2["row_number"] == "1"
        assert fields2["posteam"] == str(play1["posteam"])
        # the banner's prediction equals direct in-process scoring of
        # the same form
        import json as _json

        record = {
            "qtr": int(fields["quarter"]),
            "down": int(fields["down"]),
            "TimeSecs": int(fields["timesecs"]),
            "yrdline100": int(fields["yrdline100"]),
            "ydstogo": int(fields["ydstogo"]),
            "ydsnet": int(fields["ydsnet"]),
            "month_day": int(fields["datestamp"][5:7] + fields["datestamp"][8:10]),
            "posteam": fields["posteam"],
            "DefensiveTeam": fields["DefensiveTeam"],
            "PlayType_lag": fields["playtype_lag"],
        }
        direct = service.score(record)
        assert f"best_play={direct['best_play']}" in page2
    finally:
        srv.shutdown()


# -- compiled single-play scoring: parity with MLlib, validation, HTTP ------

_LABELS = ("FirstPlay", "Run", "Pass")


def _record_strategy():
    """Requests over perfbench/wl_api.py's field ranges, all three labels."""
    from hypothesis import strategies as st

    from nfl_predictions_spark.schemas import TEAMS

    return st.fixed_dictionaries(
        {
            "qtr": st.integers(1, 5),
            "down": st.integers(1, 4),
            "TimeSecs": st.integers(-659, 3600),
            "yrdline100": st.integers(1, 99),
            "ydstogo": st.integers(1, 42),
            "ydsnet": st.integers(-48, 99),
            "month_day": st.integers(103, 1228),
            "posteam": st.sampled_from(TEAMS),
            "DefensiveTeam": st.sampled_from(TEAMS),
            "PlayType_lag": st.sampled_from(_LABELS),
        }
    )


def test_compiled_scoring_is_bit_identical_to_spark(spark, service):
    """Differential test: for every record the compiled `score` gives
    the reply Spark gives, and raw predictions equal MLlib's bit for
    bit. Each example scores a list of records in one Spark batch, and
    its first record through `score_record` as well."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from nfl_predictions_spark.ml.score import score_record
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    assert service._compiled is not None, "certification failed on this host"
    compiled_pass, compiled_run = service._compiled

    @settings(max_examples=25, deadline=None)
    @given(st.lists(_record_strategy(), min_size=1, max_size=40))
    def check(records):
        rows = [tuple(r[f.name] for f in SCORE_REQUEST_SCHEMA.fields) for r in records]
        spark_rows = (
            service.score_batch(spark.createDataFrame(rows, SCORE_REQUEST_SCHEMA))
            .select(
                "passing_yards",
                "running_yards",
                F.struct(
                    "best_play",
                    F.round("passing_yards", 2).alias("passing_yards"),
                    F.round("running_yards", 2).alias("running_yards"),
                ).alias("reply"),
            )
            .collect()
        )
        for record, row in zip(records, spark_rows):
            assert compiled_pass.predict(record).hex() == row.passing_yards.hex(), record
            assert compiled_run.predict(record).hex() == row.running_yards.hex(), record
            assert service.score(record) == row.reply.asDict(), record
        first = records[0]
        assert service.score(first) == score_record(
            spark, service.pass_model, service.run_model, first
        )

    check()


def _invalid_record_strategy():
    """A valid record with one field made invalid: wrong type, null,
    outside int32, an unseen label, or missing."""
    from hypothesis import strategies as st

    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    ints = [f.name for f in SCORE_REQUEST_SCHEMA.fields if f.dataType.typeName() == "integer"]
    strs = [f.name for f in SCORE_REQUEST_SCHEMA.fields if f.dataType.typeName() == "string"]
    not_int = st.one_of(
        st.booleans(), st.floats(allow_nan=False), st.text(max_size=5), st.none()
    )
    out_of_range = st.one_of(st.integers(max_value=-(2**31) - 1), st.integers(min_value=2**31))
    not_str = st.one_of(st.integers(), st.booleans(), st.floats(allow_nan=False), st.none())
    unseen = st.text(max_size=8).filter(lambda s: s not in _LABELS)
    bad = st.one_of(
        st.tuples(st.sampled_from(ints), st.one_of(not_int, out_of_range)),
        st.tuples(st.sampled_from(strs), not_str),
        st.tuples(st.just("PlayType_lag"), unseen),
        st.tuples(st.sampled_from(ints + strs), st.just(KeyError)),
    )

    def corrupt(args):
        record, (field, value) = args
        record = dict(record)
        if value is KeyError:
            del record[field]
        else:
            record[field] = value
        return field, record

    return st.tuples(_record_strategy(), bad).map(corrupt)


def test_invalid_records_rejected_on_both_paths(spark, service):
    """The compiled path never scores a record the Spark path rejects:
    both raise a ValueError that names the bad field."""
    from hypothesis import given, settings

    from nfl_predictions_spark.ml.score import score_record

    @settings(max_examples=60, deadline=None)
    @given(_invalid_record_strategy())
    def check(case):
        field, record = case
        with pytest.raises(ValueError, match=field):
            service.score(record)
        with pytest.raises(ValueError, match=field):
            score_record(spark, service.pass_model, service.run_model, record)

    check()


def test_certification_rejects_a_perturbed_leaf(service):
    """Certification compares bits, so a model whose one leaf differs
    from MLlib's (by far less than the 2 dp reply shows) is rejected."""
    from nfl_predictions_spark.ml.score import ScoringModel

    gbt = service.pass_model.stages[-1]
    model = ScoringModel.from_pipeline(service.pass_model)
    assert model.certify(gbt) is not None
    tree, probe = model.trees[0], model.probes()[0]
    tree.value[tree.leaf(probe)] += 1e-9
    assert model.certify(gbt) is None


def test_uncertified_models_fall_back_to_spark(spark, service, monkeypatch, caplog):
    """When certification fails the service logs one warning and scores
    through Spark, with the same reply."""
    import logging

    from nfl_predictions_spark.api import ScoringService
    from nfl_predictions_spark.ml import score
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST, parse_trees

    def perturbed(debug_string):
        trees = parse_trees(debug_string)
        trees[0].value[:] = [v + 1e-9 for v in trees[0].value]
        return trees

    monkeypatch.setattr(score, "parse_trees", perturbed)
    with caplog.at_level(logging.WARNING, logger=score.__name__):
        fallback = ScoringService(spark, service.pass_model, service.run_model)
    assert fallback._compiled is None
    assert len([r for r in caplog.records if r.name == score.__name__]) == 1
    assert fallback.score(dict(GOLDEN_REQUEST)) == service.score(dict(GOLDEN_REQUEST))
    with pytest.raises(ValueError, match="PlayType_lag"):
        fallback.score(dict(GOLDEN_REQUEST, PlayType_lag="Bogus"))


def test_http_bad_requests_get_json_errors(service, monkeypatch):
    """Every POST gets an answer: a bad Content-Length or an unseen label
    is a 400 JSON error, any other failure a 500 JSON error, and the
    server keeps serving afterwards."""
    import http.client
    import threading

    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    srv = service.serve_http()
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def post(body: bytes, length: str | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=60)
        conn.putrequest("POST", "/api")
        conn.putheader("Content-Length", str(len(body)) if length is None else length)
        conn.endheaders(body)
        resp = conn.getresponse()
        out = resp.status, resp.getheader("Content-Type"), json.loads(resp.read())
        conn.close()
        return out

    try:
        golden = json.dumps(GOLDEN_REQUEST).encode()
        for length in ("x", "-1", "1.5"):
            status, ctype, body = post(b"", length)
            assert (status, ctype) == (400, "application/json")
            assert "Content-Length" in body["error"]
        status, _, body = post(json.dumps(dict(GOLDEN_REQUEST, PlayType_lag="Bogus")).encode())
        assert status == 400 and "PlayType_lag" in body["error"]
        status, _, body = post(json.dumps(dict(GOLDEN_REQUEST, qtr=3.0)).encode())
        assert status == 400 and "qtr" in body["error"]
        status, _, body = post(b"[1, 2]")
        assert status == 400 and "JSON object" in body["error"]

        def boom(payload):
            raise RuntimeError("scorer exploded")

        monkeypatch.setattr(service, "score_json", boom)
        status, ctype, body = post(golden)
        assert (status, ctype) == (500, "application/json") and "scorer exploded" in body["error"]
        monkeypatch.undo()
        status, _, body = post(golden)
        assert status == 200 and body == service.score(dict(GOLDEN_REQUEST))
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_stalled_client_does_not_block_the_server(service):
    """A client that stops sending its body holds the single-threaded
    server for at most HTTP_TIMEOUT_S: it gets a 408, and a second
    client's valid request is answered within the timeout plus 2 s. A
    Content-Length above HTTP_MAX_BODY gets a 413 before any body."""
    import http.client
    import socket
    import threading
    import time

    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    srv = service.serve_http()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    deadline = service.HTTP_TIMEOUT_S + 2
    try:
        stalled = socket.create_connection(("127.0.0.1", port))
        stalled.sendall(b"POST /api HTTP/1.0\r\nContent-Length: 100\r\n\r\n" + b" " * 10)
        time.sleep(0.5)  # the server is now blocked reading the body
        t0 = time.monotonic()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=deadline)
        conn.request("POST", "/api", json.dumps(GOLDEN_REQUEST))
        resp = conn.getresponse()
        assert resp.status == 200
        assert json.loads(resp.read()) == service.score(dict(GOLDEN_REQUEST))
        assert time.monotonic() - t0 < deadline
        conn.close()
        stalled.settimeout(deadline)
        assert stalled.recv(4096).startswith(b"HTTP/1.0 408")
        stalled.close()

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=deadline)
        conn.putrequest("POST", "/api")
        conn.putheader("Content-Length", str(service.HTTP_MAX_BODY + 1))
        conn.endheaders()
        resp = conn.getresponse()
        assert resp.status == 413 and "Content-Length" in json.loads(resp.read())["error"]
        conn.close()
    finally:
        srv.shutdown()
        srv.server_close()
