"""Round-7 fixes (ADVICE r06): regression pins for the five advisory
findings — q78 character-vs-byte head semantics, session-pool retry on
CREATION failure, q316 calendar-range merge, uniform /index escaping,
and deferred staged-store GC."""

from __future__ import annotations

import os
import time

from tests.conftest import SF_SMOKE


def test_q78_head_is_characters_not_bytes(spark):
    """ADVICE r06 #1: the blob 'head' must be the first 4 CHARACTERS of
    the decoded text (matching the oracle's left(text, 4)), never the
    first 4 bytes — a multi-byte UTF-8 codepoint in the head would
    otherwise be split. Exercised on a synthetic blob whose first 4
    chars cost 8 bytes."""
    from pyspark.sql import functions as F

    text = "éééésuffix"  # 4 chars = 8 UTF-8 bytes
    df = spark.createDataFrame(
        [(text.encode("utf-8"),)], "content binary"
    ).select(
        F.substring(F.decode(F.col("content"), "UTF-8"), 1, 4).alias("head")
    )
    assert df.collect()[0].head == text[:4]
    # and the production query still round-trips the real fixture
    from nfl_predictions_spark.operators.modern import q78_binary_ingest

    rows = q78_binary_ingest(spark, SF_SMOKE).limit(5).collect()
    assert rows and all(len(r.head) <= 4 for r in rows)


def test_session_pool_retries_creation_failures():
    """ADVICE r06 #2: a factory() that fails transiently during session
    CREATION must consume bounded retries with backoff (not propagate
    immediately), and succeed once the transport recovers."""
    from nfl_predictions_spark.connect import ConnectSessionPool

    calls = {"n": 0}

    class _Handle:
        def execute(self, sql):
            return [("ok",)]

        def close(self):
            pass

    def flaky_factory():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ConnectionError("transport down during create")
        return _Handle()

    pool = ConnectSessionPool(flaky_factory, base_backoff_s=0.0)
    assert pool.execute("s1", "SELECT 1") == [("ok",)]
    assert calls["n"] == 3
    assert pool.stats["retries"] == 2

    def dead_factory():
        raise ConnectionError("always down")

    pool2 = ConnectSessionPool(dead_factory, max_retries=2, base_backoff_s=0.0)
    try:
        pool2.execute("s1", "SELECT 1")
        raise AssertionError("expected bounded-retry failure")
    except RuntimeError as e:
        assert "3 attempts" in str(e)


def test_kmv_merge_uses_calendar_range(spark):
    """ADVICE r06 #3: the 7-day trailing KMV merge is a RANGE frame on
    the epoch-day ordinal — across a calendar gap it merges the 7-DAY
    period, not the last 7 ACTIVE days. Day 100 must NOT see day 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sk = spark.createDataFrame(
        [("2024-01-01", [1]), ("2024-04-10", [2]), ("2024-04-11", [3])],
        "day_s string, arr array<int>",
    ).select(F.col("day_s").cast("date").alias("day"), "arr")
    wday = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    got = {
        str(r.day): sorted(r.m)
        for r in sk.withColumn(
            "m", F.flatten(F.collect_list("arr").over(wday))
        ).collect()
    }
    assert got["2024-01-01"] == [1]
    assert got["2024-04-10"] == [2]  # gap: does NOT reach back to day 1
    assert got["2024-04-11"] == [2, 3]


def test_render_index_escapes_every_field(tmp_path):
    """ADVICE r06 #4: every substituted /index value is html-escaped,
    including historically numeric columns — XSS safety must not depend
    on the plays table's dtypes."""
    from nfl_predictions_spark.api import ScoringService

    svc = ScoringService.__new__(ScoringService)

    payload = '"><script>alert(1)</script>'
    svc.next_play = lambda cursor: {
        "Date": "2015-09-10",
        "posteam": payload,
        "DefensiveTeam": "NE",
        "qtr": payload,  # numeric column gone stringly — still safe
        "down": 1,
        "TimeSecs": 3600,
        "yrdline100": 80,
        "ydstogo": 10,
        "ydsnet": 0,
        "PlayType_lag": "Pass",
    }
    page = svc.render_index(0)
    assert "<script>" not in page
    assert "&lt;script&gt;" in page


def test_staged_gc_keeps_fresh_generations(tmp_path, monkeypatch):
    """ADVICE r06 #5: a superseded staged generation younger than the
    grace window survives GC (a concurrent reader may still be scanning
    it); one older than the window is reaped."""
    import tempfile

    from nfl_predictions_spark import state

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = tmp_path / "nfl_predictions_spark"
    root.mkdir()
    fresh = root / "blobs_sfX_aaaaaaaaaa"
    stale = root / "blobs_sfX_bbbbbbbbbb"
    other = root / "otherkind_sfX_cccccccccc"
    for d in (fresh, stale, other):
        d.mkdir()
    old = time.time() - 3600
    os.utime(stale, (old, old))
    os.utime(other, (old, old))

    out = state.staged_path(str(tmp_path / "sfX"), "blobs")
    assert fresh.exists(), "fresh superseded generation must survive GC"
    assert not stale.exists(), "quiet superseded generation must be reaped"
    assert other.exists(), "other kinds are never this call's business"
    assert out != str(fresh) and out != str(stale)


def test_reservoir_sample_exact_k_and_uniformity(spark):
    """q320: exactly k rows per stratum (when the stratum has >= k
    docs), deterministic across runs, and sample membership is
    invariant to input partitioning (the reservoir contract)."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.llmprep import (
        _RSV_K,
        q320_reservoir_sample,
    )
    from nfl_predictions_spark.sources.tables import table

    out = q320_reservoir_sample(spark, SF_SMOKE)
    per = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    pop = {
        r.lang: r.cnt
        for r in table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for lang, n in pop.items():
        assert per.get(lang, 0) == min(n, _RSV_K)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, q320_reservoir_sample(spark, SF_SMOKE).collect()))
    assert a == b


def test_kn_doc_perplexity_bounds(spark):
    """q321: cross-entropy is positive (every P_KN < 1 on this corpus),
    ppl == exp(xent) to rounding, and the emitted list is the WORST
    docs — monotone non-increasing xent down the ranking."""
    import math

    from nfl_predictions_spark.operators.llmprep import q321_kn_doc_perplexity

    rows = q321_kn_doc_perplexity(spark, SF_SMOKE).collect()
    assert rows
    xs = [r.xent for r in rows]
    assert xs == sorted(xs, reverse=True)
    for r in rows:
        assert r.xent > 0 and r.n_bigrams >= 1
        assert abs(r.ppl - math.exp(r.xent)) < max(1e-4, r.ppl * 1e-5)


def test_neardup_pairs_staged_equals_q39b(spark):
    """The fingerprint-staged near-dup pair relation must be exactly
    q39b's pair set (same rows, same order-insensitive content) — the
    staging is a materialization, never a semantic change."""
    from nfl_predictions_spark.operators.dedup import q39b_ngram_jaccard_pairs
    from nfl_predictions_spark.operators.graph import neardup_pairs

    staged = sorted(
        map(tuple, neardup_pairs(spark, SF_SMOKE).select("d1", "d2").collect())
    )
    live = sorted(
        map(
            tuple,
            q39b_ngram_jaccard_pairs(spark, SF_SMOKE)
            .select("d1", "d2")
            .collect(),
        )
    )
    assert staged == live and staged


def test_kn_model_mass_bounded_per_context(spark):
    """Interpolated-KN invariant: for every left context w1, the P_KN
    mass over its OBSERVED successors is in (0, 1] — algebraically
    (c1 - D*n1p_l*(1 - sum_obs Pcont)) / c1, so a discount/continuation
    bug (wrong n1p, missing max(.,0), un-discounted mass) breaks the
    bound immediately."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.llmprep import _KN_D
    from nfl_predictions_spark.sources.tables import table

    d = (
        table(spark, SF_SMOKE, "documents")
        .select(F.split("text", " ").alias("tk"))
        .withColumn("m", F.size("tk") - 1)
        .filter(F.col("m") >= 1)
    )
    split = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.col("m")).alias("w1"),
                F.slice("tk", 2, F.col("m")).alias("w2"),
            )
        ).alias("g")
    ).select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    c12 = split.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_l")
    )
    contr = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_r"))
    tot = c12.agg(F.count(F.lit(1)).alias("n1p_all"))
    pkn = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0.0))
        + _KN_D
        * F.col("n1p_l")
        * (F.col("n1p_r").cast("double") / F.col("n1p_all"))
    ) / F.col("c1")
    mass = (
        c12.join(c1, "w1")
        .join(contr, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("w1")
        .agg(F.sum(pkn).alias("mass"))
        .agg(
            F.min("mass").alias("lo"),
            F.max("mass").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert mass.n > 0
    assert mass.lo > 0.0
    assert mass.hi <= 1.0 + 1e-9, mass.hi


def test_ivf_fitted_recall_vs_exact(spark):
    """q41f (IVF over the fitted KMeans centroids) must keep useful
    recall against the exact top-k baseline (q41) — the index trades
    recall for probe-bounded work, but a broken assignment or probe
    would send recall toward 0."""
    from nfl_predictions_spark.operators.similarity import (
        q41_ann_topk,
        q41f_ivf_fitted,
    )

    exact = {(r.qid, r.cid) for r in q41_ann_topk(spark, SF_SMOKE).collect()}
    ivf = {(r.qid, r.cid) for r in q41f_ivf_fitted(spark, SF_SMOKE).collect()}
    assert ivf, "IVF returned nothing"
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, recall
