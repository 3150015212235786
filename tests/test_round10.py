"""Round-10 additions: the self-validating IVF staging store
(VERDICT r09 #1) — adversarial interleaving pins proving that a raced
or legacy staged-assignment artifact self-heals at read time, with no
manual wipe — plus plan-shape pins for the round-10 entries."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _ivf_fixture(spark):
    from nfl_predictions_spark.operators.similarity import (
        _fitted_centroids_path,
        _served_centroids,
    )
    from nfl_predictions_spark.sources.tables import spread, table

    cent_path = _fitted_centroids_path(spark, SF_SMOKE)
    emb = spread(table(spark, SF_SMOKE, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    return cent_path, emb, med, gen


def _staged_dir(sf_dir: str, gen: str) -> str:
    from nfl_predictions_spark.state import staged_path as _staged_path

    return os.path.join(
        _staged_path(sf_dir, "ivf_assign", sources=("embeddings",)),
        f"base_{gen}",
    )


def test_raced_staged_artifact_self_heals(spark):
    """The exact interleaving the round-9 judge hit: an assignment
    computed against generation-Y centroids persisted at generation
    X's key (two processes racing the in-place nv<count> rebuild).
    Pre-round-10 that artifact served silently wrong q337/q339
    answers until a manual /tmp wipe; now the in-band ``cgen`` stamp
    disagrees with the served generation at read time and the store
    rebuilds itself."""
    from nfl_predictions_spark.state import atomic_stage as _atomic_stage
    from nfl_predictions_spark.operators.similarity import (
        _ivf_assign,
        q337_ivf_absorb,
        q339_ivf_drift,
    )

    cent_path, emb, med, gen = _ivf_fixture(spark)
    clean337 = [tuple(r) for r in q337_ivf_absorb(spark, SF_SMOKE).collect()]
    clean339 = [tuple(r) for r in q339_ivf_drift(spark, SF_SMOKE).collect()]
    assert clean337 and clean339

    # poison: wrong-generation content (shifted centroids, stamped
    # with the generation it was REALLY computed against) installed at
    # the CURRENT generation's key — what the marker/parquet race
    # produced
    med_raced = med.select(
        "cell",
        F.transform("c", lambda x: x + F.lit(7.0)).alias("c"),
        F.lit("racedgen00").alias("gen"),
    )
    tgt = _staged_dir(SF_SMOKE, gen)
    shutil.rmtree(tgt, ignore_errors=True)
    _atomic_stage(_ivf_assign(emb, med_raced, stamp=True), tgt)
    poisoned = spark.read.parquet(tgt)
    assert [r[0] for r in poisoned.select("cgen").distinct().collect()] == [
        "racedgen00"
    ]

    # both consumers must heal in place — identical answers, no wipe
    assert [
        tuple(r) for r in q337_ivf_absorb(spark, SF_SMOKE).collect()
    ] == clean337
    assert [
        tuple(r) for r in q339_ivf_drift(spark, SF_SMOKE).collect()
    ] == clean339
    # and the healed artifact is stamped with the served generation
    healed = spark.read.parquet(tgt)
    assert [r[0] for r in healed.select("cgen").distinct().collect()] == [gen]


def test_legacy_unstamped_artifact_self_heals(spark):
    """A staged assignment written by the pre-round-10 code (no cgen
    column) is untrusted by construction: it predates the stamping
    protocol, so its generation provenance is unverifiable. It must be
    rebuilt, not served."""
    from nfl_predictions_spark.state import atomic_stage as _atomic_stage
    from nfl_predictions_spark.operators.similarity import (
        _ivf_assign,
        _staged_base_assign,
    )

    cent_path, emb, med, gen = _ivf_fixture(spark)
    want = {
        r.vec_id: r.cell
        for r in _staged_base_assign(spark, SF_SMOKE, emb, med, gen).collect()
    }

    # legacy artifact: correct content, but unstamped — and, to prove
    # the rebuild really happens, perturb one row's cell
    legacy = _ivf_assign(emb, med.drop("gen")).withColumn(
        "cell",
        F.when(F.col("vec_id") == 0, F.lit(99)).otherwise(F.col("cell")),
    )
    tgt = _staged_dir(SF_SMOKE, gen)
    shutil.rmtree(tgt, ignore_errors=True)
    _atomic_stage(legacy, tgt)

    got = {
        r.vec_id: r.cell
        for r in _staged_base_assign(spark, SF_SMOKE, emb, med, gen).collect()
    }
    assert got == want
    assert got[0] != 99


def test_marker_cannot_mislead_assignment_keying(spark, tmp_path):
    """Interleaved two-session shape: the sidecar _FINGERPRINT marker
    says generation A while the parquet bytes are generation B (a
    reader catching the old swap mid-flight). The staging store must
    key and stamp on the BYTES (in-band gen), never the marker — the
    pre-round-10 code read the marker first and trusted it."""
    from nfl_predictions_spark.operators.similarity import (
        _served_centroids,
    )

    cent_path, emb, med, gen = _ivf_fixture(spark)
    skewed = tmp_path / "cent_skewed"
    shutil.copytree(cent_path, skewed)
    (skewed / "_FINGERPRINT").write_text("markerliesX")

    cent2, gen2 = _served_centroids(spark, str(skewed))
    assert gen2 == gen  # the in-band stamp, not "markerliesX"
    inband = [r[0] for r in cent2.select("gen").distinct().collect()]
    assert inband == [gen]


def test_centroid_parquet_carries_generation_in_band(spark):
    """The fitted-centroid parquet must carry its generation as a
    column so vectors + generation arrive atomically in one read, and
    the generation must be a hash of the centroid VALUES — content
    identity, not fixture identity, because two processes can fit
    DIFFERENT centroids for the same fixture (k-means|| init is
    partitioning-dependent) and must never alias (VERDICT r09 #1)."""
    import hashlib

    cent_path, _, med, gen = _ivf_fixture(spark)
    cols = set(spark.read.parquet(cent_path).columns)
    assert {"cell", "c", "n_vec", "src_key", "gen"} <= cols
    rows = sorted(
        spark.read.parquet(cent_path).collect(), key=lambda r: r.cell
    )
    want = hashlib.md5(
        ";".join(
            f"{r.cell}:" + ",".join(repr(float(x)) for x in r.c) for r in rows
        ).encode()
        + f"|{rows[0].n_vec}|{rows[0].src_key}".encode()
    ).hexdigest()[:12]
    assert gen == want
    # the directory itself is content-keyed, hence immutable: its name
    # embeds (n_vec, src_key) so no other fixture can rebuild it
    assert os.path.basename(cent_path) == (
        f"nv{rows[0].n_vec}_k{rows[0].src_key}"
    )


def test_adamic_adar_cap_binds_on_skewed_hub(spark):
    """VERDICT r09 #3: prove the degree cap actually binds. A hub with
    ~25x the median degree (and > _AA_DEG_CAP) must contribute ZERO
    wedges: pairs whose only common neighbor is the hub are absent
    from the candidates, and hub-adjacent scores carry no hub term.
    The pure-Python oracle below computes capped Adamic-Adar directly."""
    import math

    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.graph import (
        _AA_DEG_CAP,
        _adamic_adar_candidates,
    )

    hub = 0
    spokes = list(range(1, _AA_DEG_CAP + 38))  # hub degree 101 > cap
    cliques = [[200 + 10 * c + j for j in range(4)] for c in range(6)]
    und = {(hub, s) for s in spokes}
    for cl in cliques:
        und |= {(a, b) for a in cl for b in cl if a < b}
    # bridge nodes tie spokes to cliques so spoke pairs have capped
    # common neighbors too
    und |= {(1, 200), (2, 200), (1, 210), (3, 210)}
    edges = sorted(und)
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "a long, b long",
    )
    got = {
        (r.u, r.v): (r.n_common, round(r.aa, 6))
        for r in _adamic_adar_candidates(e).collect()
    }

    # pure-Python capped reference
    nbrs: dict = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    deg = {z: len(ns) for z, ns in nbrs.items()}
    assert deg[hub] > _AA_DEG_CAP
    med = sorted(deg.values())[len(deg) // 2]
    assert deg[hub] >= 10 * med, "fixture not skewed enough"
    want: dict = {}
    for z, ns in nbrs.items():
        if not (2 <= deg[z] <= _AA_DEG_CAP):
            continue
        w = round(1.0 / math.log(deg[z]), 6)
        for u in ns:
            for v in ns:
                if u < v and v not in nbrs[u]:
                    n, s = want.get((u, v), (0, 0.0))
                    want[(u, v)] = (n + 1, round(s + w, 6))
    assert got == want
    # the cap BOUND something real: uncapped scoring would have
    # produced spoke-pair candidates through the hub
    assert (spokes[10], spokes[11]) not in got


def test_q315_plan_exchange_free_until_pair_agg(spark):
    """Plan pin (VERDICT r09 #3): degree, cap filter, and neighbor
    collection ride the dst-bucketed edge store with NO exchange —
    the only hash exchanges in the executed plan are the wedge-pair
    aggregation's, and nothing degrades to a nested-loop join."""
    import re

    from nfl_predictions_spark.operators.graph import q315_adamic_adar

    df = q315_adamic_adar(spark, SF_SMOKE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2
    assert "Bucketed: true" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q340_probe_during_migration_determinism(spark):
    """VERDICT r09 #4 done-condition: migration must not disturb the
    serving generation. q337 (old index) answers identically before
    and after q340 re-fits + migrates, and q340 itself is idempotent —
    the refit dir and the migrated assignment generation are immutable
    content-keyed artifacts, so a second call serves the same bytes."""
    from nfl_predictions_spark.operators.similarity import (
        q337_ivf_absorb,
        q340_ivf_refit_migrate,
    )

    before = [tuple(r) for r in q337_ivf_absorb(spark, SF_SMOKE).collect()]
    mig1 = [tuple(r) for r in q340_ivf_refit_migrate(spark, SF_SMOKE).collect()]
    after = [tuple(r) for r in q337_ivf_absorb(spark, SF_SMOKE).collect()]
    mig2 = [tuple(r) for r in q340_ivf_refit_migrate(spark, SF_SMOKE).collect()]
    assert before == after, "migration disturbed the serving generation"
    assert mig1 == mig2, "migration is not idempotent"
    assert mig1 and before
    # the migrated index is a genuinely different generation: the
    # refit on base+absorbed must change at least one query's top-k
    assert mig1 != before


def test_q340_plan_shape(spark):
    """Plan pin for q340 (VERDICT r09 #8 discipline): steady-state run
    carries only the probe-rank and result-rank windows, and the only
    nested-loop joins are the 16-row broadcast centroid sweeps."""
    import re

    from nfl_predictions_spark.operators.similarity import (
        q340_ivf_refit_migrate,
    )

    df = q340_ivf_refit_migrate(spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow\b", p)) <= 2
    assert p.count("BroadcastNestedLoopJoin") <= 1  # query x 16-row refit
    assert "CartesianProduct" not in p


def test_q341_stream_equals_batch(spark):
    """The streamed vector ingest must equal q337's batch absorb
    row-for-row — same frozen quantizer, same staged base component,
    same probe lattice (they literally share _ivf_probe_topk)."""
    from nfl_predictions_spark.operators.similarity import q337_ivf_absorb
    from nfl_predictions_spark.operators.streaming_batch import (
        q341_stream_ivf_ingest,
    )

    batch = [tuple(r) for r in q337_ivf_absorb(spark, SF_SMOKE).collect()]
    stream = [
        tuple(r) for r in q341_stream_ivf_ingest(spark, SF_SMOKE).collect()
    ]
    assert batch == stream
    assert batch


def test_q341_epoch_sink_retry_idempotent(spark):
    """A retried micro-batch must rewrite its epoch partition, not
    double-ingest: replaying the same chunk through the handler twice
    leaves exactly one delta per vector (the q332/q335 contract)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.similarity import (
        _fitted_centroids_path,
        _ivf_assign,
        _served_centroids,
    )
    from nfl_predictions_spark.sources.tables import spread, table

    cent_path = _fitted_centroids_path(spark, SF_SMOKE)
    cent, gen = _served_centroids(spark, cent_path)
    med = cent.select(
        "cell", F.col("c").cast("array<double>").alias("c"), "gen"
    )
    chunk = (
        spread(table(spark, SF_SMOKE, "embeddings"))
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.reverse(F.col("embedding").cast("array<double>")).alias("emb"),
        )
        .limit(50)
    )
    out_dir = tempfile.mkdtemp(prefix="nflspark_vecingest_test_")
    assigned: dict = {}

    def handle(df, bid):
        if bid not in assigned:
            assigned[bid] = _ivf_assign(df, med)
        assigned[bid].write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={bid}")
        )

    handle(chunk, 0)
    handle(chunk, 0)  # the retry
    got = spark.read.parquet(out_dir)
    assert got.count() == 50
    assert got.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_q342_policy_branches(spark):
    """The drift arm's decision must be internally consistent with the
    chi-square statistic at every scale, and the identity batch is
    environment-independent: chi2 identically 0, absorb, zero migration
    bill. Under the DETERMINISTIC quantizer fit (optimization round 11:
    the fit is now a pure function of the fixture bytes, not of which
    caller fit first) both 500-vector fixtures — smoke AND gate — put
    the reversed batch just under the 0.05 critical value (low power),
    the statistically honest outcome; the refit branch fires at the
    bench scale and is exercised in
    tests/test_round11.py::test_q342_eviction_arm_branches."""
    from nfl_predictions_spark.operators.similarity import (
        _DRIFT_CRIT,
        q342_ivf_refit_policy,
    )

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        rows = {
            r.batch_tag: (r.chi2_total, r.decision, r.n_moved)
            for r in q342_ivf_refit_policy(spark, sf).collect()
        }
        assert rows["identity"] == (0.0, "absorb", 0)
        chi2, decision, moved = rows["reversed"]
        assert chi2 > 0.0
        assert decision == ("refit" if chi2 > _DRIFT_CRIT else "absorb")
        assert (moved > 0) == (decision == "refit")


def test_q343_policy_branches(spark):
    """The text-index maintenance policy must exercise a firing branch
    AND the noop branch: tombstones (~14%) exceed the 10% compaction
    trigger, survivor vocab growth exceeds the 2% recompaction trigger,
    and df staleness sits under the 30% re-rank trigger."""
    from nfl_predictions_spark.operators.dedup import (
        q343_dedup_maintenance_policy,
    )

    got = {
        r.metric: (r.value, r.decision)
        for r in q343_dedup_maintenance_policy(spark, SF_SMOKE).collect()
    }
    assert got["tombstone_fraction"][1] == "compact"
    assert got["vocab_growth"][1] == "recompact"
    assert got["df_staleness"][1] == "noop"
    assert 0.0 < got["df_staleness"][0] < 0.30
