"""Round-11 additions (VERDICT r10 #1/#8): vector-store tombstone
eviction (q344) — merge-on-read deletes for the IVF index — with the
verdict-flip pin vs q337, the plan pin forbidding loop-join
degradation, and the q342 policy's new eviction arm exercised on both
branches."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE

SF_GATE = "/root/testdata/sf0.01"


def _plan(spark, name, sf_dir=SF_SMOKE):
    import __spark_entry__ as em

    return (
        em.queries()[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q344_eviction_flips_verdicts(spark):
    """Deletes must leave the index IMMEDIATELY (merge-on-read, no
    rebuild): vs q337's pre-eviction top-k, (1) a tombstoned query
    stops probing, (2) no tombstoned vector ever surfaces as a
    candidate, (3) every list that contained a tombstoned cid flips
    by promotion — the surviving prefix is IDENTICAL and the next
    survivors fill the freed ranks (candidates only shrink under
    eviction, so an unaffected prefix cannot reorder), and (4) the
    fixture actually exercises the flip (≥1 tombstoned cid sat in
    the pre-eviction top-k)."""
    from nfl_predictions_spark.operators.similarity import (
        _ANN_OFF,
        _EVICT_VEC_MOD,
        q337_ivf_absorb,
        q344_ivf_evict,
    )

    pre = {}
    for r in q337_ivf_absorb(spark, SF_SMOKE).collect():
        pre.setdefault(r.qid, []).append((r.rn, r.cid))
    post = {}
    for r in q344_ivf_evict(spark, SF_SMOKE).collect():
        post.setdefault(r.qid, []).append((r.rn, r.cid))

    def tombstoned(vid: int) -> bool:
        return vid < _ANN_OFF and vid % _EVICT_VEC_MOD == 0

    # (1) tombstoned queries stop probing; survivors keep probing
    assert set(post) == {q for q in pre if not tombstoned(q)}
    # (2) no tombstoned candidate anywhere post-eviction
    assert not any(tombstoned(c) for lst in post.values() for _, c in lst)
    # (4) the fixture exercises the flip
    flipped = {
        q
        for q, lst in pre.items()
        if q in post and any(tombstoned(c) for _, c in lst)
    }
    assert flipped, "fixture has no tombstoned cid in any pre-eviction top-k"
    # (3) promotion semantics: dropping tombstoned cids from the
    # pre-eviction list must be a PREFIX of the post-eviction list
    for q, lst in post.items():
        pre_kept = [c for _, c in sorted(pre[q]) if not tombstoned(c)]
        post_lst = [c for _, c in sorted(lst)]
        assert post_lst[: len(pre_kept)] == pre_kept[: len(post_lst)], q
        if q in flipped:
            assert post_lst != [c for _, c in sorted(pre[q])], q


def test_q344_plan_shape(spark):
    """Merge-on-read must never degrade to a loop join: the tombstone
    applications are broadcast HASH anti-joins (q338's pin applied to
    the vector store), and the only nested-loop joins in the plan are
    the two allowlisted broadcast-centroid lattices (batch assignment
    + query probe, each vs the 16-row centroid table)."""
    p = _plan(spark, "q344_ivf_evict")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"BroadcastNestedLoopJoin", p)) <= 2
    anti = re.findall(r"BroadcastHashJoin .*LeftAnti", p)
    assert len(anti) >= 2, f"expected >=2 broadcast hash anti-joins:\n{p}"
    assert "SortMergeJoin LeftAnti" not in p


def test_q342_eviction_arm_branches(spark):
    """The policy's new eviction arm (VERDICT r10 #1) must exercise
    BOTH branches: the steady-state (identity) decision point sees
    ~3.4% tombstones — under the 10% merge-on-read tax, 'defer' — and
    the drifted (reversed) point sees q344's ~14.3% set — 'compact',
    billing the tombstones dropped at the next refit migration. The
    migration bill itself counts SURVIVORS only."""
    from nfl_predictions_spark.operators.similarity import (
        _TOMB_VEC_CRIT,
        q342_ivf_refit_policy,
    )

    for sf in (SF_SMOKE, SF_GATE):
        rows = {r.batch_tag: r for r in q342_ivf_refit_policy(spark, sf).collect()}
        ident, rev = rows["identity"], rows["reversed"]
        assert ident.evict_action == "defer" and ident.n_evicted == 0
        assert 0.0 < ident.tomb_frac < _TOMB_VEC_CRIT
        assert rev.evict_action == "compact" and rev.n_evicted > 0
        assert rev.tomb_frac > _TOMB_VEC_CRIT
        # the unchanged drift arm still exercises the absorb decision
        assert ident.decision == "absorb" and ident.n_moved == 0
    # The refit branch needs statistical power the 500-vector fixtures
    # lack under the deterministic quantizer fit: at the bench scale
    # the reversed batch trips the 0.05 critical value, the
    # survivors-only migration bill is positive, and the eviction arm
    # still bills its compact decision alongside.
    rows = {
        r.batch_tag: r
        for r in q342_ivf_refit_policy(spark, "/root/testdata/sf0.1").collect()
    }
    rev = rows["reversed"]
    assert rev.decision == "refit" and rev.n_moved > 0
    assert rev.evict_action == "compact" and rev.n_evicted > 0


def test_legacy_ivf_v1_root_reaped(spark, tmp_path):
    """VERDICT r10 'What's wrong' #3: a stale pre-round-10
    ``ivf_centroids`` (v1) root is garbage-collected by the next
    centroid-path call once the 30-min quiet grace elapses; a FRESH
    v1 root (mtime inside the grace window) is left alone."""
    import os
    import time

    from nfl_predictions_spark.operators.similarity import (
        _IVF_FITTED_ROOT,
        _fitted_centroids_path,
    )

    v1 = os.path.join(os.path.dirname(_IVF_FITTED_ROOT), "ivf_centroids")
    os.makedirs(os.path.join(v1, "nv500"), exist_ok=True)
    with open(os.path.join(v1, "nv500", "junk.parquet"), "w") as f:
        f.write("legacy")
    # fresh root: survives the call
    now = time.time()
    os.utime(v1, (now, now))
    _fitted_centroids_path(spark, SF_SMOKE)
    assert os.path.isdir(v1)
    # stale root: reaped on the next hand-out
    os.utime(v1, (now - 3600, now - 3600))
    _fitted_centroids_path(spark, SF_SMOKE)
    assert not os.path.exists(v1)


def test_rows_only_ledger_reconciled():
    """VERDICT r10 'What's wrong' #1: the permanent rows-only set is
    declared ONCE (tools/green_ledger.PERMANENT_ROWS_ONLY); the live
    registry, the rebuilt ledger, and the committed artifact must all
    agree with it — including q36/q37, whose historical rows-only
    driver rows must never classify them 'green'."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from green_ledger import PERMANENT_ROWS_ONLY, build

    assert len(PERMANENT_ROWS_ONLY) == 8
    out = build(repo)  # raises if the live registry drifts
    rebuilt = {n for n, v in out["entries"].items() if v == "rows_only"}
    assert rebuilt == PERMANENT_ROWS_ONLY
    assert out["counts"]["rows_only"] == 8

    with open(os.path.join(repo, "artifacts", "GREEN_LEDGER.json")) as f:
        committed = json.load(f)
    committed_ro = {
        n for n, v in committed["entries"].items() if v == "rows_only"
    }
    assert committed_ro == PERMANENT_ROWS_ONLY
    assert committed["counts"]["rows_only"] == 8


def test_q345_compaction_invariance(spark):
    """Physical compaction must not change answers (the q336 discipline
    applied to the vector store): q345 (compacted component, zero
    per-probe anti-joins) equals q344 (merge-on-read) row-for-row."""
    from nfl_predictions_spark.operators.similarity import (
        q344_ivf_evict,
        q345_ivf_compact,
    )

    mor = sorted(tuple(r) for r in q344_ivf_evict(spark, SF_SMOKE).collect())
    cmp_ = sorted(
        tuple(r) for r in q345_ivf_compact(spark, SF_SMOKE).collect()
    )
    assert mor == cmp_
    assert len(mor) > 0


def test_q345_plan_shape(spark):
    """The whole point of compaction: the probe plan carries EXACTLY ONE
    broadcast hash anti-join (the ephemeral query set) — the staged
    component is already tombstone-free, so the per-probe merge-on-read
    tax q344 pays (>=2 anti-joins) is gone."""
    p = _plan(spark, "q345_ivf_compact")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"BroadcastNestedLoopJoin", p)) <= 2
    anti = re.findall(r"BroadcastHashJoin .*LeftAnti", p)
    assert len(anti) == 1, f"expected exactly 1 anti-join:\n{p}"
    assert "SortMergeJoin LeftAnti" not in p


def test_q345_compacted_artifact_self_validates(spark):
    """The compacted component inherits the q337 staging protocol: a
    poisoned artifact (stamp disagreeing with the served generation)
    is wiped and rebuilt at read time, not served."""
    import os
    import shutil

    from nfl_predictions_spark.state import staged_path as _staged_path
    from nfl_predictions_spark.state import atomic_stage as _atomic_stage
    from nfl_predictions_spark.operators.similarity import (
        _EVICT_VEC_MOD,
        q345_ivf_compact,
    )
    from pyspark.sql import functions as F

    from tests.test_round10 import _ivf_fixture

    clean = sorted(tuple(r) for r in q345_ivf_compact(spark, SF_SMOKE).collect())
    _, _, _, gen = _ivf_fixture(spark)
    cout = os.path.join(
        _staged_path(SF_SMOKE, "ivf_assign", sources=("embeddings",)),
        f"compact_{gen}_m{_EVICT_VEC_MOD}",
    )
    assert os.path.exists(os.path.join(cout, "_SUCCESS"))
    poisoned = (
        spark.read.parquet(cout)
        .withColumn("cgen", F.lit("deadbeef0000"))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(cout)
    _atomic_stage(poisoned, cout)
    healed = sorted(tuple(r) for r in q345_ivf_compact(spark, SF_SMOKE).collect())
    assert healed == clean


def test_q346_plan_shape(spark):
    """The index-surface erasure audit is pure map-side conditional
    aggregation over staged components — NO joins of any kind in the
    plan (the tombstone predicates are key-derived, and the index
    components are read from the staged store, never recomputed)."""
    p = _plan(spark, "q346_forget_cascade_indexes")
    assert "Join" not in p, p
    assert "CartesianProduct" not in p


def test_q346_cascade_consistent_with_evictions(spark):
    """The audit's numbers must agree with the surfaces it audits:
    documents purged == q338's tombstone set, embeddings purged ==
    q344's, ivf purged == base minus the compacted component's rows
    (q345), and the shingle fan-out strictly exceeds the doc count."""
    from nfl_predictions_spark.operators.similarity import q345_ivf_compact
    import __spark_entry__ as em

    rows = {
        r.surface: r
        for r in em.queries()["q346_forget_cascade_indexes"](
            spark, SF_SMOKE
        ).collect()
    }
    docs, shingle = rows["documents"], rows["doc_shingle_index"]
    emb, ivf = rows["embeddings"], rows["ivf_assignments"]
    assert emb.purged == ivf.purged  # 1 assignment per vector
    assert shingle.purged > docs.purged  # index fan-out
    assert docs.purged > 0 and emb.purged > 0
    # the compacted store (q345) holds exactly the remaining assignments
    from nfl_predictions_spark.state import staged_path as _staged_path
    from nfl_predictions_spark.operators.similarity import (
        _EVICT_VEC_MOD,
    )
    from tests.test_round10 import _ivf_fixture
    import os

    q345_ivf_compact(spark, SF_SMOKE)  # ensure staged
    _, _, _, gen = _ivf_fixture(spark)
    cout = os.path.join(
        _staged_path(SF_SMOKE, "ivf_assign", sources=("embeddings",)),
        f"compact_{gen}_m{_EVICT_VEC_MOD}",
    )
    n_compacted = spark.read.parquet(cout).count()
    assert n_compacted == ivf.remaining
