"""Round-8 fixes: regression pins for the q61 wire-contract fix
(VERDICT r07 #1) and the four ADVICE r07 findings — treesMetadata
named-column acceptance, _atomic_stage self-heal on husk directories,
centroid rename-aside (never delete under a reader), and staged-store
GC keyed on last-access."""

from __future__ import annotations

import os
import time

from tests.conftest import SF_SMOKE


def test_q61_output_is_scalar_wire_types(spark):
    """VERDICT r07 #1: q61 was the registry's ONLY nested output; the
    driver's pandas canonicalizer cannot sort list cells. The array must
    ship as a joined string while n_types/first_type stay as-is."""
    from nfl_predictions_spark.operators.extended import q61_array_funcs

    df = q61_array_funcs(spark, SF_SMOKE)
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    assert kinds["types"] == "string"
    assert not any(k in ("array", "map", "struct") for k in kinds.values())
    row = df.limit(1).collect()[0]
    # joined string agrees with the scalar companions
    parts = row.types.split(",")
    assert len(parts) == row.n_types
    assert parts[0] == row.first_type
    assert parts == sorted(parts)


def test_q61_array_stage_nested(spark):
    """The raw array-typed pipeline (collect -> distinct -> sort) keeps
    its own coverage now that the registry entry serializes it."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.sources.tables import table

    df = (
        table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.array_sort(F.array_distinct(F.collect_list("event_type"))).alias("t"))
        .limit(20)
    )
    assert df.schema["t"].dataType.typeName() == "array"
    for r in df.collect():
        assert list(r.t) == sorted(set(r.t))


def test_tree_weights_accepts_named_columns(spark, tmp_path):
    """ADVICE r07 #1: the reference's shipped GBT checkpoints name the
    treesMetadata columns treeID/metadata/weights; the reader must accept
    that layout (and the unnamed _1/_2/_3 tuple layout) identically."""
    from nfl_predictions_spark.ml.queries import _tree_weights

    named = str(tmp_path / "named")
    spark.createDataFrame(
        [(0, "{}", 1.0), (1, "{}", 0.1)],
        "treeID int, metadata string, weights double",
    ).write.parquet(os.path.join(named, "treesMetadata"))
    got = {
        r.treeID: r.weight
        for r in _tree_weights(spark, named).collect()
    }
    assert got == {0: 1.0, 1: 0.1}

    tupled = str(tmp_path / "tupled")
    spark.createDataFrame(
        [(0, "{}", 1.0), (1, "{}", 0.1)], "_1 int, _2 string, _3 double"
    ).write.parquet(os.path.join(tupled, "treesMetadata"))
    got2 = {
        r.treeID: r.weight
        for r in _tree_weights(spark, tupled).collect()
    }
    assert got2 == got


def test_atomic_stage_heals_husk_directory(spark, tmp_path):
    """ADVICE r07 #2: an interrupted pre-atomic writer leaves the target
    existing WITHOUT _SUCCESS; every later rename then fails ENOTEMPTY
    and callers would read the partial parquet forever. _atomic_stage
    must detect the husk, remove it, and install the fresh build."""
    from nfl_predictions_spark.state import atomic_stage as _atomic_stage

    out = str(tmp_path / "staged")
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.parquet"), "w") as f:
        f.write("partial garbage")  # husk: no _SUCCESS

    frame = spark.createDataFrame([(1, 2)], "a int, b int")
    _atomic_stage(frame, out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert [(r.a, r.b) for r in spark.read.parquet(out).collect()] == [(1, 2)]


def test_atomic_stage_never_clobbers_complete_winner(spark, tmp_path):
    """The self-heal must NOT touch a complete (_SUCCESS-marked) winner:
    losing the race still means reuse, not replace."""
    from nfl_predictions_spark.state import atomic_stage as _atomic_stage

    out = str(tmp_path / "staged")
    spark.createDataFrame([(42,)], "a int").write.parquet(out)
    before = sorted(os.listdir(out))
    _atomic_stage(spark.createDataFrame([(7,)], "a int"), out)
    assert sorted(os.listdir(out)) == before
    assert spark.read.parquet(out).collect()[0].a == 42


def test_ml_staging_uses_shared_atomic_stage():
    """The ml-side staging installers must route through the ONE shared
    self-heal implementation (state.atomic_stage), not a private copy —
    concurrency logic duplicated per module drifts."""
    import inspect

    from nfl_predictions_spark.ml import queries as mlq

    assert not hasattr(mlq, "_install_staged")
    for fn in (mlq.dump_tree_nodes, mlq._dump_scoring_frames):
        assert "atomic_stage" in inspect.getsource(fn)
    assert "os.rename" not in inspect.getsource(mlq)


def test_staged_path_touches_on_handout(tmp_path):
    """ADVICE r07 #4: reads don't refresh directory mtime, so the GC
    grace window must be keyed on last HAND-OUT — _staged_path touches
    the generation it returns, so a session that keeps asking for it can
    never have it reaped mid-query."""
    from nfl_predictions_spark.state import staged_path as _staged_path

    out = _staged_path(SF_SMOKE, "touch_probe_r8")
    os.makedirs(out, exist_ok=True)
    stale = time.time() - 7200  # older than GC_GRACE_S
    os.utime(out, (stale, stale))
    again = _staged_path(SF_SMOKE, "touch_probe_r8")
    assert again == out
    assert time.time() - os.stat(out).st_mtime < 60


def test_fitted_centroids_rebuild_keeps_old_generation_readable(tmp_path, monkeypatch):
    """ADVICE r07 #3, round-10 form: a live centroid generation must
    never be deleted or moved while readers may hold it. The round-8
    swap-aside sequence satisfied durability with a one-syscall
    visibility gap; the round-10 store is strictly stronger — the
    directory is keyed by (n_vec, fixture content key), so a rebuild
    NEVER targets an existing generation's path: once complete it is
    immutable, and the install is a single atomic rename whose loser
    adopts the winner. Pin: the production source contains no rmtree
    of the live target and no aside-swap, and an existing complete
    generation is adopted rather than rebuilt."""
    import inspect

    from nfl_predictions_spark.operators import similarity

    src = inspect.getsource(similarity._fitted_centroids_path)
    assert "rmtree(out" not in src  # never delete the live target
    assert ".ivf_old_" not in src  # no swap-aside: nothing to swap
    assert 'os.path.join(out, "_SUCCESS")' in src  # adopt-if-complete
    fit = inspect.getsource(similarity._fit_centroid_dir)
    assert "rmtree(out" not in fit
    # install is rename-only (state.atomic_stage); losing the race
    # adopts the winner
    assert "atomic_stage(" in fit


def test_window_group_limit_plans_pinned(spark):
    """VERDICT r07 #8: the empty-partition-window detector ALLOWLISTS
    WindowGroupLimit-shaped chains (q319/q316/q320), so a Spark-version
    or expression-shape change that silently loses the optimization
    would ship a single-partition sort without failing anything. Pin
    that all three actually compile to WindowGroupLimit."""
    from nfl_predictions_spark.operators.llmprep import (
        q319_kneser_ney_bigrams,
        q320_reservoir_sample,
    )
    from nfl_predictions_spark.operators.sketches import q316_kmv_distinct_sketch

    for fn in (q319_kneser_ney_bigrams, q316_kmv_distinct_sketch, q320_reservoir_sample):
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        # Either bounded strategy is acceptable: WindowGroupLimit
        # (per-partition heaps before the exchange) or, for the
        # unpartitioned q319 readout since the staged-model refactor,
        # TakeOrderedAndProject pushed BELOW the window (only k rows
        # ever reach the single-partition row_number). What must never
        # appear is a full sort feeding an unbounded window.
        assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan, (
            f"{fn.__name__}: {plan[:2000]}"
        )


def test_q322_spans_are_genuine_verbatim_repeats(spark):
    """Every reported maximal shared span must be a VERBATIM token match:
    re-slice both documents at the reported offsets and compare — the
    islands merge may never fabricate a span the texts don't contain."""
    from nfl_predictions_spark.operators.dedup import (
        _SPAN_MIN,
        q322_maximal_shared_spans,
    )
    from nfl_predictions_spark.sources.tables import table

    rows = q322_maximal_shared_spans(spark, SF_SMOKE).collect()
    assert rows, "fixture contains planted repeats; output must be non-empty"
    toks = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    for r in rows:
        assert r.span_tokens >= _SPAN_MIN and r.d1 < r.d2
        s1 = toks[r.d1][r.start1 - 1 : r.start1 - 1 + r.span_tokens]
        s2 = toks[r.d2][r.start2 - 1 : r.start2 - 1 + r.span_tokens]
        assert s1 == s2 and len(s1) == r.span_tokens


def test_q322_spans_are_maximal(spark):
    """Spans must be MAXIMAL with respect to the anchors that pass the
    df cap: if the boundary token also matches, the only legitimate
    reason is that the 8-gram anchoring the extension was excluded by
    the df <= _SPAN_DF_MAX filter — anything else means the islands
    merge under-joined. (Maximality is conditional on the cap BY
    DESIGN: a >50-doc boilerplate gram inside a repeat truncates it.)"""
    from nfl_predictions_spark.operators.dedup import (
        _SPAN_DF_MAX,
        _SPAN_K,
        q322_maximal_shared_spans,
    )
    from nfl_predictions_spark.sources.tables import table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    # document frequency of every 8-gram, recomputed independently
    df = {}
    for did, ts in docs.items():
        seen = set()
        for i in range(len(ts) - _SPAN_K + 1):
            seen.add(" ".join(ts[i : i + _SPAN_K]))
        for s in seen:
            df[s] = df.get(s, 0) + 1

    def capped(ts, pos0):  # 0-based gram start, True if anchor excluded
        g = " ".join(ts[pos0 : pos0 + _SPAN_K])
        return len(ts) - pos0 < _SPAN_K or not (2 <= df.get(g, 0) <= _SPAN_DF_MAX)

    for r in q322_maximal_shared_spans(spark, SF_SMOKE).collect():
        t1, t2 = docs[r.d1], docs[r.d2]
        i, j, n = r.start1 - 1, r.start2 - 1, r.span_tokens
        if i > 0 and j > 0 and t1[i - 1] == t2[j - 1]:
            assert capped(t1, i - 1), "left-extendable with an eligible anchor"
        if i + n < len(t1) and j + n < len(t2) and t1[i + n] == t2[j + n]:
            assert capped(t1, i + n - _SPAN_K + 1), (
                "right-extendable with an eligible anchor"
            )


def test_q323_chunks_tile_documents(spark):
    """Chunk windows must exactly tile each document: first chunk starts
    at 1, consecutive starts advance by the stride, the last chunk ends
    at n_tok, and every interior chunk is full-width."""
    from nfl_predictions_spark.operators.llmprep import (
        _CHUNK_S,
        _CHUNK_W,
        q323_chunk_windows,
    )

    by_doc = {}
    for r in q323_chunk_windows(spark, SF_SMOKE).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        assert chunks[0].start == 1
        for a, b in zip(chunks, chunks[1:]):
            assert b.start - a.start == _CHUNK_S
            assert a.chunk_len == _CHUNK_W  # interior chunks full width
        last = chunks[-1]
        end = last.start + last.chunk_len - 1
        # the doc's final token is covered and nothing beyond exists
        assert last.chunk_len >= 1
        if len(chunks) > 1:
            assert end > chunks[-2].start + _CHUNK_W - 1 - (_CHUNK_W - _CHUNK_S)


def test_q324_hubness_indegree_conservation(spark):
    """Within every label block of size n >= 2, total in-degree equals
    sum over members of min(k, n-1) — each point hands out exactly k
    votes (fewer only in tiny blocks). The top-20 readout is checked
    against a full recount."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.similarity import _HUB_K, q324_knn_hubness
    from nfl_predictions_spark.sources.tables import table

    sizes = {
        r.label: r.n
        for r in table(spark, SF_SMOKE, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = q324_knn_hubness(spark, SF_SMOKE).collect()
    assert rows and all(r.indeg >= 1 for r in rows)
    assert rows == sorted(rows, key=lambda r: (-r.indeg, r.vec_id))
    # every reported hub's label block is big enough to have voted
    for r in rows:
        assert sizes[r.label] >= 2
        assert r.indeg <= sizes[r.label] - 1  # can't exceed the electorate
        assert r.indeg <= max(
            min(_HUB_K, sizes[r.label] - 1) * (sizes[r.label] - 1), 1
        )


def test_q325_removal_matches_interval_union(spark):
    """removed_tokens must equal the UNION length of the doc's removal
    intervals from the full span relation — recomputed independently in
    Python for every reported doc."""
    from nfl_predictions_spark.operators.dedup import (
        _shared_spans,
        q325_span_dedup_removal,
    )

    spans = _shared_spans(spark, SF_SMOKE).collect()
    by_doc = {}
    for s in spans:
        by_doc.setdefault(s.d2, []).append((s.start2, s.start2 + s.span_tokens - 1))
    rows = q325_span_dedup_removal(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        ivs = sorted(by_doc[r.doc_id])
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if cur_lo is None or lo > cur_hi:
                if cur_lo is not None:
                    total += cur_hi - cur_lo + 1
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        total += cur_hi - cur_lo + 1
        assert r.removed_tokens == total
        assert r.kept_tokens == r.n_tok - r.removed_tokens
        assert 0 < r.removed_tokens <= r.n_tok


def test_q326_weighted_reservoir_shape_and_determinism(spark):
    """Exact k per stratum (clamped by stratum size), ranks dense from 1,
    deterministic across runs, and plans as WindowGroupLimit (the q320
    family contract)."""
    from pyspark.sql import functions as F

    from nfl_predictions_spark.operators.llmprep import (
        _WRSV_K,
        q326_weighted_reservoir,
    )
    from nfl_predictions_spark.sources.tables import table

    sizes = {
        r.lang: r.n
        for r in table(spark, SF_SMOKE, "documents")
        .filter(F.col("n_chars") > 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    a = q326_weighted_reservoir(spark, SF_SMOKE).collect()
    b = q326_weighted_reservoir(spark, SF_SMOKE).collect()
    assert a == b
    by_lang = {}
    for r in a:
        by_lang.setdefault(r.lang, []).append(r.rk)
    for lang, rks in by_lang.items():
        assert sorted(rks) == list(range(1, min(_WRSV_K, sizes[lang]) + 1))
    plan = (
        q326_weighted_reservoir(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_q327_verdict_partition_and_exact_matches(spark):
    """Incremental dedup: every batch doc gets exactly one verdict;
    verbatim re-fetches are drop_exact against their own source doc;
    reversed-token 'new pages' keep with the sentinel match columns."""
    from nfl_predictions_spark.operators.dedup import _INC_OFF, q327_incremental_dedup
    from nfl_predictions_spark.sources.tables import table

    rows = {r.batch_id: r for r in q327_incremental_dedup(spark, SF_SMOKE).collect()}
    doc_ids = [r.doc_id for r in table(spark, SF_SMOKE, "documents").select("doc_id").collect()]
    assert set(rows) == {d + _INC_OFF for d in doc_ids}
    for bid, r in rows.items():
        src = bid - _INC_OFF
        if src % 3 == 0:
            assert r.action == "drop_exact"
            assert r.match_id == src
            assert r.jac == 1.0
        elif src % 3 == 2:
            assert r.action == "keep"
            assert r.match_id == -1
            assert r.jac == 0.0
        if r.action == "keep":
            assert (r.match_id, r.jac) == (-1, 0.0)


def test_q327_near_jaccard_independently_recomputed(spark):
    """For a sample of drop_near verdicts, recompute the 3-gram Jaccard
    between the truncated batch text and the matched base doc in plain
    Python — the reported value must agree and clear the threshold."""
    from nfl_predictions_spark.operators.dedup import (
        _INC_OFF,
        _INC_TAU,
        q327_incremental_dedup,
    )
    from nfl_predictions_spark.sources.tables import table

    out = q327_incremental_dedup(spark, SF_SMOKE)
    near = [r for r in out.collect() if r.action == "drop_near"][:5]
    assert near, "smoke fixture must produce near-dup verdicts"
    texts = {
        r.doc_id: r.text
        for r in table(spark, SF_SMOKE, "documents").collect()
    }

    def sh3(text):
        tk = text.split(" ")
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    for r in near:
        src = r.batch_id - _INC_OFF
        assert src % 3 == 1  # only truncated re-fetches can be near-dups
        batch_text = " ".join(texts[src].split(" ")[:-2])
        a, b = sh3(batch_text), sh3(texts[r.match_id])
        jac = len(a & b) / len(a | b)
        assert jac >= _INC_TAU
        assert abs(round(jac, 6) - r.jac) < 1e-9


def test_q328_blocklist_counts_recomputed(spark):
    """Blocklist tagging: rebuild the derived phrase list and one doc's
    hit counts in plain Python; flags follow the distinct-phrase rule."""
    from collections import Counter

    from nfl_predictions_spark.operators.text import (
        _BL_FLAG,
        _BL_K,
        q328_blocklist_tagging,
    )
    from nfl_predictions_spark.sources.tables import table

    out = {r.doc_id: r for r in q328_blocklist_tagging(spark, SF_SMOKE).collect()}
    texts = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").collect()
    }

    def grams(tk, n):
        return [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]

    bl = []
    for n in (2, 3):
        df = Counter()
        for tk in texts.values():
            df.update(set(grams(tk, n)))
        bl += [s for s, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:_BL_K]]
    blset = set(bl)
    assert len(bl) == 2 * _BL_K

    for doc_id, tk in texts.items():
        occ = Counter(g for n in (2, 3) for g in grams(tk, n) if g in blset)
        if not occ:
            assert doc_id not in out
            continue
        r = out[doc_id]
        assert r.n_phrases == len(occ)
        assert r.n_hits == sum(occ.values())
        assert r.flagged == (len(occ) >= _BL_FLAG)


def test_q329_dbscan_full_python_recompute(spark):
    """Cell-bounded DBSCAN: recompute the ENTIRE pipeline (grid
    quantization, medoid assignment, in-cell eps-graph, core/border/
    noise roles, min-label components) in plain Python floats and
    demand exact equality — the arithmetic is grid-exact by design, so
    there is no tolerance."""
    import numpy as np

    from nfl_predictions_spark.operators.similarity import (
        _DBS_CELL_TARGET,
        _DBS_CELLS,
        _DBS_EPS2,
        _DBS_MINPTS,
        _SDD_Q,
        q329_dbscan_cells,
    )
    from nfl_predictions_spark.sources.tables import table

    got = {r.vec_id: r for r in q329_dbscan_cells(spark, SF_SMOKE).collect()}

    rows = (
        table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    X = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64)[order] * _SDD_Q
        + 0.5
    ) / _SDD_Q
    n = len(ids)
    ncells = max(_DBS_CELLS, n // _DBS_CELL_TARGET)
    med = ids < ncells
    M = X[med]
    mcells = ids[med]
    # assignment: argmin d2, tie -> smaller medoid id (ids ascending)
    D = ((X * X).sum(1)[:, None] - 2.0 * (X @ M.T) + (M * M).sum(1)[None, :])
    cell = mcells[np.argmin(D, axis=1)]
    role = {}
    cluster = {}
    nnb = {}
    for c in np.unique(cell):
        sel = cell == c
        cid = ids[sel]
        Y = X[sel]
        d2 = ((Y * Y).sum(1)[:, None] - 2.0 * (Y @ Y.T) + (Y * Y).sum(1)[None, :])
        adj = d2 <= _DBS_EPS2
        np.fill_diagonal(adj, False)
        nn = adj.sum(1)
        is_core = nn + 1 >= _DBS_MINPTS
        parent = list(range(len(cid)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i, j in zip(*np.nonzero(adj & is_core[:, None] & is_core[None, :])):
            ri, rj = find(int(i)), find(int(j))
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
        for k in range(len(cid)):
            nnb[int(cid[k])] = int(nn[k])
            if is_core[k]:
                role[int(cid[k])] = "core"
                cluster[int(cid[k])] = int(cid[find(k)])
            else:
                cn = np.nonzero(adj[k] & is_core)[0]
                if len(cn):
                    role[int(cid[k])] = "border"
                    cluster[int(cid[k])] = min(
                        int(cid[find(int(j))]) for j in cn
                    )
                else:
                    role[int(cid[k])] = "noise"
                    cluster[int(cid[k])] = -1

    assert set(got) == set(int(i) for i in ids)
    for v in got:
        assert got[v].role == role[v], v
        assert got[v].cluster == cluster[v], v
        assert got[v].n_neighbors == nnb[v], v
    # all three roles appear at smoke scale (parameters were tuned so)
    assert {r.role for r in got.values()} == {"core", "border", "noise"}


def test_q330_acf_structure_and_numpy_recompute(spark):
    """ACF/Ljung-Box: per class the series length is the hourly bucket
    count, lb_q is strictly increasing in lag, acf stays in [-1, 1],
    and a straight numpy recompute (hourly means -> centered products)
    agrees to 1e-4 — loose only because numpy rounds half-even where
    the engines round half-up at the 6th decimal."""
    import numpy as np

    from nfl_predictions_spark.operators.stats import _ACF_LAGS, q330_acf_ljung_box
    from nfl_predictions_spark.sources.tables import table

    out = q330_acf_ljung_box(spark, SF_SMOKE).collect()
    assert len(out) % _ACF_LAGS == 0
    by_et = {}
    for r in out:
        by_et.setdefault(r.event_type, []).append(r)
    ev = (
        table(spark, SF_SMOKE, "events")
        .select("event_type", "ts", "value")
        .collect()
    )
    for et, rows in by_et.items():
        rows.sort(key=lambda r: r.lag)
        assert [r.lag for r in rows] == list(range(1, _ACF_LAGS + 1))
        qs = [r.lb_q for r in rows]
        assert all(b > a for a, b in zip(qs, qs[1:]))
        assert all(-1.0 <= r.acf <= 1.0 for r in rows)
        # numpy recompute
        buckets = {}
        for e in ev:
            if e.event_type != et:
                continue
            b = e.ts.replace(minute=0, second=0, microsecond=0)
            buckets.setdefault(b, []).append(round(e.value, 6))
        series = np.array(
            [np.mean(buckets[b]) for b in sorted(buckets)], dtype=np.float64
        )
        nlen = len(series)
        assert rows[0].n == nlen
        c = series - series.mean()
        den = (c * c).sum()
        q = 0.0
        for k in range(1, _ACF_LAGS + 1):
            rho = (c[k:] * c[:-k]).sum() / den
            assert abs(rows[k - 1].acf - rho) < 1e-4, (et, k)
            q += rho * rho / (nlen - k)
            assert abs(rows[k - 1].lb_q - nlen * (nlen + 2) * q) < 5e-3, (et, k)


def test_q331_vocab_growth_profile(spark):
    """Vocab growth: checkpoints tile the corpus (k=10 covers all
    docs), all cumulative columns are monotone, the ratio columns are
    exact integer divisions, and a log-log fit of the 3-gram curve
    lands in the open-class Heaps range 0 < beta < 1 while the unigram
    vocab saturates (closed generator vocabulary)."""
    import math

    from nfl_predictions_spark.operators.dedup import shingle_rows
    from nfl_predictions_spark.operators.text import q331_vocab_growth
    from nfl_predictions_spark.sources.tables import table

    rows = q331_vocab_growth(spark, SF_SMOKE).collect()
    assert [r.k for r in rows] == list(range(1, 11))
    docs = table(spark, SF_SMOKE, "documents")
    assert rows[-1].n_docs == docs.count()
    assert rows[-1].gram3_types == (
        shingle_rows(docs).select("s").distinct().count()
    )
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs > a.n_docs
        assert b.n_tokens > a.n_tokens
        assert b.vocab >= a.vocab
        assert b.gram3_types >= a.gram3_types
        assert b.gram3_growth >= 1.0
    for r in rows:
        assert r.type_token_ratio == round(r.gram3_types / r.n_tokens, 6)
    # Heaps fit on the 3-gram curve: V = K * N^beta, 0 < beta < 1
    xs = [math.log(r.n_tokens) for r in rows]
    ys = [math.log(r.gram3_types) for r in rows]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    beta = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert 0.0 < beta < 1.0
    # closed unigram vocabulary saturates by the first decile
    assert rows[0].vocab == rows[-1].vocab


def test_round8_continuation_plan_shapes(spark):
    """Physical-plan pins for the continuation flagships: q273's greedy
    is ONE cogrouped-pandas node (no k-deep window chain), q329 is one
    scan -> one grouped-pandas with no windows or nested-loop joins,
    q330 carries at most its two declared windows (lag battery +
    running Q) and no loop joins, q331 has NO window at all (the k-1
    shift is an equi-join) and only the three allowlisted 10-row grid
    joins. A Spark upgrade or refactor that silently loses any of
    these shapes fails here instead of shipping."""
    import re

    from tests.conftest import SF_SMOKE

    import __spark_entry__ as em

    qs = em.queries()

    def plan(name):
        return (
            qs[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("q273_mmr_rerank")
    assert p.count("FlatMapCoGroupsInPandas") == 1
    assert len(re.findall(r"\bWindow\b", p)) == 0

    p = plan("q329_dbscan_cells")
    assert p.count("FlatMapGroupsInPandas") == 1
    assert p.count("FileScan") == 1
    assert len(re.findall(r"\bWindow\b", p)) == 0
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    p = plan("q330_acf_ljung_box")
    assert len(re.findall(r"\bWindow\b", p)) <= 2
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    p = plan("q331_vocab_growth")
    assert len(re.findall(r"\bWindow\b", p)) == 0
    assert p.count("BroadcastNestedLoopJoin") <= 3


def test_q332_stream_equals_batch_q327(spark):
    """The streamed incremental near-dedup must produce EXACTLY q327's
    batch verdicts (same machinery, chunk-decomposable given the base),
    with the chunk column matching the rank-split formula, and all
    four staged chunks present in the replayed stream's output."""
    from nfl_predictions_spark.operators.dedup import (
        _INC_CHUNKS,
        q327_incremental_dedup,
    )
    from nfl_predictions_spark.operators.streaming_batch import (
        q332_stream_neardup_ingest,
    )

    got = {
        r.batch_id: r
        for r in q332_stream_neardup_ingest(spark, SF_SMOKE).collect()
    }
    want = {
        r.batch_id: r for r in q327_incremental_dedup(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for bid, w in want.items():
        g = got[bid]
        assert (g.action, g.match_id, g.jac) == (w.action, w.match_id, w.jac), bid
    # chunk attribution: rank split over batch_id order
    ordered = sorted(got)
    n = len(ordered)
    for i, bid in enumerate(ordered):
        assert got[bid].chunk == (i * _INC_CHUNKS) // n, bid
    assert {r.chunk for r in got.values()} == set(range(_INC_CHUNKS))
