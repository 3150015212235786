"""Physical-plan audit across the whole query registry.

Checks every oracle-backed query's executed plan for scale red flags:

- CartesianProduct / BroadcastNestedLoopJoin where not intended
  (text fragment grep)
- row-at-a-time Python UDF (BatchEvalPython) outside the declared UDF
  parity query (text fragment grep)
- WindowExec / WindowInPandasExec / WindowGroupLimitExec with an EMPTY
  partition spec (py4j plan-tree walk): Spark moves the whole input to
  ONE task for such windows — the single-partition order-statistic
  antipattern VERDICT r05 called out. Allowed only for windows over
  provably BOUNDED frames (per-bucket count frames, k-row aggregates),
  each justified in ALLOW["EmptyPartitionWindow"].

Global ``orderBy`` is deliberately NOT flagged: Spark plans it as a
RangePartitioning exchange + per-partition sorts, which scales; the
single-task hazard is exactly the empty-partition window. Subquery
expression plans are not traversed (the bounded scalar-subquery
broadcasts are covered by the BroadcastNestedLoopJoin grep).

Usage: python tools/plan_audit.py [sf_dir]
Exit 1 if any unexpected red flag appears. This is the enforcement arm
of the README's "declarative first" rule.
"""

from __future__ import annotations

import sys
from pathlib import Path

#: Queries allowed to contain the given fragment.
ALLOW = {
    "BatchEvalPython": {
        "q29_udf_parity",  # the declared row-UDF parity query
        "q54_python_udtf",  # UDTFs evaluate in Python by definition
        # q40f was allowlisted here through r04; its top-terms UDF is now
        # a relational broadcast-join + window (VERDICT r04 #5)
    },
    "CartesianProduct": {
        "q41_ann_topk",  # 5-row broadcast side, intended
        "q167_ann_recall",  # contains q41's subtree (the exact certifier)
        "q296_hamming_ann",  # 5-row packed-query broadcast sweep, intended
    },
    "BroadcastNestedLoopJoin": {
        "q41_ann_topk",
        "q46_scalar_subquery",
        "q41d_ann_ivf",  # query x centroid table: nlist x dim broadcast, intended
        "q110_unigram_logprob",  # 1-row corpus-total broadcast, intended
        # crossJoin(broadcast(<bounded-tiny frame>)) — the scalar/global-
        # stats distribution pattern; the loop side is 1 row (aggregate
        # totals) or vocabulary/query-k sized, never data-sized:
        "q119_zorder_layout",  # 1-row global min/max bounds
        "q120_bloom_semi_join",  # 1-row packed bloom bit words
        "q41e_ann_ivf_medoid",  # query x medoid table (nlist rows)
        "q41f_ivf_fitted",  # same shape: corpus x 16-row fitted-centroid table
        "q337_ivf_absorb",  # q41f shape: (base+batch) x 16-row centroid table
        "q340_ivf_refit_migrate",  # same: queries x 16-row refit centroids
        "q341_stream_ivf_ingest",  # q337's probe lattice (shared helper)
        "q342_ivf_refit_policy",  # batch x 16-row centroid assignment sweeps
        # q337 shape: batch-assign + probe x 16-row centroid table; the
        # tombstone joins are pinned broadcast HASH anti-joins
        # (tests/test_round11.py plan pins)
        "q344_ivf_evict",
        "q345_ivf_compact",
        "q343_dedup_maintenance_policy",  # 1-row vocab-total broadcast
        "q132_bm25_retrieval",  # 1-row corpus stats (N, avgdl)
        "q136_hybrid_rrf",  # 1-row corpus stats via the BM25 subtree
        "q155_sliding_distinct",  # calendar-sized broadcast range join
        "q138_bigram_logprob",  # 1-row vocab totals
        "q139_triangle_count",  # three 1-row census aggregates
        "q146_split_drift",  # 1-row split totals
        "q148_contingency_chi2",  # 1-row n/n_lang/n_src totals
        "q149_welch_ttest",  # 2 one-row group-moment frames
        "q167_ann_recall",  # q41's 5-row query-side broadcast subtree
        "q181_quantized_ann_recall",  # same: q41 exact-truth subtree
        "q180_forget_cascade",  # 1-row purge-agg x 1-row total-agg per table
        "q195_tpch_q22",  # TPC-H Q22's 1-row global-average broadcast
        # round 4
        "q212_ivf_recall",  # q41 exact-truth + q41d centroid subtrees
        "q224_ivfpq_ann",  # query x 16-row medoid/codebook broadcasts
        "q229_filtered_ann",  # pre-filter exact side: 5-row query broadcast
        "q226_zone_map_pruning",  # 1-row max-orderkey broadcast
        "q223_temperature_balance",  # 1-row weight-total broadcast
        "q227_jackknife_se",  # 1-row totals + 1-row jackknife-mean broadcasts
        "q245_semantic_decontam",  # 20-row eval-set broadcast (the q91 shape)
        "q238_bloom_file_pruning",  # 1-row maxima + 15-row probe broadcasts
        "q234_representation_audit",  # 1-row corpus-totals broadcast
        "q246_worst_window_logprob",  # 1-row vocab-total broadcast (q110 shape)
        "q251_retrieval_eval",  # BM25 subtree's 1-row corpus-stats broadcast
        "q253_hard_negatives",  # same BM25 subtree
        "q250_auc_calibration",  # 1-row rank-sum aggregate broadcast
        "q255_quantile_normalization",  # 1-row max-rank broadcast
        "q260_dedup_savings",  # 1-row corpus-summary broadcast
        # round 5
        "q285_tpch_q11",  # Q11's 1-row total-stock-value scalar threshold
        "q292_k_anonymity",  # fixed k-threshold list (len(_KANON_KS) rows)
        "q295_matryoshka_recall",  # fixed dims list + q41's 5-row query broadcast
        "q296_hamming_ann",  # 5-row packed-query broadcast (q41's shape)
        "q300_sharded_topk_bounds",  # 1-row total-threshold broadcast
        "q301_ks_test",  # 1-row group-total broadcast (n1, n2)
        "q302_markov_stationary",  # 1-row state-count broadcast (uniform v0)
        "q304_grid_range_agg",  # fixed 3-rect list x tile-grid classification
        # round 6
        "q204_rfm_segmentation",  # 1-row quintile-cut-tuple broadcasts (x3 dims)
        "q256_session_quality",  # 1-row rank-selected median broadcast
        "q212b_ivf_recall_medoid",  # q41/q41e subtrees' 5-row query broadcasts
        "q309_simplified_silhouette",  # k-row anchor-table broadcast (q41e shape)
        "q312_kaplan_meier",  # 1-row horizon-date broadcast
        "q311_conformal_thresholds",  # 2-row (alpha, qhat) threshold broadcast
        "q313_cuped_ab_readout",  # 1-row sufficient-statistics broadcast
        "q318_poisson_bootstrap_ci",  # 1-row replicate-means-array broadcast
        "q169_equidepth_histogram",  # 1-row cut-tuple broadcast (q204 shape)
        "q319_kneser_ney_bigrams",  # 1-row bigram-type-total broadcast
        "q321_kn_doc_perplexity",  # same 1-row type-total broadcast as q319
        # round 8 continuation
        "q331_vocab_growth",  # 10-row checkpoint-grid broadcast theta join
    },
    # Empty-partition windows over provably BOUNDED frames only. The
    # frame feeding each of these windows is an aggregate whose row
    # count is independent of (or sublinear in) the data size — bucket
    # histograms, calendar grids, vocabularies, per-range offsets —
    # never the raw table. Windows whose input is already limited
    # (TakeOrderedAndProject / WindowGroupLimit) are auto-exempt.
    "EmptyPartitionWindow": {
        # --- rank-select / two-level prefix-sum machinery: the window
        # runs over the per-bucket COUNTS frame (≤ value-span/width
        # rows), never the data (timeseries._rank_select_values)
        "q198_conversion_latency",
        "q256_session_quality",
        "q204_rfm_segmentation",  # + Window.partitionBy() totals on same frame
        "q211_pareto_concentration",  # $10k revenue-bucket frame
        "q250_auc_calibration",  # ≤24-row per-score frame
        "q301_ks_test",  # value-bucket subtotal frame
        "q183_histogram_median",  # pass-2: one narrowed bucket (~n/256 rows)
        "q205_skew_diagnostics",  # distinct lineitems-per-order values (~7)
        "q237_join_skew_profile",  # distinct out_rows products frame
        "q247_curriculum_order",  # distinct doc lengths / 10x256 md5 buckets
        "q109_token_shards",  # supergroup frame (docs/500^2 rows, 3-level)
        "q37d_ml_gbt_scoring",  # req_id rank over the FIXED 26-row request batch
        "q130_sequence_packing",  # same _token_offsets supergroup frame
        "q174_sorted_neighborhood",  # per-range-partition offsets (#partitions rows)
        # --- calendar / time-grid frames (bounded by time span, not rows)
        "q129_max_concurrency",  # per-day delta frame
        "q155b_sliding_distinct_hll",  # per-day HLL sketch frame
        "q210_growth_accounting",  # per-day frame
        "q240_rolling_corr",  # per-hour frame
        # --- small fixed-cardinality stats frames
        "q200_ratio_to_report",  # region x nation aggregate (25 rows)
        "q207_benford_audit",  # 9 first-digit rows
        "q297_isotonic_calibration",  # ≤_ISO_MAX_BIN price bins
        "q169_equidepth_histogram",  # rank-select per-bucket counts frame
        # --- vocabulary-sized frames (sublinear in corpus; documented)
        "q141_zipf_fit",  # HAVING-thresholded vocab, rank-by-partials at scale
        "q266_doc_keyphrases",  # vocab totals window (avoids 1-row BNLJ)
        "q300_sharded_topk_bounds",  # shard x M kept-candidates frame
        # --- skyline: stage-2 window runs over per-bucket skyline
        # survivors (O(64 x log n) for 2-D random data), not the table
        "q161_skyline",
        # --- round-6 additions: windows over bounded aggregate frames
        "q310_brier_decomposition",  # 24-row hour-bin frame
        "q311_conformal_thresholds",  # rank-select bucket-counts frame
        "q312_kaplan_meier",  # per-duration frame (day-span bounded)
        "q316_kmv_distinct_sketch",  # per-day sketch frame (calendar bounded)
    },
}

#: Nodes that pass rows through without changing their count materially.
_PASS_THROUGH = {
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "ShuffleExchangeExec",
    "InputAdapter",
    "WholeStageCodegenExec",
    "CoalesceExec",
    "ColumnarToRowExec",
    "RowToColumnarExec",
    "AQEShuffleReadExec",
    "ShuffleQueryStageExec",
}

#: Nodes that bound their output to a constant row count.
_LIMIT_NODES = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",  # rank-filter pushdown: per-partition top-k
}


def _iter_nodes(node):
    """Walk a SparkPlan tree via py4j, descending into AQE wrappers."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _iter_nodes(node.inputPlan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _iter_nodes(children.apply(i))


def _limit_bounded(node) -> bool:
    """True if this subtree's row count is bounded by an upstream limit
    before any non-pass-through operator."""
    cls = node.getClass().getSimpleName()
    if cls in _LIMIT_NODES:
        return True
    if cls in _PASS_THROUGH and node.children().size() == 1:
        return _limit_bounded(node.children().apply(0))
    return False


def empty_partition_windows(jplan) -> int:
    """Count window nodes that would move all input to one task.

    A window whose input chain already hits a limit node (Catalyst
    rewrites ``filter(rank <= k)`` into TakeOrderedAndProject /
    WindowGroupLimit) is bounded and not counted."""
    hits = 0
    for node in _iter_nodes(jplan):
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty() and not _limit_bounded(
                node.children().apply(0)
            ):
                hits += 1
    return hits


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from nfl_predictions_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    skip = {
        # streaming entries execute queries, not single plans; ML trains
        "q31_stream_tumbling",
        "q32_stream_sliding",
        "q33_stream_session",
        "q34_stream_watermark",
        "q35_stream_dedup",
        "q36_stream_score_route",
        "q37_ml_best_play",
        "q43_multimodal_features",
    }
    failures = []
    for name, fn in entrymod.queries().items():
        if name in skip:
            continue
        try:
            df = fn(spark, sf_dir)
            jplan = df._jdf.queryExecution().executedPlan()
            plan = jplan.toString()
        except Exception as e:  # pragma: no cover
            failures.append(f"{name}: plan build failed: {e}")
            continue
        for frag, allowed in ALLOW.items():
            if frag == "EmptyPartitionWindow":
                continue
            if frag in plan and name not in allowed:
                failures.append(f"{name}: unexpected {frag}")
        n_epw = empty_partition_windows(jplan)
        if n_epw and name not in ALLOW["EmptyPartitionWindow"]:
            failures.append(
                f"{name}: {n_epw} empty-partition window(s) — single-task "
                "sort of the window input"
            )
        print(f"audited {name}")

    if failures:
        print("\nRED FLAGS:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("\nplan audit clean")


if __name__ == "__main__":
    main()
