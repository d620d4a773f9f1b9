"""Automated physical-plan hygiene audit over the whole query registry.

For every registered query (at $SPARK_GRAFT_SF_DIR scale), flags:
- BroadcastNestedLoopJoin / CartesianProduct (range-join explosions)
- parquet scans with no pushed filters AND full-width ReadSchema when
  the query clearly projects (pruning failure)
- sort-merge joins where one side is a testdata dimension (should have
  been broadcast)
- global (un-partitioned) window operators — allowed only for the
  queries that declare a deliberate global order (top-of-report slices)
- ``cap_below_self_join`` (VERDICT r10): a pair self-join (join whose
  condition orders two attributes with ``<``, the pair-explode
  signature) whose OWN subtree carries no degree/df-cap range filter
  while an ancestor join supplies one — i.e. the cap that the query
  relies on to bound the explosion physically executes ABOVE the
  explode. Catalyst does not reorder inner joins without CBO, so this
  plan shape is a latent quadratic blow-up at scale even when the
  answer is correct.

Exit code 1 if any unexpected flag fires. Usage:
    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries with a DELIBERATE global window (documented single-partition
# top-of-report slices — SURVEY §7.4.6).
GLOBAL_WINDOW_OK = {
    "deterministic_slice",
    "viz_hover_points",
    # global ntile over the per-customer AGGREGATE (declared
    # report-scale; docstring records the approx-quantile scale path)
    "customer_rfm_segments",
    # offset window over the ~32-row partition-count relation (the
    # range-partitioned global-rank recipe; data never single-partitions)
    "global_rank_orders",
    "multimodal_shard_plan",
    "snm_part_name_pairs",
    "pps_doc_sample",
    # windows over the <=31-row lifetime axis, not the data
    "kaplan_meier_user_lifetime",
    # rank over the 25-row nation-level aggregate (the reference's
    # positional df[lo:hi] trace slices made deterministic)
    "scattergeo_trace_specs",
    # rank windows over the two ≤50-row top-k candidate relations
    # (each arm reduces via TakeOrdered BEFORE the window)
    "hybrid_rrf_topk",
    # cumulative window over the DISTINCT-SCORE aggregate (bounded by
    # |distinct n_chars|, not corpus size — evaluate-on-aggregates)
    "roc_auc_length_vs_dup",
    # rank window over the 32-ROW replica aggregate (never the data)
    "hash_bootstrap_revenue_ci",
    # rank window over the 6-ROW fitted-strength relation
    "bradley_terry_strengths",
    # row_number over the ≤K-row distinct-class relation
    "label_noise_confident_report",
    # cumulative window over the 10-ROW reliability-bin relation
    "isotonic_calibration_bins",
    # windows over the ≤31-row lifetime axis (same as kaplan_meier)
    "nelson_aalen_hazard",
    # cumulative + rank windows over the ≤31-row daily aggregate
    "changepoint_revenue_report",
    # r13 adjudications (the rule was a dead letter before r13 — it
    # grepped the formatted plan for a literal only the simple plan
    # contains; these five surfaced when it started firing):
    # rank over the m-row per-nation test relation (m = |nation| ≤ 25)
    "bh_fdr_nation_tests",
    # bucket-offset cumulated over the n_buckets(=10)-row relation;
    # within-bucket ranks are partitioned (operators/mixing.py)
    "curriculum_order_docs",
    # |d|-rank over the per-user diff relation — one row per paired
    # user, already reduced from event volume (docstring scale note)
    "wilcoxon_signed_rank_purchase_vs_view",
    # corpus-share window over the domain-count aggregate, never raw
    # rows (operators/web.py domain_profile)
    "domain_crawl_profile",
    # global_rank's offset window over the ~32-row partition-count
    # relation (the range-partitioned recipe, same as
    # global_rank_orders)
    "conformal_coverage_report",
    # rank over the ≤20-row int8 shortlist / ≤10-row rerank slice only
    "two_stage_rerank_topk",
    # rank over the ≤10-row beam slice (visited ≤ seeds+hops·beam·k)
    "knn_beam_search_recall",
}
# Queries whose nested-loop join is DELIBERATE over a provably-small
# input: the skyline global phase runs a quadratic dominance check over
# the per-partition survivors only (frontier-sized, ≤ tens of rows).
HEAVY_OK: set[str] = {"skyline_customers"}
# Queries whose BroadcastNestedLoopJoin is the 1-row scalar-subquery
# broadcast (global threshold / global total joined onto every row) —
# a nested loop over a single broadcast row is the correct physical
# plan there, not an explosion.
SCALAR_OK: set[str] = {
    "not_exists_rich_inactive",
    "nation_value_share",
    "tfidf_top_terms",          # 1-row corpus count broadcast
    "dedup_jaccard_df_capped",  # 1-row corpus count broadcast (df threshold)
    "important_parts_share",    # 1-row global total broadcast
    "funnel_view_click_purchase",  # three 1-row stage counts cross-joined
    "ann_int8_topk",            # 1-row query-vector broadcast
    "knn_beam_search_recall",   # 1-row query-vector broadcast (per-hop scoring)
    "two_stage_rerank_topk",    # 1-row int8 query + 1-row float query broadcasts
    "embedding_lsh_buckets",    # 1-row SRP component-table broadcast (r13 lsh_bucket rewrite)
    "semantic_packing_order_report",  # same 1-row component-table broadcast
    "nation_trade_hits",        # 1-row max-score normalization broadcasts per HITS round
    "fk_and_null_audit",        # two 1-row audit aggregates cross-joined
    "source_mix_report",        # 1-row corpus-totals broadcast onto per-source rows
    "ivf_recall_report",        # two 1-row recall counters cross-joined
    "int8_recall_report",       # 1-row query-code broadcast (via ann_int8_topk)
    "hot_key_share_report",     # 1-row total broadcast onto the top-20 keys
    "balanced_lang_mix",        # 1-row min-stratum count broadcast (r4 adjudicated)
    "corpus_mix_plan",          # 1-row feasible-corpus scalar broadcast
    "corpus_mix_apply",         # same scalar via mix_plan
    "corpus_build_e2e",         # same scalar via mix_apply
    "corpus_bigram_lift",       # two 1-row corpus totals (n_uni, n_bi) cross-joined
    "bm25_topk",                # 1-row corpus stats (N, total tokens) broadcast
    "tfidf_cosine_pairs",       # 1-row corpus count broadcast (df-cap threshold)
    "pps_doc_sample",           # 1-row total-weight broadcast (stride denominator)
    "benford_order_totals",     # 1-row total broadcast onto the 9-digit axis
    "trade_community_modularity",  # 1-row total-weight T broadcast onto
                                   # the per-community terms
    "ab_test_cuped",            # two 1-row arm aggregates + 1-row pooled
                                # moments cross-joined
    "feature_information_gain", # 1-row N + 1-row label-entropy broadcasts
    "distinct_rollup_hierarchy",  # grand-total level: 1-row exact x 1-row
                                  # sketch aggregates joined on a literal key
    "daily_revenue_acf",        # 14-row lag-axis broadcast (bounded explode
                                # fan-out, not a data-dependent nested loop)
    "psi_price_drift",          # two 1-row period-total broadcasts cross-joined
    "kaplan_meier_user_lifetime",  # 1-row horizon + 1-row user-count broadcasts
    "lang_source_chisq_cells",  # 1-row grand-total broadcast onto the cell grid
    "embedding_gram_power",     # 1-row Rayleigh num/den broadcast onto d rows
    "embedding_lloyd_step",     # k-row centroid table broadcast (every point
                                # scores all k centroids — the intended plan;
                                # k is small by construction)
    "hard_negative_mining",     # bounded anchor-sample broadcast: every vector
                                # scores every anchor (the mining contract)
    "markov_event_stationary",  # 1-row n-types scalar broadcast onto the
                                # k-row transition-state axis
    "upsert_delete_keys",       # two 1-row audit aggregates cross-joined
    "verbatim_window_pairs",    # 1-row corpus count broadcast (df-cap threshold)
    "kmv_theta_intersection",   # |groups|^2 theta-grid (5x5) of per-group
                                # 1-row KMV theta aggregates cross-joined
    "cv_fold_stats",            # 1-row fold-totals broadcast (leave-one-out mean)
    "strip_boilerplate_tokens", # 1-row stoplist + 1-row corpus count broadcasts
    "basket_part_lift",         # 1-row basket-total broadcast (lift denominator)
    "perplexity_buckets",       # 1-row tercile-boundaries broadcast
    "column_histogram_orders",  # 1-row min/max broadcast (bin bounds)
    "user_feature_store",       # 1-row corpus-max broadcast (recency anchor)
    "temperature_mixing_plan",  # 1-row weight-normalizer broadcast
    "nation_trade_k_core",      # 1-row median-threshold broadcast
    "source_term_kl",           # 1-row support-mass scalar broadcast
    "krippendorff_alpha_report",  # 1-row observed/expected disagreement
                                  # scalars cross-joined (r12 adjudicated)
    "merkle_partition_proof",   # 1-row root digest broadcast onto the
                                # 32-bucket relation (r12 adjudicated)
    "bh_fdr_nation_tests",      # 1-row m + 1-row step-up k* broadcasts
                                # onto the bounded test relation
    "join_size_estimate_report",  # two 1-row degree-sum aggregates
                                  # (exact, sampled-estimate) cross-joined
    "stratified_uplift_report",   # 1-row population total broadcast onto
                                  # the 4-stratum cells
    "forecast_backtest_mase",   # 1-row max-day cutoff + 1-row in-sample
                                # scale broadcasts (2-row method dim is
                                # an equi-join after the date offset)
    # r7 re-plumb: the query vector / trained codebook became 1-row
    # (or k-row) broadcast RELATIONS instead of driver-fetched
    # literals — the crossJoin(broadcast(q)) is the intended plan
    "embedding_cosine_topk",    # 1-row query-vector broadcast
    "ivf_topk",                 # 1-row query-vector broadcast (probe + re-rank)
    "semdedup_verdicts",        # k-row trained-codebook broadcast
    "pq_codes_embeddings",      # k-row trained-codebook broadcast
    "pq_adc_topk",              # k-row codebook + 1-row query broadcast
    "pq_recall_report",         # same arms as pq_adc_topk + brute twin
    "hybrid_rrf_topk",          # 1-row query-vector broadcast (cosine arm)
    "ivfpq_topk",               # k-row codebook + 1-row query broadcast
    "lsh_recall_report",        # three 1-row counters cross-joined
    "ivf_nprobe_recall_sweep",  # four IVF arms, each a 1-row
                                # query-vector broadcast (same shape as
                                # ivf_topk / ivf_recall_report)
    "lsh_band_sweep",           # three 1-row counter triples
                                # cross-joined (lsh_recall_report × 3)
    "jaccard_threshold_sweep",  # pair relation vs a 3-row broadcast
                                # threshold dim (theta-join by design)
    # r9 additions
    "retrieval_ranking_metrics",  # 4-row query-relation broadcast
                                  # (both arms score data x queries)
    "dp_nation_order_stats",      # 2-row epsilon dim broadcast over
                                  # the 25-row nation aggregate
    "ivf_incremental_assign",     # 1-row collapsed-codebook broadcast
                                  # (train + two frozen assignments)
    # r11 additions
    "fs_linkage_score_histogram",  # 1-row blocking-audit broadcast
                                   # onto the score histogram
    "fs_em_weight_estimation",     # 8-row pattern counts × 1-row EM
                                   # parameter state, 3 iterations
    "source_loo_value_report",     # 1-row corpus-totals broadcast
                                   # onto per-source rows
    "worst_group_metric_report",   # 1-row corpus-mean broadcast onto
                                   # the bounded (lang, source) groups
    # r11 second wave
    "bradley_terry_strengths",     # 1-row strength-normalizer broadcast
                                   # per MM step (6-row model relation)
    "inverse_scaling_fit_report",  # 9-point axis × ≤10-row kmin groups
                                   # (bounded theta joins) + 1-row fit
    "conformal_coverage_report",   # 1-row n_cal + 1-row quantile
                                   # broadcasts onto the test half
    "t_closeness_report",          # 1-row grand-total broadcast onto
                                   # the ≤50-row segment×bucket grid
    "label_noise_confident_report",  # 1-row class-count broadcast
    "isotonic_calibration_bins",   # bounded bin-cube theta joins
                                   # (≤10³ combos) over 10-row relations
    "jackknife_ratio_ci",          # 1-row total + 1-row mean broadcasts
                                   # onto the ≤31-row daily relation
    "nelson_aalen_hazard",         # 1-row horizon + 1-row user-count
                                   # broadcasts (kaplan_meier shape)
    "deletion_propagation_audit",  # 1-row audit aggregates unioned /
                                   # cross-joined
    "eb_shrunk_source_quality",    # three 1-row prior-moment broadcasts
    "changepoint_revenue_report",  # 1-row prefix-total broadcast onto
                                   # the ≤31-row candidate axis
    "naive_bayes_langid_report",   # bounded class-relation broadcast
                                   # (words × ≤K classes fan-out)
}


# Pair-explode condition: two attribute refs ordered with "<" inside a
# join condition, e.g. "(s1#32L < s2#34L)". "<=" is a range/theta join
# (intervals, threshold dims), not the canonical self-pair shape.
_PAIR_COND = re.compile(r"\(\w+#\d+\w* < \w+#\d+\w*\)")
# Degree/df-cap signature: a Filter bounding one attribute both ways,
# e.g. "Filter ((d#14L >= 2) AND (d#14L <= 50))".
_CAP_FILTER = re.compile(r"Filter .*\(\w+#\d+\w* >= \d+\) AND \(\w+#\d+\w* <= \d+\)")


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """Parse Spark's indented plan string into (depth, text) nodes."""
    nodes: list[tuple[int, str]] = []
    for line in plan.splitlines():
        m = re.search(r"[+:]- ", line)
        if m:
            nodes.append((m.start() // 3 + 1, line[m.end():]))
        elif line.strip() and not line.startswith((" ", ":", "+")):
            nodes.append((0, line.strip()))
    return nodes


def cap_above_pair_join(plan: str) -> bool:
    """True when a pair self-join's cap filter sits ABOVE the join.

    For every join node whose condition matches the pair-explode
    signature: if its own subtree has no cap-range filter but some
    ancestor's sibling subtree does, the cap executes after the
    explode — the r10 supplier_adamic_adar_links defect class.
    """
    nodes = _plan_nodes(plan)
    for i, (depth, text) in enumerate(nodes):
        if "Join" not in text or not _PAIR_COND.search(text):
            continue
        # subtree of node i: following nodes strictly deeper
        sub_end = i + 1
        while sub_end < len(nodes) and nodes[sub_end][0] > depth:
            sub_end += 1
        subtree = nodes[i:sub_end]
        if any(_CAP_FILTER.search(t) for _, t in subtree):
            continue  # cap is below the explode — healthy
        # does any node OUTSIDE this subtree carry the cap filter?
        outside = nodes[:i] + nodes[sub_end:]
        if any(_CAP_FILTER.search(t) for _, t in outside):
            return True
    return False


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("plan-audit")
    problems: list[str] = []
    for name, fn in E.queries().items():
        buf = io.StringIO()
        try:
            df = fn(spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            # simple indented plan (conditions inline) for the
            # tree-shape rules
            simple = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            problems.append(f"{name}: explain failed: {ex}")
            continue
        plan = buf.getvalue()
        if cap_above_pair_join(simple):
            problems.append(
                f"{name}: cap_below_self_join — pair self-join's "
                "range-cap filter executes ABOVE the pair explode"
            )
        if name not in HEAVY_OK:
            if "BroadcastNestedLoopJoin" in plan and name not in SCALAR_OK:
                problems.append(f"{name}: BroadcastNestedLoopJoin in plan")
            if "CartesianProduct" in plan:
                problems.append(f"{name}: CartesianProduct in plan")
        # r13 fix: the formatted plan spells the exchange as
        # "Exchange\n...Arguments: SinglePartition" — the one-line
        # "Exchange SinglePartition" literal only exists in the SIMPLE
        # plan string, so this rule silently never fired against
        # `plan`. Window-feeding detection runs on `simple`: a Window
        # node whose direct input chain (Sort →) is a SinglePartition
        # exchange is an unpartitioned window over its full input
        # (VERDICT r12 ask #6 — flag unless whitelisted with a
        # bounded-input justification above).
        if name not in GLOBAL_WINDOW_OK and re.search(
            r"Window .*\n(?:[\s+:|-]*(?:\*\(\d+\) )?Sort .*\n)?"
            r"[\s+:|-]*(?:\*\(\d+\) )?Exchange SinglePartition",
            simple,
        ):
            problems.append(f"{name}: global window (SinglePartition exchange)")
    if problems:
        print("PLAN AUDIT FLAGS:")
        for p in problems:
            print(" -", p)
        sys.exit(1)
    print(f"plan audit clean for {len(E.queries())} queries @ {sf_dir}")


if __name__ == "__main__":
    main()
