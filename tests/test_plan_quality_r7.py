"""Plan-shape assertions for the seven round-7 queries: the scale
claims in their docstrings (no single-task windows over raw rows,
partial aggregation, no cartesian joins, bounded model state) must be
visible in the physical plans or the operator source."""

from __future__ import annotations

import inspect

from database_fragmentation_and_query_processor_spark.queries import (
    registry,
    selection,
    sequences,
    stats,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _plan(spark, sf_dir, name: str) -> str:
    return final_explain_formatted(registry.QUERIES[name](spark, sf_dir))


def test_grouped_mode_has_no_window(spark, sf_dir):
    """Mode is two keyed aggregations (struct max) — a per-group
    ROW_NUMBER window over the (group, value) counts would serialize a
    corpus-sized value domain through one task per group."""
    plan = _plan(spark, sf_dir, "grouped_mode")
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    # map-side combine on both aggregations
    assert plan.count("HashAggregate") >= 4


def test_benford_scan_prunes_to_one_column(spark, sf_dir):
    plan = _plan(spark, sf_dir, "benford_digit_audit")
    assert "o_totalprice" in plan
    for col in ("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"):
        assert col not in plan, f"benford reads {col} it never uses"
    assert "SinglePartition" not in plan


def test_revenue_autocorr_window_runs_on_daily_rollup(spark, sf_dir):
    """The lag window is allowed its single partition ONLY because the
    input collapsed to one row per day first: the plan must aggregate
    (daily rollup) BEFORE the window, and the returned frame itself is
    a literal scan (the 7 ACF scalars), not a full-plan replay."""
    src = inspect.getsource(stats.q_revenue_autocorr)
    assert "groupBy" in src.split("Window.orderBy")[0]
    plan = _plan(spark, sf_dir, "revenue_autocorr")
    # result is a 7-row local/literal relation
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_dow_seasonality_is_one_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "dow_seasonality")
    assert "Window" not in plan
    # shuffles only between partial and final aggregates (the detail
    # section repeats each tree node, so count detail entries only)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan


def test_gini_uses_bucketed_numbering_not_global_sort_window(spark, sf_dir):
    """Ranking must come from operators/scaling.stable_row_number (the
    bucketed two-phase numbering), never ROW_NUMBER over a
    SinglePartition window."""
    src = inspect.getsource(stats.q_gini_concentration)
    assert "stable_row_number" in src
    assert "Window.orderBy" not in src


def test_unigram_kl_domain_is_bounded(spark, sf_dir):
    """The KL grid must be the (sources x K+1 symbols) cross of two
    TINY aggregates — the only cross join allowed — and the raw token
    stream must never hit a cartesian or nested-loop join."""
    src = inspect.getsource(stats.q_unigram_kl_divergence)
    assert "limit(KL_TOPK)" in src.replace(" ", "").replace("\n", "") or (
        "limit(KL_TOPK)" in src
    )
    plan = _plan(spark, sf_dir, "unigram_kl_divergence")
    assert "CartesianProduct" not in plan


def test_rank_battery_windows_partition_by_priority(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rank_functions_battery")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_pq_and_ivfpq_scans_are_join_free(spark, sf_dir):
    """PQ-ADC scoring is m literal-array lookups; IVF-PQ adds only a
    probe FILTER on the coarse assignment — neither may introduce a
    join into the candidate scan."""
    for name in ("ann_pq_topk", "ann_ivfpq_topk"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name


def test_cooc_basket_guard_runs_before_pair_join():
    """The COOC_MAX_BASKET fail-fast must trigger during plan BUILD
    (a metadata-sized aggregate), before the quadratic pair join is
    even constructed."""
    src = inspect.getsource(sequences.q_item_cooccurrence_topk)
    assert src.index("COOC_MAX_BASKET") < src.index('join(items.alias("b")')


def test_bfs_propagates_from_frontier_not_settled():
    """Each BFS round must join edges against the PREVIOUS round's
    discoveries only — joining the whole settled set makes round cost
    grow with the visited-set size instead of the frontier fan-out."""
    from database_fragmentation_and_query_processor_spark.operators import graph

    src = inspect.getsource(graph.bfs_hops)
    assert "bidir.join(frontier" in src
    assert "left_anti" in src  # first-discovery dedup against settled
    assert "localCheckpoint" in src  # per-round lineage truncation


def test_mink_window_is_per_document_and_topk_is_bounded(spark, sf_dir):
    """The bottom-k selection window partitions by doc_id (never a
    single global partition), and the final top-N is TakeOrdered, not
    a global sort of every document."""
    plan = _plan(spark, sf_dir, "mink_prob_contamination")
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_theil_sen_pairs_live_on_the_daily_rollup():
    """The pairwise slope set must be built from the aggregated daily
    frame (days² pairs, calendar-bounded), never from raw orders — a
    raw-row self-join would be corpus-quadratic."""
    src = inspect.getsource(stats.q_theil_sen_trend)
    assert src.index("groupBy") < src.index(".join(")


def test_theil_sen_selection_is_bucketed(spark, sf_dir):
    """r14 optimization: the k-th slope is found by bucket-count
    selection (census over ≤4096 slope buckets, broadcast of the ONE
    target bucket, in-bucket row_number), never by globally sorting the
    C(n_days, 2) pair set and limiting to k ≈ n_pairs/2 — the r13
    plan's dominant stage. n_days / n_pairs are arithmetic literals
    (daily is distinct by construction ⇒ n_pairs = C(n_days, 2)), so
    no count jobs run over the pair set either."""
    src = inspect.getsource(stats.q_theil_sen_trend)
    assert "n_days * (n_days - 1) // 2" in src
    plan = _plan(spark, sf_dir, "theil_sen_trend")
    # the former shape: orderBy(...).limit(k) over all pairs → a
    # GlobalLimit/TakeOrdered of ~half the pair set
    assert "TakeOrderedAndProject" not in plan
    assert "GlobalLimit" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_hard_negative_mining_is_bucketed_struct_max(spark, sf_dir):
    """Candidates only from LSH-bucket equality (no cartesian), argmax
    via aggregation (no per-anchor window)."""
    plan = _plan(spark, sf_dir, "hard_negative_mining")
    assert "Cartesian" not in plan
    assert "Window" not in plan
    # struct-max lowers to SortAggregate (binary-unsafe agg buffer) —
    # any partial+final Aggregate pair is the shape we want
    assert "Aggregate" in plan


def test_quantile_normalize_has_no_single_partition_window(spark, sf_dir):
    """Both rank computations must be the bucketed two-phase helpers —
    a PARTITION BY event_type (or global ORDER BY) window would funnel
    a 100 TB type through one task."""
    src = inspect.getsource(stats.q_quantile_normalize_audit)
    assert "stable_prefix_sum" in src and "stable_row_number" in src
    plan = _plan(spark, sf_dir, "quantile_normalize_audit")
    assert "SinglePartition" not in plan


def test_mann_whitney_ranks_are_two_phase(spark, sf_dir):
    """Midranks must come from distinct-value counts + the bucketed
    prefix sum — a global ORDER BY window over raw events would funnel
    100 TB through one task."""
    src = inspect.getsource(stats.q_mann_whitney_rank_test)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "mann_whitney_rank_test")
    assert "SinglePartition" not in plan


def test_ks_grid_is_bounded_and_no_cartesian(spark, sf_dir):
    """The KS evaluation grid is |types| x |distinct cents| with the
    tiny type dimension broadcast; per-type cumulatives are two-phase."""
    src = inspect.getsource(stats.q_ks_one_vs_rest) + inspect.getsource(
        stats._etype_value_cums
    )
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "ks_one_vs_rest")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_twap_window_is_per_user(spark, sf_dir):
    """The lead window shuffles on user_id (bounded per-user state) —
    never an unpartitioned global sort."""
    plan = _plan(spark, sf_dir, "twap_user_value")
    assert "SinglePartition" not in plan
    assert "user_id" in plan


def test_poisson_bootstrap_is_mapside_weights(spark, sf_dir):
    """Bootstrap resampling must be a map-side weight fan-out collapsing
    straight to the (segment x B) domain — no Window, no data reshuffle
    beyond the keyed aggregations (partial+final HashAggregate pairs)."""
    plan = _plan(spark, sf_dir, "poisson_bootstrap_ci")
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 4


def test_spearman_ranks_are_two_phase(spark, sf_dir):
    """Both rank maps must come from distinct-value counts + the
    bucketed prefix sum and join back by key — never a per-group
    ROW_NUMBER over raw lineitem rows."""
    src = inspect.getsource(stats.q_spearman_corr_grouped)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "spearman_corr_grouped")
    assert "SinglePartition" not in plan


def test_isotonic_grid_is_on_rolled_up_domain(spark, sf_dir):
    """The minimax grid and its ordering window run on the distinct-x
    domain AFTER the keyed aggregate (the revenue_autocorr
    dispensation) — raw rows must collapse first, and the fit must be
    monotone nondecreasing."""
    src = inspect.getsource(stats.q_isotonic_calibration)
    assert src.index('groupBy("x")') < src.index("Window.orderBy")
    rows = sorted(
        registry.QUERIES["isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["x"],
    )
    fits = [r["iso_fit"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))


def test_dp_noisy_counts_prunes_text_column(spark, sf_dir):
    """The DP histogram reads only (lang, source) — the documents scan
    must never materialize the text column; noise is a scalar
    expression over the bounded group domain (no Window)."""
    plan = _plan(spark, sf_dir, "dp_noisy_counts")
    assert "text" not in plan
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_roc_auc_ranks_are_two_phase(spark, sf_dir):
    """AUC midranks come from per-(source, length) counts + the
    bucketed prefix sum — and the documents scan must prune text."""
    src = inspect.getsource(stats.q_roc_auc_by_source)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "roc_auc_by_source")
    assert "SinglePartition" not in plan
    assert "text" not in plan


def test_sax_collapses_to_day_domain_first(spark, sf_dir):
    """Symbolization must run on the daily rollup (groupBy before the
    scalar cross-join), and the scalar side of that join is a broadcast
    of one row — never a cartesian over raw orders."""
    src = inspect.getsource(stats.q_sax_daily_motifs)
    assert src.index('groupBy("d")') < src.index("crossJoin")
    plan = _plan(spark, sf_dir, "sax_daily_motifs")
    assert "CartesianProduct" not in plan
    # the scalar moment frame joins as a 1-row broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hazard_prefix_is_two_phase(spark, sf_dir):
    src = inspect.getsource(stats.q_discrete_hazard_curve)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "discrete_hazard_curve")
    assert "SinglePartition" not in plan
    assert "Window" not in plan or "_bk" in plan  # only the bucketed window


def test_fd_audit_uses_expand_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) per LHS must plan as Spark's two-phase
    aggregate (partial+final), never a per-LHS window; the three table
    audits union without a join."""
    plan = _plan(spark, sf_dir, "fd_violation_audit")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("HashAggregate") >= 6


def test_mutual_information_runs_on_joint_domain(spark, sf_dir):
    """MI terms are computed on the bounded joint-count table — raw
    rows are touched exactly once per pair (the joint aggregate); no
    window, no cartesian beyond 1-row scalar broadcasts."""
    plan = _plan(spark, sf_dir, "mutual_information_matrix")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_kendall_pairs_live_on_day_domain(spark, sf_dir):
    """The O(days²) self-join must be on the daily rollup (groupBy
    before the join) with the replicated side broadcast."""
    src = inspect.getsource(stats.q_kendall_tau_daily)
    assert src.index('groupBy("d")') < src.index(".join(")
    plan = _plan(spark, sf_dir, "kendall_tau_daily")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_jl_audit_is_pure_projection(spark, sf_dir):
    """The JL audit is per-row arithmetic + one keyed aggregate — no
    joins, no windows, no shuffle other than the final group-by; the
    sign matrix must be baked as literals (no engine RNG)."""
    src = inspect.getsource(stats._jl_signs)
    assert "hashlib" in src and "random" not in src
    plan = _plan(spark, sf_dir, "jl_projection_audit")
    assert "Join" not in plan
    assert "Window" not in plan


def test_conformal_quantile_is_count_based(spark, sf_dir):
    """The calibration quantile must be the count-based order statistic
    (two-phase prefix over per-(type, residual) counts) — never a
    per-type sort window over raw residual rows; per-type scalars reach
    the big side as broadcasts."""
    src = inspect.getsource(stats.q_conformal_interval_calibration)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "conformal_interval_calibration")
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_feature_hash_domains_shrink(spark, sf_dir):
    """vocab dedup → bucket loads → histogram: three keyed aggregates
    on strictly shrinking domains, no window, no join."""
    plan = _plan(spark, sf_dir, "feature_hash_collision_audit")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_novelty_joins_on_gram_key(spark, sf_dir):
    """First-appearance attribution is a min-agg + equi-join on the
    uniform md5 gram key — no window, no cartesian."""
    plan = _plan(spark, sf_dir, "ngram_novelty_rate")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_wasserstein_gaps_avoid_global_lead(spark, sf_dir):
    """Consecutive-value gaps come from two-phase numbering + an rn+1
    self-join — a global LEAD window over the value domain would be a
    single task at 100 TB."""
    src = inspect.getsource(stats.q_wasserstein_one_vs_rest)
    assert "stable_row_number" in src and "F.lead" not in src
    plan = _plan(spark, sf_dir, "wasserstein_one_vs_rest")
    assert "CartesianProduct" not in plan


def test_source_ablation_is_three_aggregates(spark, sf_dir):
    """Uniqueness attribution is one distinct-source aggregate on the
    gram key + shrinking rollups; the corpus totals reach each source
    row as a 1-row broadcast, never a re-scan per source."""
    plan = _plan(spark, sf_dir, "source_ablation_audit")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_anova_reads_rows_once(spark, sf_dir):
    """The sufficient statistics come from ONE keyed aggregate over the
    orders scan — the scan must appear once and no join/window."""
    plan = _plan(spark, sf_dir, "anova_f_oneway")
    # no join or window anywhere → the scan feeds exactly one
    # aggregation pipeline (AQE's formatted output repeats the node
    # across plan sections, so a node count would overstate reads)
    assert "Window" not in plan and "Join" not in plan
    assert "o_totalprice" in plan and "o_orderkey" not in plan


def test_levene_broadcasts_group_means(spark, sf_dir):
    """Pass 2 reaches raw rows through a broadcast of the bounded
    per-type means — never a shuffle join on the fact side."""
    plan = _plan(spark, sf_dir, "levene_variance_test")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_srm_uses_expand_distinct(spark, sf_dir):
    plan = _plan(spark, sf_dir, "srm_check")
    assert "Window" not in plan
    assert "Join" not in plan


def test_pinball_quantiles_are_count_based(spark, sf_dir):
    """Both quantile predictors come from the count-based selection
    (two-phase prefix over per-(type, value) counts) and reach raw rows
    as a broadcast — never a per-type sort window."""
    src = inspect.getsource(stats.q_pinball_loss_eval)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "pinball_loss_eval")
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_median_ci_is_count_based(spark, sf_dir):
    src = inspect.getsource(stats.q_median_ci_binomial)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "median_ci_binomial")
    assert "SinglePartition" not in plan


def test_twonn_neighbors_are_bucketed_struct_mins(spark, sf_dir):
    """Candidate pairs come only from the LSH bucket equi-join and the
    two nearest neighbors are struct-min aggregations + one keyed join
    — no sort window over the pair stream, no cartesian."""
    plan = _plan(spark, sf_dir, "intrinsic_dim_twonn")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ndcg_discounts_are_literals(spark, sf_dir):
    """No log() in either engine's NDCG plan — discounts and the IDCG
    are Python-computed literals; the rank window runs on a ≤k-row
    frame only (the rolled-up-domain dispensation)."""
    src = inspect.getsource(stats.q_ann_ndcg_eval)
    assert "F.log" not in src and "log2" not in src.replace(
        "1/log₂", ""
    ).replace("log₂", "")
    plan = _plan(spark, sf_dir, "ann_ndcg_eval")
    assert "LOG" not in plan.upper().replace("LOGICAL", "")


def test_mase_collapses_to_day_domain(spark, sf_dir):
    """Lag alignment is a self-join on the integer day key AFTER the
    daily rollup — no LAG window, no cartesian."""
    src = inspect.getsource(selection.q_mase_seasonal_naive)
    assert src.index('groupBy("d")') < src.index(".join(")
    assert "F.lag" not in src and "F.lead" not in src
    plan = _plan(spark, sf_dir, "mase_seasonal_naive")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_median_is_count_based(spark, sf_dir):
    src = inspect.getsource(selection.q_weighted_median_exact)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "weighted_median_exact")
    assert "SinglePartition" not in plan


def test_bloom_audit_probes_by_position_join(spark, sf_dir):
    """Membership is a keyed join on the bounded position domain (plus
    the exact truth semi-join) — no window, no cartesian, no per-row
    bitset scan."""
    plan = _plan(spark, sf_dir, "bloom_fp_rate_audit")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hurst_blocks_are_bounded_windows(spark, sf_dir):
    """In-block cumulative sums run per (scale, block) — blocks are at
    most 56 rows by construction, and the window partitions on the
    block id, never a global order; rows collapse to the day domain
    before any of it."""
    src = inspect.getsource(selection.q_hurst_exponent)
    assert src.index('groupBy("d")') < src.index("Window.partitionBy")
    plan = _plan(spark, sf_dir, "hurst_exponent")
    assert "CartesianProduct" not in plan


def test_cuped_variance_is_closed_form(spark, sf_dir):
    """The adjusted variance must come from the moment identities —
    no second aggregation pass over per-user rows after θ is known
    (source computes vy_adj from vy/cv/vx columns), and the pooled
    scalars reach the 2-row arm table as a broadcast."""
    src = inspect.getsource(selection.q_abtest_cuped)
    assert "vy - 2.0 * theta * cv + theta * theta * vx" in src
    plan = _plan(spark, sf_dir, "abtest_cuped")
    assert "Window" not in plan


def test_partial_corr_single_aggregate(spark, sf_dir):
    """All nine moments come from ONE aggregate — no join, no window,
    and the scan prunes to the three value columns."""
    plan = _plan(spark, sf_dir, "partial_corr_audit")
    assert "Join" not in plan and "Window" not in plan
    assert "l_orderkey" not in plan


def test_ols_is_one_aggregate(spark, sf_dir):
    """The regression is ten moment sums + per-group scalar arithmetic
    — one keyed aggregate, no join, no window, no iteration."""
    plan = _plan(spark, sf_dir, "ols_multifeature_grouped")
    assert "Join" not in plan and "Window" not in plan
    assert "l_orderkey" not in plan


def test_logreg_driver_state_is_bounded(spark, sf_dir):
    """Each Newton step collects exactly twelve scalars (one .head()
    per step on an aggregate) — no per-row collect, no join, no window
    in the returned scoring plan; driver state is corpus-size-free."""
    src = inspect.getsource(selection.q_logreg_newton)
    assert ".head()" in src and ".collect()" not in src
    plan = _plan(spark, sf_dir, "logreg_newton")
    assert "Join" not in plan and "Window" not in plan


def test_pca_iterates_on_covariance_domain(spark, sf_dir):
    """Raw vectors are touched ONCE in the returned plan (the
    covariance fan-out; the qstats sizing pre-pass runs eagerly,
    outside it); every power-iteration step joins the 4096-cell matrix
    against a 64-row vector, and the only windows are the per-step L1
    renormalizations over that CONSTANT d-row domain — never over
    corpus rows. No driver-side matrix."""
    src = inspect.getsource(selection.q_pca_power_iteration)
    assert ".head()" not in src and ".collect()" not in src
    plan = _plan(spark, sf_dir, "pca_power_iteration")
    assert "CartesianProduct" not in plan
    # exactly one embeddings scan survives in the returned plan
    assert plan.count("embeddings.parquet") <= 1
    # the corpus aggregation is the overflow-safe two-phase shape:
    # a _salt grouping key appears in the inner partial aggregate
    assert "_salt" in plan
    # windows exist only downstream of the d^2 collapse: no window
    # line in the formatted plan references a raw embedding column
    assert "embedding#" not in "".join(
        seg for seg in plan.split("\n") if "Window" in seg
    )


def test_markov_power_runs_on_type_domain(spark, sf_dir):
    """Raw events feed ONE lead window (bounded per-user state) and one
    count aggregate; all eight power steps join |types|²-sized frames —
    the stationary solve never rescans events."""
    plan = _plan(spark, sf_dir, "markov_stationary_mix")
    assert "CartesianProduct" not in plan
    # the only window is the per-user lead — partitioned, never global
    assert "SinglePartition" not in plan or "user_id" in plan


def test_negbin_is_two_keyed_aggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "negbin_overdispersion_fit")
    assert "Window" not in plan and "Join" not in plan


def test_pareto_cutoff_is_count_based(spark, sf_dir):
    src = inspect.getsource(selection.q_pareto_topk_share)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "pareto_topk_share")
    assert "Window" not in plan or "_bk" in plan


def test_gpd_threshold_is_count_based(spark, sf_dir):
    src = inspect.getsource(selection.q_gpd_tail_fit)
    assert "stable_prefix_sum" in src
    plan = _plan(spark, sf_dir, "gpd_tail_fit")
    assert "Window" not in plan and "Join" not in plan


def test_bigram_entropy_joins_on_history_key(spark, sf_dir):
    """The conditional-entropy join keys on (source, w1) after both
    sides collapsed to count tables — no window, no cartesian beyond
    the tiny per-source totals broadcast."""
    plan = _plan(spark, sf_dir, "bigram_entropy_rate")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_theil_terms_computed_once_per_customer(spark, sf_dir):
    """Theil terms are per-(customer, segment) rows aggregated straight
    to the segment domain; global scalars enter as Python literals from
    one bounded head() — no join back to raw orders."""
    plan = _plan(spark, sf_dir, "theil_index_decomposition")
    assert "Window" not in plan
    assert "Join" not in plan


def test_stump_split_search_is_count_based(spark, sf_dir):
    """Candidate evaluation runs on the distinct-value domain via the
    two-phase prefix (both counts and class counts) with a struct-max
    reduce — never a per-candidate rescan or sort window, and the scan
    must prune the text column."""
    src = inspect.getsource(selection.q_decision_stump_split)
    assert src.count("stable_prefix_sum") >= 2
    plan = _plan(spark, sf_dir, "decision_stump_split")
    assert "text" not in plan
