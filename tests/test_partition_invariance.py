"""Partition-invariance: the operators whose docstrings claim
'order-exact' / 'deterministic under any partitioning' must return
IDENTICAL results when their input arrives with a different partition
count and row order. Float sums that secretly depend on reduction
order fail this test; quantized/integer formulations pass it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import registry


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _scramble(df):
    # different partition count AND different intra-partition order
    return df.repartition(7).sortWithinPartitions(
        F.md5(F.concat_ws("|", *df.columns))
    )


@pytest.mark.parametrize(
    "name",
    [
        "ewma_user_value",          # floor-quantized exponential terms
        "chi_square_lang_source",   # floor-quantized chi-square cells
        "cms_heavy_hitters",        # pure integer sketch
        "doc_split_assign",         # md5 split + integer sums
        "group_topk_sample",        # hash-ranked exact-k
        "embedding_centroids",      # fixed-point quantized float sums
        "equi_depth_histogram",     # histogram-bisection order stats (r5)
        "multimodal_audio_windows", # position-weighted integer checksums (r5)
        # mid-round-6 additions — every one claims exact-integer or
        # deterministically-ordered arithmetic:
        "kmv_set_similarity",       # md5 bottom-k sketch + integer counts
        "cusum_changepoint",        # ordered-window cumulative sums
        "bitwise_battery",          # pure integer bit ops
        "embedding_covariance_topk",# DECIMAL(38,0) quantized numerators
        "map_functions_battery",    # integer-cent map round-trip
        "struct_order_battery",     # quantized struct comparisons
        "rfm_segments",             # bucketed deterministic numbering
        "hierarchy_rollup",         # bit-arithmetic closure, integer sums
        "term_burstiness",          # exact-integer burstiness/VMR
        # round-7 additions:
        "grouped_mode",             # integer counts + struct max tie-break
        "benford_digit_audit",      # integer digit counts, scalar shares
        "revenue_autocorr",         # decimal daily sums; corr over the
                                    # window-sorted single-partition series
        "dow_seasonality",          # decimal sums on a 7-row domain
        "gini_concentration",       # decimal Σ rank·x over bucketed ranks
        "unigram_kl_divergence",    # integer counts + DECIMAL(28,12) terms
        "rank_functions_battery",   # total ordering + min/max only
        "psi_drift",                # integer band counts, ln last
        "suffix_prefix_overlap_pairs",  # md5 window equi-join
        "domain_mix_entropy",       # integer counts + DECIMAL(28,12) terms
        "ann_pq_topk",              # round-6 quantizer + literal ADC table
        "ann_ivfpq_topk",           # both quantizers round-6 deterministic
        "containment_pairs",        # md5 stratum + exact set arithmetic
        "tokenizer_fertility",      # integer sums, ratios last
        "frag_pruning_report",      # integer conditional counts
        "epoch_mixture_sample",     # md5 keep decisions + integer sums
        "embedding_norm_audit",     # round-6 norms, decimal mean
        "lsh_banding_curve",        # md5 sketch + integer decile counts
        "copurchase_bfs_hops",      # exact integer hops + integer rollup
        "mink_prob_contamination",  # count-ranked selection, decimal sums
        "theil_sen_trend",          # integer-rational slopes, k-th by sort
        "hard_negative_mining",     # round-6 cosine + struct-max argmax
        "quantile_normalize_audit", # exact integer ranks + decimal sums
        "mann_whitney_rank_test",   # doubled-integer midranks, decimal sums
        "ks_one_vs_rest",           # integer D numerator, struct-max argmax
        "twap_user_value",          # cents x micros decimal interval sums
        "poisson_bootstrap_ci",     # integer-lattice weights, sorted replicas
        "spearman_corr_grouped",    # doubled midranks, decimal moment sums
        "isotonic_calibration",     # minimax over identical bigint->double means
        "dp_noisy_counts",          # md5-lattice uniforms, scalar noise
        "roc_auc_by_source",        # rank-sum AUC, doubled midranks
        "sax_daily_motifs",         # day-domain z-score, shared breakpoints
        "discrete_hazard_curve",    # integer lifetimes and risk sets
        "fd_violation_audit",       # exact COUNT(DISTINCT) profiling
        "mutual_information_matrix",# decimal-cast ln terms, integer counts
        "kendall_tau_daily",        # integer concordance on day-pair domain
        "jl_projection_audit",      # fixed-order per-row chains, decimal sums
        "conformal_interval_calibration",  # integer-scaled residual quantile
        "feature_hash_collision_audit",    # md5 buckets, pure integer counts
        "ngram_novelty_rate",       # integer first-doc min, decimal-cast means
        "wasserstein_one_vs_rest",  # integer numerator x gap, decimal sums
        "source_ablation_audit",    # integer uniqueness counts, exact LOO
        "anova_f_oneway",           # decimal sufficient statistics
        "levene_variance_test",     # decimal-cast deviation sums
        "srm_check",                # md5 arms, integer counts
        "pinball_loss_eval",        # count-based quantiles, decimal losses
        "median_ci_binomial",       # integer order-stat positions
        "intrinsic_dim_twonn",      # struct-min neighbors, decimal ln sums
        "ann_ndcg_eval",            # literal discounts, k-row rank frame
        "mase_seasonal_naive",      # integer-cent errors on day-key joins
        "weighted_median_exact",    # integer weights, doubled threshold
        "bloom_fp_rate_audit",      # md5 positions, integer membership
        "hurst_exponent",           # day-domain blocks, decimal ln sums
        "abtest_cuped",             # decimal moments, closed-form variance
        "partial_corr_audit",       # one-pass decimal moment sums
        "ols_multifeature_grouped", # Cramer solve on decimal moments
        "logreg_newton",            # decimal-cast Newton moments, fixed steps
        "pca_power_iteration",      # d^2 covariance domain, decimal mat-vec
        "markov_stationary_mix",    # integer transitions, decimal pi steps
        "negbin_overdispersion_fit",# decimal count moments
        "pareto_topk_share",        # count-based cutoff, decimal shares
        "gpd_tail_fit",             # count-based threshold, decimal moments
        "decision_stump_split",     # prefix class counts, struct-max argmax
        "bigram_entropy_rate",      # integer gram counts, decimal ln terms
        "theil_index_decomposition",# integer cents, decimal Theil terms
        # round-8 overflow-hardened (exact_group_sums two-phase):
        "value_regression",         # integer OLS sufficient statistics
        "embedding_dim_variance",   # quantized Σq/Σq² via salted two-phase
        # round-9 additions:
        "bpe_merge_learning",       # integer pair counts, total-order argmax
        "line_quality_filter",      # integer counts, decimal-cast ln sums
        "url_domain_dedup",         # pure string/integer canonicalization
        # round-10 additions:
        "line_dedup_exact",         # md5 hash, integer (doc,idx) min-owner
        "kn_bigram_perplexity",     # integer counts, decimal-cast ln sums
        "unigram_lm_learning",      # integer counts, integer prune compares
        "exact_substr_dedup",       # md5 windows, integer owner/positions
        "nb_quality_classifier",    # integer counts, decimal-cast LLR sums
        "nb_calibration_audit",     # identical sigmoid doubles, decimal bins
        "quality_budget_mix",       # integer budget compares, decimal means
        "nb_holdout_eval",          # md5 splits, integer confusion counts
        "k_anonymity_audit",        # pure integer k/l counts and bands
        "pr_auc_by_source",         # decimal integer-product ratio terms
        # round-11 additions:
        "logreg_hash_text",         # clamp-latticed sigmoid, decimal moments
        "exact_substr_incremental", # md5 windows, integer owner merge
        "temperature_sampling_weights",  # lang-domain lattice powers
        "dedup_bcubed_eval",        # integer cells, decimal o^2 ratio sums
        "heaps_law_fit",            # source-domain lattice log points
        "data_constrained_effective_tokens",  # integer masses, lattice exp
        "shard_balance_audit",      # md5 shards, exact integer variance
        "dedup_cluster_cohesion",   # integer density cross-products
        "rare_token_audit",         # pure integer count ratios
        "t_closeness_audit",        # integer cross-products, decimal ratios
        "qlm_dirichlet_search",     # lattice ln terms, BIGINT sums
        "doremi_domain_weights",    # lattice KL terms, decimal weights
        "label_propagation_communities",  # integer plurality argmax
        "kcenter_coreset",          # quantized integer distances
        "fellegi_sunter_linkage",   # lattice weights, integer bands
        "unimax_budget_allocation", # integer caps, exact ratio level
        "packing_truncation_audit", # integer offsets and div compares
        "coverage_greedy_selection",# integer gains, total-order argmax
        "wordpiece_learning",       # integer counts, exact div scores
        "grid_density_clusters",    # integer cells, min-label components
        "tokenizer_compare_audit",  # integer merge replay and sums
        "burrows_delta_stylometry", # IEEE-exact doubles, decimal sums
        "dunning_g2_keyness",       # lattice contingency terms
        "jsd_source_divergence",    # lattice midpoint terms
        "rbo_rank_agreement",       # integer overlaps, exact weights
        "adamic_adar_linkpred",     # lattice degree weights, int sums
        "degree_distribution_audit",# integer histogram, lattice OLS
        "rrf_fusion_topk",          # integer ranks, IEEE reciprocals
        "association_rules_lift",   # exact integer ratios
        "seasonal_decomposition_audit",  # integer cents, decimal moments
        # round-12 additions:
        "crosslingual_dedup",       # decimal-exact means, ordered dots
        "crosslingual_mate_retrieval",  # lattice-cosine total-order argmax
        # round-14 additions:
        "multimodal_real_resize",   # row-local decode/resize, keyed by id
        "multimodal_real_audio",    # row-local decode + prefix-sum framing
        "ann_index_balance_audit",  # keyed counts over the stored index
        # round-14 second wave:
        "sequence_packing_audit",   # bucketed prefix sums, keyed rollup
        "ann_sq8_topk",             # order-free min/max, total-order top-k
        "mcv_stats_audit",          # decomposed top-k under a total order
        "sprt_ab_monitor",          # prefix counts on a unique time order
        "multimodal_real_frames",   # row-local split/decode, keyed by id
        "phrase_search_positional", # keyed postings join, total-order top-k
        "frag_consistent_hash_ring",  # map-side scalar routing, keyed agg
        "bitmap_index_intersection",  # pure integer bit algebra
        "neyman_allocation_audit",  # decimal moments, order-free totals
        "soft_dedup_weights",       # integer cluster sizes, decimal sums
    ],
)
def test_result_survives_repartition(spark, sf_dir, name, monkeypatch):
    """Run the query normally, then again with every parquet scan
    rewritten to a shuffled, differently-partitioned copy of itself —
    results must be identical tuples."""
    base = _canon(registry.QUERIES[name](spark, sf_dir))

    # patch the IMPLEMENTATION delegates in queries.common: the family
    # modules each import _t/_events, whose bodies resolve
    # _t_impl/_events_impl in common's globals at call time
    from database_fragmentation_and_query_processor_spark.queries import common as CQ

    real_t, real_events = CQ._t_impl, CQ._events_impl
    monkeypatch.setattr(CQ, "_t_impl", lambda s, d, table: _scramble(real_t(s, d, table)))
    monkeypatch.setattr(CQ, "_events_impl", lambda s, d: _scramble(real_events(s, d)))
    try:
        again = _canon(registry.QUERIES[name](spark, sf_dir))
    finally:
        monkeypatch.setattr(CQ, "_t_impl", real_t)
        monkeypatch.setattr(CQ, "_events_impl", real_events)
    assert base == again, f"{name} is partition-order sensitive"


def test_frag_warehouse_build_survives_repartition(spark, sf_dir, tmp_path, monkeypatch):
    """The frag_* queries read one build-once warehouse, so running one
    twice above compares an artifact hit with itself. Build the
    warehouse twice instead, each into its own store, the second from
    scrambled scans: every fragment of both schemes must hold the same
    rows, and the catalogs must agree."""
    import tempfile

    from database_fragmentation_and_query_processor_spark.catalog import FragmentCatalog
    from database_fragmentation_and_query_processor_spark.queries import common as CQ

    def build(store):
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / store))
        cat = FragmentCatalog(CQ._frag_warehouse(spark, sf_dir))
        rows = {s: _canon(CQ._frag_scheme(spark, sf_dir, s)) for s in ("range", "rr")}
        return rows, (cat.range_meta(), cat.round_robin_meta(), cat.hash_meta())

    plain = build("plain")
    real_t = CQ._t_impl
    monkeypatch.setattr(CQ, "_t_impl", lambda s, d, table: _scramble(real_t(s, d, table)))
    assert build("scrambled") == plain


def test_pagerank_invariant_to_edge_partitioning(spark):
    from database_fragmentation_and_query_processor_spark.operators.graph import (
        pagerank_integer,
    )

    pairs = [(i, (i * 7) % 23 + 100) for i in range(60)] + [(100, 101), (101, 102)]
    e1 = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    e2 = (
        spark.createDataFrame(list(reversed(pairs)), "id_a bigint, id_b bigint")
        .repartition(11)
    )
    r1 = sorted(tuple(r) for r in pagerank_integer(e1, iters=3).collect())
    r2 = sorted(tuple(r) for r in pagerank_integer(e2, iters=3).collect())
    assert r1 == r2
