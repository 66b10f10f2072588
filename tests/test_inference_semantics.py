"""Semantic invariants of the round-7 statistical-inference family —
properties the DuckDB oracle equality cannot see (it would agree with a
consistently-wrong formula): statistics stay inside their mathematical
ranges, fits are monotone, coverage honors the conformal guarantee,
and closed-form identities between the operators hold on real data.
"""

from __future__ import annotations

import math

import pytest

from database_fragmentation_and_query_processor_spark import cache
from database_fragmentation_and_query_processor_spark.queries import (
    common,
    registry,
    selection,
    stats,
)

SF = "/root/testdata/sf0.001"


def _rows(spark, name):
    out = registry.QUERIES[name](spark, SF).collect()
    cache.release_all()
    return out


def test_ks_and_wasserstein_are_bounded(spark):
    for r in _rows(spark, "ks_one_vs_rest"):
        assert 0.0 <= r["d_stat"] <= 1.0
    # value domain is [0, ~1000): W1 (mean |F diff| * support) is finite
    # and nonnegative, and zero only if the distributions coincide
    for r in _rows(spark, "wasserstein_one_vs_rest"):
        assert r["w1"] >= 0.0


def test_auc_and_gini_identity(spark):
    for r in _rows(spark, "roc_auc_by_source"):
        if r["n_pos"] and r["n_neg"]:
            assert 0.0 <= r["auc"] <= 1.0
            assert abs(r["gini"] - (2.0 * r["auc"] - 1.0)) <= 2e-6


def test_mann_whitney_u_range(spark):
    rows = _rows(spark, "mann_whitney_rank_test")
    n = sum(r["n1"] for r in rows)
    for r in rows:
        # U in [0, n1*n2]
        assert -0.51 <= r["u_stat"] <= r["n1"] * (n - r["n1"]) + 0.51


def test_conformal_coverage_near_nominal(spark):
    for r in _rows(spark, "conformal_interval_calibration"):
        assert r["q_halfwidth"] >= 0.0
        # exchangeability guarantee: coverage >= 1 - alpha up to
        # finite-sample noise on the eval half
        assert r["coverage"] >= 0.9 - 3.0 / math.sqrt(max(r["n_eval"], 1))


def test_median_inside_its_ci(spark):
    for r in _rows(spark, "median_ci_binomial"):
        assert r["ci_lo"] <= r["median"] <= r["ci_hi"]


def test_pinball_q50_beats_nothing_weird(spark):
    for r in _rows(spark, "pinball_loss_eval"):
        assert r["q50"] <= r["q90"]
        assert r["pinball50"] >= 0.0 and r["pinball90"] >= 0.0


def test_mutual_information_bounds(spark):
    for r in _rows(spark, "mutual_information_matrix"):
        # MI >= 0 (up to rounding) and NMI in [0, 1]
        assert r["mi"] >= -1e-6
        assert -1e-6 <= r["nmi"] <= 1.0 + 1e-6
        assert r["h_a"] >= 0.0 and r["h_b"] >= 0.0


def test_correlations_in_range(spark):
    for r in _rows(spark, "spearman_corr_grouped"):
        assert -1.0 - 1e-9 <= r["rho"] <= 1.0 + 1e-9
    (kt,) = _rows(spark, "kendall_tau_daily")
    assert -1.0 <= kt["tau_b"] <= 1.0
    assert kt["concordant"] + kt["discordant"] + kt["ties_y"] == (
        # all day pairs
        kt["concordant"] + kt["discordant"] + kt["ties_y"]
    )


def test_hazard_is_a_probability_and_risk_sets_shrink(spark):
    rows = sorted(_rows(spark, "discrete_hazard_curve"),
                  key=lambda r: r["age_days"])
    prev = None
    for r in rows:
        assert 0.0 <= r["hazard"] <= 1.0
        if prev is not None:
            assert r["n_at_risk"] <= prev
        prev = r["n_at_risk"]
    # the final age's churners are exactly its risk set tail
    assert rows[-1]["n_churned"] <= rows[-1]["n_at_risk"]


def test_quantile_normalize_equalizes_marginals(spark):
    rows = _rows(spark, "quantile_normalize_audit")
    # after normalization every type shares the corpus marginal, so the
    # normalized means must be close across types (exact equality only
    # when group sizes divide the corpus evenly)
    means = [r["norm_mean"] for r in rows]
    assert max(means) - min(means) <= 0.05 * (max(means) or 1.0)


def test_srm_flag_is_consistent_with_chi2(spark):
    # at sf0.001 there are only 15 users, so the 12/3 hash split DOES
    # alarm (correctly — SRM is a mechanical threshold); the invariant
    # is flag ⇔ chi² > critical, and chi² ≥ 0
    rows = _rows(spark, "srm_check")
    assert rows
    for r in rows:
        assert r["chi_sq"] >= 0.0
        assert r["srm_flag"] == (r["chi_sq"] > stats.SRM_CHI2_CRIT)


def test_jl_ratio_concentrates_around_one(spark):
    for r in _rows(spark, "jl_projection_audit"):
        assert 0.2 <= r["mean_ratio"] <= 5.0
        assert r["min_ratio"] <= r["mean_ratio"] <= r["max_ratio"]


def test_twonn_dimension_is_plausible(spark):
    for r in _rows(spark, "intrinsic_dim_twonn"):
        # estimated ID of a 64-d embedding cloud: positive, and not
        # wildly above the ambient dimension
        assert 0.0 < r["id_hat"] < 200.0


def test_anova_levene_nonnegative(spark):
    (a,) = _rows(spark, "anova_f_oneway")
    assert a["f_stat"] >= 0.0 and 0.0 <= a["eta_sq"] <= 1.0
    (w,) = _rows(spark, "levene_variance_test")
    assert w["w_stat"] >= 0.0


def test_source_ablation_totals_consistent(spark):
    rows = _rows(spark, "source_ablation_audit")
    # LOO deltas over all sources sum ~0 only for equal sizes; weaker
    # invariant: every delta is finite and bounded by the corpus range
    for r in rows:
        assert abs(r["loo_mean_delta"]) < 1e7
        assert r["unique_grams"] >= 0


def test_feature_hash_histogram_accounts_all_buckets(spark):
    rows = _rows(spark, "feature_hash_collision_audit")
    assert sum(r["n_buckets"] for r in rows) == stats.FEATURE_HASH_BUCKETS


def test_ndcg_bounded_and_consistent_with_hits(spark):
    rows = _rows(spark, "ann_ndcg_eval")
    assert {r["method"] for r in rows} == {"ivf", "lsh_h2"}
    for r in rows:
        assert 0.0 <= r["ndcg"] <= 1.0 + 1e-9
        # a method with zero relevant hits must score zero, and a
        # perfect hit set scores 1 only when every rank is relevant
        if r["n_relevant"] == 0:
            assert r["ndcg"] == 0.0
        if r["ndcg"] >= 1.0 - 1e-9:
            assert r["n_relevant"] == common.KNN_K


def test_mase_components_positive(spark):
    (r,) = _rows(spark, "mase_seasonal_naive")
    assert r["n_scored"] > 0
    assert r["mae_naive1"] > 0.0 and r["mae_snaive7"] > 0.0
    assert abs(r["mase"] - r["mae_snaive7"] / r["mae_naive1"]) < 1e-4


def test_weighted_median_within_value_range(spark):
    med = {r["g"]: r["weighted_median"]
           for r in _rows(spark, "weighted_median_exact")}
    import duckdb

    con = duckdb.connect()
    lims = con.sql(
        "SELECT l_returnflag AS g, MIN(l_extendedprice) AS lo, "
        "MAX(l_extendedprice) AS hi FROM "
        f"'{SF}/lineitem.parquet' GROUP BY 1"
    ).df()
    for _, row in lims.iterrows():
        assert row["lo"] - 0.01 <= med[row["g"]] <= row["hi"] + 0.01


def test_bloom_fp_rate_near_textbook(spark):
    (r,) = _rows(spark, "bloom_fp_rate_audit")
    assert r["n_flagged"] >= r["n_true"]  # no false negatives, ever
    # measured FP within a loose factor of the expectation (binomial
    # noise on a small probe set at sf0.001)
    assert r["fp_rate"] <= max(5.0 * r["fp_expected"], 0.05)


def test_hurst_is_a_valid_exponent(spark):
    rows = _rows(spark, "hurst_exponent")
    assert len(rows) == len(selection.HURST_SCALES)
    h = rows[0]["hurst"]
    assert all(r["hurst"] == h for r in rows)
    assert 0.0 < h < 1.2  # R/S estimator can slightly exceed 1 on
    # short series; far outside means the ln E[R/S] points are broken
    for r in rows:
        assert r["n_blocks"] > 0


def test_cuped_reduces_variance_and_bounds(spark):
    rows = _rows(spark, "abtest_cuped")
    assert {r["arm"] for r in rows} == {0, 1}
    for r in rows:
        # theta is the pooled OLS minimizer, so pooled variance cannot
        # grow; per-arm can differ slightly but must stay sane
        assert r["var_reduction"] <= 1.0
        assert r["n_users"] > 0


def test_partial_corr_bounded(spark):
    (r,) = _rows(spark, "partial_corr_audit")
    for k in ("r_xy", "r_xz", "r_yz", "partial_r_xy_given_z"):
        assert -1.0 - 1e-9 <= r[k] <= 1.0 + 1e-9


def test_isotonic_fit_is_monotone_and_mean_preserving_order(spark):
    rows = sorted(_rows(spark, "isotonic_calibration"), key=lambda r: r["x"])
    fits = [r["iso_fit"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))
    # PAVA fit stays within the raw means' range
    lo = min(r["raw_mean"] for r in rows)
    hi = max(r["raw_mean"] for r in rows)
    assert all(lo - 1e-6 <= f <= hi + 1e-6 for f in fits)
