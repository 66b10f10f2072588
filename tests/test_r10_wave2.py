"""Semantic invariants + plan shapes for the round-10 wave-2 operators
(exact_substr_dedup, nb_quality_classifier)."""

from __future__ import annotations

import inspect
import re

from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import (
    common,
    corpusops,
    registry,
    sequences,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _distinct_parquet_scans(plan: str) -> int:
    return len(set(re.findall(r"Scan parquet\s*\((\d+)\)", plan)))


# ---------------------------------------------------------------------------
# exact_substr_dedup
# ---------------------------------------------------------------------------

def test_exact_substr_dedup_twin_docs_fully_removed(spark, sf_dir):
    """The synthesized duplicate twins (doc_id + DUP_SALT, identical
    text) must lose every window-covered token to their originals, and
    the originals must keep their full text (they own every shared
    window by the (doc_id, pos) minimum); docs shorter than the window
    are untouched."""
    rows = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["exact_substr_dedup"](spark, sf_dir)
        .collect()
    }
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    twins = [d for d in rows if d >= common.DUP_SALT]
    assert twins
    n_fully_removed = 0
    for d in twins:
        tw, orig = rows[d], rows[d - common.DUP_SALT]
        assert tw["n_tokens"] == orig["n_tokens"]
        if tw["n_tokens"] >= sequences.DUPSPAN_L:
            # twin text is 100% duplicated; every token is covered
            assert tw["n_removed"] == tw["n_tokens"]
            assert tw["rewrite_md5"] == empty_md5
            n_fully_removed += 1
        else:
            assert tw["n_removed"] == 0
    assert n_fully_removed > 0
    for r in rows.values():
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        assert (r["rewrite_md5"] == empty_md5) == (
            r["n_removed"] == r["n_tokens"]
        )


def test_exact_substr_originals_keep_unshared_text(spark, sf_dir):
    """An original whose text occurs nowhere else must be fully kept:
    its rewrite hash equals the hash of its own token join."""
    from database_fragmentation_and_query_processor_spark.functions import (
        text as T,
    )

    rows = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["exact_substr_dedup"](spark, sf_dir)
        .collect()
    }
    docs = common._docs(spark, sf_dir)
    own = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id",
            F.md5(F.concat_ws(" ", T.tokens(F.col("text")))).alias("h"),
        ).collect()
    }
    n_checked = 0
    for did, r in rows.items():
        if r["n_removed"] == 0 and did in own and r["n_tokens"] > 0:
            assert r["rewrite_md5"] == own[did]
            n_checked += 1
    assert n_checked > 0


def test_exact_substr_plan_shapes(spark, sf_dir):
    """The window table is persisted and shared by the owner table and
    the removal join (one corpus pass feeds both); ownership is a
    struct-min aggregation, not a corpus-wide window; no Python."""
    src = inspect.getsource(corpusops.q_exact_substr_dedup)
    assert "_track_cached" in src and "F.min(F.struct" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["exact_substr_dedup"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# nb_quality_classifier
# ---------------------------------------------------------------------------

def test_nb_classifier_beats_chance_on_weak_labels(spark, sf_dir):
    """In-sample NB trained on the weak source-parity labels must beat
    chance — a broken likelihood table degenerates to the prior and
    scores ~50%. The synthetic sources share most of their word
    distribution (token-level class TVD ≈ 2%), so the bar is a binomial
    z-test against 0.5, not a fixed accuracy: per-doc aggregation of
    the small per-token signal is exactly what NB is supposed to do."""
    rows = registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    acc = sum(1 for r in rows if r["pred_label"] == r["weak_label"]) / n
    z = (acc - 0.5) / (0.25 / n) ** 0.5
    assert z > 2.5, f"in-sample accuracy {acc} (z={z:.2f}) is chance-level"
    assert {r["weak_label"] for r in rows} == {0, 1}
    assert any(r["log_odds"] > 0 for r in rows)
    assert any(r["log_odds"] < 0 for r in rows)


def test_nb_classifier_score_is_prior_plus_likelihood(spark, sf_dir):
    """pred_label must be exactly the sign of log_odds (one shared
    expression, no separate threshold drift)."""
    for r in registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir).collect():
        assert r["pred_label"] == (1 if r["log_odds"] > 0 else 0)


def test_nb_classifier_plan_shapes(spark, sf_dir):
    """The per-doc token-count table is persisted (it feeds BOTH the
    class-conditional count build and the scoring join — the train and
    inference passes share one corpus read); scalars ride broadcast
    1-row frames; no Python, no windows."""
    # the shared train+score core persists its token substrate
    src = inspect.getsource(corpusops._nb_scored) + inspect.getsource(corpusops._nb_tokens)
    assert "_track_cached" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1, "one corpus read"
    assert "InMemoryTableScan" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# nb_calibration_audit / quality_budget_mix (the NB-scorer consumers)
# ---------------------------------------------------------------------------

def test_nb_calibration_bins_partition_the_corpus(spark, sf_dir):
    """Bin sizes must sum to the scored-doc count, confidences and
    rates must be probabilities, bins must be valid deciles, and the
    audit must be NONTRIVIAL (more than one occupied bin — a sigmoid
    or binning bug collapses everything into one bucket)."""
    rows = registry._QUERIES_ALL["nb_calibration_audit"](spark, sf_dir).collect()
    n_scored = registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir).count()
    assert sum(r["n_docs"] for r in rows) == n_scored
    assert len(rows) >= 2
    for r in rows:
        assert 0 <= r["bin"] < corpusops.NB_CAL_BINS
        assert 0.0 <= r["mean_conf"] <= 1.0
        assert 0.0 <= r["emp_rate"] <= 1.0
        assert abs(r["abs_gap"] - abs(round(r["mean_conf"] - r["emp_rate"], 6))) < 1e-9
        # a decile's mean confidence lies inside the decile
        assert r["bin"] / corpusops.NB_CAL_BINS - 1e-9 <= r["mean_conf"] <= (
            (r["bin"] + 1) / corpusops.NB_CAL_BINS + 1e-9
        )


def test_quality_budget_mix_is_a_greedy_prefix_plan(spark, sf_dir):
    """keep_frac must be monotone non-increasing in rank (a greedy
    prefix: full sources, then at most one fractional straddler, then
    zeros), and the kept token mass must equal the budget share of the
    corpus exactly (up to the 6dp rounding of the one fraction)."""
    rows = sorted(
        registry._QUERIES_ALL["quality_budget_mix"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    fracs = [r["keep_frac"] for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(fracs, fracs[1:]))
    assert all(0.0 <= f <= 1.0 for f in fracs)
    n_partial = sum(1 for f in fracs if 0.0 < f < 1.0)
    assert n_partial <= 1
    total = sum(r["n_tokens"] for r in rows)
    kept = sum(r["n_tokens"] * r["keep_frac"] for r in rows)
    want = total * corpusops.MIX_BUDGET_PERMILLE / 1000.0
    assert abs(kept - want) <= max(r["n_tokens"] for r in rows) * 1e-5
    # ranking follows mean quality, best first
    means = [r["mean_score"] for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(means, means[1:]))


def test_nb_consumers_share_one_corpus_read(spark, sf_dir):
    """Both NB-scorer consumers inherit the scorer's corpus-read
    discipline: one persisted token table, one parquet scan, the
    source-domain window only on the rolled-up frame."""
    for name in ("nb_calibration_audit", "quality_budget_mix"):
        plan = final_explain_formatted(
            registry._QUERIES_ALL[name](spark, sf_dir)
        )
        assert _distinct_parquet_scans(plan) <= 1, name
        assert "InMemoryTableScan" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_nb_holdout_confusion_is_complete_and_out_of_sample(spark, sf_dir):
    """The confusion cube must cover every scoreable doc exactly once,
    carry all three splits, and be genuinely out-of-sample: holdout
    train-split predictions must differ from the in-sample model's
    somewhere (the model saw ~80% of the data, not all of it), while
    val/test rows exist to measure generalization."""
    rows = registry._QUERIES_ALL["nb_holdout_eval"](spark, sf_dir).collect()
    n_total = sum(r["n_docs"] for r in rows)
    n_scored = registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir).count()
    assert n_total == n_scored
    splits = {r["split"] for r in rows}
    assert splits == {"train", "val", "test"}
    for r in rows:
        assert r["weak_label"] in (0, 1) and r["pred_label"] in (0, 1)
        assert r["n_docs"] > 0
    # train split dominates (the 80/10/10 md5 buckets)
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert by_split["train"] > by_split["val"]
    assert by_split["train"] > by_split["test"]


def test_nb_holdout_plan_keeps_single_corpus_read(spark, sf_dir):
    """Holdout mode shares the in-sample scorer's discipline: one
    persisted token table feeds the train-filtered model build and the
    all-docs scoring join (now a LEFT join for open-vocabulary Laplace
    mass); still one parquet scan, no Python."""
    src = inspect.getsource(corpusops._nb_scored)
    assert '"left" if holdout else "inner"' in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["nb_holdout_eval"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan


def test_k_anonymity_bands_partition_groups_and_docs(spark, sf_dir):
    """Band rows must partition BOTH the QI equivalence classes and the
    corpus docs exactly; l-diversity is bounded by the source count;
    the audit is nontrivial (at least two occupied bands at test SFs)."""
    rows = registry._QUERIES_ALL["k_anonymity_audit"](spark, sf_dir).collect()
    docs = common._docs(spark, sf_dir)
    n_docs = docs.count()
    qi = (
        docs.groupBy(
            "lang",
            F.floor(F.col("n_chars") / corpusops.KANON_CHAR_BUCKET),
        ).count()
    )
    n_groups = qi.count()
    n_sources = docs.select("source").distinct().count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_groups"] for r in rows) == n_groups
    assert {r["k_band"] for r in rows} <= {"k=1", "2-4", "5-9", "10+"}
    assert len(rows) >= 2
    for r in rows:
        assert 1 <= r["min_l"] <= r["max_l"] <= n_sources
        assert r["n_groups"] >= 1 and r["n_docs"] >= r["n_groups"]


def test_pr_auc_bounds_and_consistency_with_roc(spark, sf_dir):
    """AP must be a probability, every source must appear with the
    same class totals as the ROC twin, and the metric must be
    nontrivial (not everywhere equal to the random-classifier baseline
    prevalence)."""
    pr = {
        r["source"]: r
        for r in registry._QUERIES_ALL["pr_auc_by_source"](spark, sf_dir).collect()
    }
    roc = {
        r["source"]: r
        for r in registry._QUERIES_ALL["roc_auc_by_source"](spark, sf_dir).collect()
    }
    assert set(pr) == set(roc)
    n_off_baseline = 0
    for src, r in pr.items():
        assert 0.0 < r["pr_auc"] <= 1.0
        assert 0.0 < r["baseline_prevalence"] < 1.0
        assert r["n_pos"] == roc[src]["n_pos"]
        assert r["n_neg"] == roc[src]["n_neg"]
        if abs(r["pr_auc"] - r["baseline_prevalence"]) > 1e-6:
            n_off_baseline += 1
    assert n_off_baseline > 0


def test_pr_auc_is_exactly_one_for_a_perfect_predictor(spark):
    """Sanity oracle on a constructed frame: when every positive
    outranks every negative, AP must be exactly 1; when every score is
    tied, AP must equal the prevalence."""
    from database_fragmentation_and_query_processor_spark.queries import common as cq

    def run(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, source string, lang string, n_chars long"
        )
        real = cq._t_impl
        try:
            cq._t_impl = lambda s, d, t: df
            return {
                r["source"]: r
                for r in registry._QUERIES_ALL["pr_auc_by_source"](
                    spark, "unused"
                ).collect()
            }
        finally:
            cq._t_impl = real

    perfect = [(i, "s", "en" if i < 5 else "de", 1000 - i) for i in range(10)]
    out = run(perfect)
    assert out["s"]["pr_auc"] == 1.0
    tied = [(i, "s", "en" if i < 5 else "de", 7) for i in range(10)]
    out = run(tied)
    assert abs(out["s"]["pr_auc"] - 0.5) < 1e-9  # prevalence 5/10


def test_pr_auc_plan_uses_two_phase_prefix_not_window(spark, sf_dir):
    import inspect as _inspect

    src = _inspect.getsource(corpusops.q_pr_auc_by_source)
    assert "stable_prefix_sum" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["pr_auc_by_source"](spark, sf_dir)
    )
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# family-wide plan hygiene for every round-10 addition
# ---------------------------------------------------------------------------

import pytest as _pytest


@_pytest.mark.parametrize("name", [
    "line_dedup_exact",
    "kn_bigram_perplexity",
    "unigram_lm_learning",
    "exact_substr_dedup",
    "nb_quality_classifier",
    "nb_calibration_audit",
    "quality_budget_mix",
    "nb_holdout_eval",
    "k_anonymity_audit",
    "pr_auc_by_source",
])
def test_r10_added_plan_hygiene(spark, sf_dir, name):
    """Every round-10 operator's final plan: at most two distinct
    parquet scans (shared intermediates are persisted, never
    re-derived), no Python row evaluation, no cartesian product."""
    plan = final_explain_formatted(registry._QUERIES_ALL[name](spark, sf_dir))
    assert _distinct_parquet_scans(plan) <= 2, name
    assert "BatchEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name
