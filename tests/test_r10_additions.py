"""Semantic invariants + plan shapes for the round-10 operators
(line_dedup_exact, kn_bigram_perplexity, unigram_lm_learning; the
wave-2 operators exact_substr_dedup / nb_quality_classifier are pinned
in tests/test_r10_wave2.py).

Oracle equality (tests/test_oracle_queries.py) proves Spark == DuckDB;
these pin properties a SHARED bug could break silently — conservation
identities, nontriviality, smoothing actually smoothing — plus the
plan shapes the docstrings promise.
"""

from __future__ import annotations

import inspect
import re

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import (
    common,
    corpusops,
    registry,
    tokenlearn,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _distinct_parquet_scans(plan: str) -> int:
    return len(set(re.findall(r"Scan parquet\s*\((\d+)\)", plan)))


# ---------------------------------------------------------------------------
# line_dedup_exact
# ---------------------------------------------------------------------------

def test_line_dedup_conservation_and_nontriviality(spark, sf_dir):
    """Corpus-wide identities: total kept lines == distinct line
    hashes; duplicate instances removed == copies owned by keepers
    (every removed instance is owned by exactly one keeper); the dedup
    must actually remove something."""
    rows = registry._QUERIES_ALL["line_dedup_exact"](spark, sf_dir).collect()
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    tot_lines = sum(r["n_lines"] for r in rows)
    tot_kept = sum(r["n_kept"] for r in rows)
    tot_owned = sum(r["copies_owned"] for r in rows)
    assert 0 < tot_kept < tot_lines  # nontrivial
    assert tot_lines - tot_kept == tot_owned
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_lines"]
        assert r["kept_tokens"] <= tokenlearn.LINE_TOKENS * r["n_kept"]
        assert (r["rewrite_md5"] == empty_md5) == (r["n_kept"] == 0)


def test_line_dedup_first_occurrence_owner_rule(spark, sf_dir):
    """The minimum-(doc_id, line_idx) instance is the keeper: the
    lowest doc_id containing any duplicated line must keep it, and the
    global keeper count equals the distinct-hash count computed
    independently."""
    lx = tokenlearn._doc_lines(spark, sf_dir)
    n_distinct = (
        lx.select(F.md5(F.concat_ws(" ", F.col("lt"))).alias("h"))
        .agg(F.countDistinct("h"))
        .head()[0]
    )
    rows = registry._QUERIES_ALL["line_dedup_exact"](spark, sf_dir).collect()
    assert sum(r["n_kept"] for r in rows) == n_distinct


def test_line_dedup_plan_shapes(spark, sf_dir):
    """One corpus scan (the persisted shared line-explode), struct-min
    ownership (no window over the corpus line stream), no Python."""
    src = inspect.getsource(corpusops.q_line_dedup_exact)
    assert "_doc_lines" in src and "F.min(F.struct" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["line_dedup_exact"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1, plan
    assert "InMemoryTableScan" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# kn_bigram_perplexity
# ---------------------------------------------------------------------------

def test_kn_perplexity_is_proper_and_differs_from_mle(spark, sf_dir):
    """Every KN score is a proper mean NLL > 0 (each p(w2|w1) < 1, so
    the implied perplexity is > 1); the doc set and n_bigrams agree
    with the MLE filter's; and the smoothing is NONTRIVIAL — scores
    differ from the unsmoothed model on most documents. (No one-sided
    bound holds: the discount lowers observed-bigram mass but the
    backoff term can overshoot it for words with concentrated
    continuation probability.)"""
    import math

    kn = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["kn_bigram_perplexity"](spark, sf_dir)
        .collect()
    }
    mle = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["doc_lm_perplexity"](spark, sf_dir)
        .collect()
    }
    assert set(kn) == set(mle)
    n_diff = 0
    for did, r in kn.items():
        assert r["kn_mean_nll"] > 0.0
        assert r["n_bigrams"] == mle[did]["n_bigrams"]
        # compare on the shared log scale (MLE reports exp(mean nll),
        # KN reports the mean nll itself — the lattice-safe surface)
        if abs(r["kn_mean_nll"] - math.log(mle[did]["perplexity"])) > 1e-6:
            n_diff += 1
    assert n_diff > len(kn) * 0.9


def test_kn_reserved_mass_is_positive(spark, sf_dir):
    """The backoff term must carry real probability: for every history
    w1, the discount reserves D·N1+(w1·)/c1 > 0 — spot-check the model
    identity Σ_observed p(w2|w1) < 1 on the most frequent history."""
    docs = common._docs(spark, sf_dir)
    from database_fragmentation_and_query_processor_spark.functions import (
        text as T,
    )

    toks = T.tokens(F.col("text"))
    tl = docs.select(toks.alias("t")).where(F.size("t") >= 2)
    big = tl.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    top = (
        cb.groupBy("w1")
        .agg(F.sum("c12").alias("c1"), F.count("*").alias("n1f"))
        .orderBy(F.desc("c1"))
        .head()
    )
    observed_mass = 1.0 - corpusops.KN_DISCOUNT * top["n1f"] / top["c1"]
    assert 0.0 < observed_mass < 1.0


def test_kn_plan_scans_corpus_twice_via_cached_type_table(spark, sf_dir):
    """The bigram TYPE table is persisted and feeds the history /
    continuation / type-total aggregates and the scorer join — the
    corpus is read exactly twice (type-table build + scorer stream),
    never once per model table."""
    src = inspect.getsource(corpusops.q_kn_bigram_perplexity)
    assert "_track_cached" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["kn_bigram_perplexity"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 2, plan
    assert "InMemoryTableScan" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# unigram_lm_learning
# ---------------------------------------------------------------------------

def test_unigram_vocab_conserves_character_mass(spark, sf_dir):
    """Segmentation is a partition of every word: Σ cnt·piece_len over
    the final vocabulary equals the corpus character mass Σ freq·|w| —
    the conservation identity any segmentation bug breaks."""
    from database_fragmentation_and_query_processor_spark.functions import (
        text as T,
    )

    rows = registry._QUERIES_ALL["unigram_lm_learning"](spark, sf_dir).collect()
    assert rows
    seg_mass = sum(r["cnt"] * r["piece_len"] for r in rows)
    docs = common._docs(spark, sf_dir)
    char_mass = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .agg(F.sum(F.length("w")))
        .head()[0]
    )
    assert seg_mass == char_mass


def test_unigram_vocab_is_nontrivial_and_bounded(spark, sf_dir):
    """The learned vocabulary must contain real multi-character pieces
    (a prune-everything bug collapses to characters and passes oracle
    equality because both engines share it), every piece must respect
    UNI_MAXLEN, and the reported neg_logp must be a positive
    6dp-rounded -ln(share)."""
    rows = registry._QUERIES_ALL["unigram_lm_learning"](spark, sf_dir).collect()
    assert any(r["piece_len"] >= 2 for r in rows)
    assert any(r["piece_len"] == 1 for r in rows)
    total = sum(r["cnt"] for r in rows)
    for r in rows:
        assert 1 <= r["piece_len"] <= corpusops.UNI_MAXLEN
        assert len(r["piece"]) == r["piece_len"]
        assert 0 < r["cnt"] <= total
        assert r["neg_logp"] > 0.0


def test_unigram_learning_is_deterministic(spark, sf_dir):
    a = sorted(
        tuple(r)
        for r in registry._QUERIES_ALL["unigram_lm_learning"](spark, sf_dir)
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in registry._QUERIES_ALL["unigram_lm_learning"](spark, sf_dir)
        .collect()
    )
    assert a == b


def test_unigram_plan_touches_corpus_once_with_no_collects(spark, sf_dir):
    """The corpus feeds ONE persisted word-frequency aggregate; all K
    EM rounds run on the vocabulary domain inside a single lazy plan —
    no driver-side collects (unlike BPE's documented LIMIT-1 steps),
    no Python UDFs, no windows."""
    src = inspect.getsource(corpusops.q_unigram_lm_learning)
    assert ".collect()" not in src
    assert "_track_cached" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["unigram_lm_learning"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1, "corpus must be read once"
    assert "InMemoryTableScan" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# registry wiring
# ---------------------------------------------------------------------------

def test_r10_additions_followed_the_add_then_rotate_lifecycle():
    """The r10 additions registered BELOW the head in r10 and rotated
    into the r11 head for their first driver stamps; the r11 and r12
    additions sit inside the current 50-name head."""
    names = list(registry.QUERIES)
    r10_added = [
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
    ]
    r11_added = [
        "logreg_hash_text",
        "exact_substr_incremental",
        "temperature_sampling_weights",
        "dedup_bcubed_eval",
        "heaps_law_fit",
        "data_constrained_effective_tokens",
        "shard_balance_audit",
        "dedup_cluster_cohesion",
        "rare_token_audit",
        "t_closeness_audit",
        "qlm_dirichlet_search",
        "doremi_domain_weights",
        "label_propagation_communities",
        "kcenter_coreset",
        "fellegi_sunter_linkage",
        "unimax_budget_allocation",
        "packing_truncation_audit",
        "coverage_greedy_selection",
        "wordpiece_learning",
        "grid_density_clusters",
        "tokenizer_compare_audit",
        "burrows_delta_stylometry",
        "dunning_g2_keyness",
        "jsd_source_divergence",
        "rbo_rank_agreement",
        "adamic_adar_linkpred",
        "degree_distribution_audit",
        "rrf_fusion_topk",
        "association_rules_lift",
        "seasonal_decomposition_audit",
    ]
    r12_added = [
        "streaming_near_dup",
        "crosslingual_dedup",
        "crosslingual_mate_retrieval",
    ]
    for n in r10_added:
        # stamped in the r11 window (CORRECTNESS_r11) — free to rotate
        # out once the evidence landed; only registration is pinned now
        assert n in registry.QUERIES and n in registry.ORACLE_SQL
    for n in r11_added:
        assert n in registry.QUERIES and n in registry.ORACLE_SQL
        assert names.index(n) < 50  # r12-stamped; r13 re-certifies as refills
    for n in r12_added:
        assert n in registry.QUERIES and n in registry.ORACLE_SQL
        assert names.index(n) < 50  # rotated INTO the r13 stamp window
