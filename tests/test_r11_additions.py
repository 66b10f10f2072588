"""Semantic invariants + plan shapes for the round-11 operators
(logreg_hash_text, exact_substr_incremental).

Oracle equality (tests/test_oracle_queries.py) proves Spark == DuckDB;
these tests pin properties a SHARED bug could break silently — the
Newton solve actually fitting, the incremental probe reproducing the
full recompute — plus the plan shapes the docstrings promise.
"""

from __future__ import annotations

import math
import re

from database_fragmentation_and_query_processor_spark.queries import (
    batteries,
    common,
    corpusops,
    docops,
    families,
    registry,
    sequences,
    tokenlearn,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _distinct_parquet_scans(plan: str) -> int:
    return len(set(re.findall(r"Scan parquet\s*\((\d+)\)", plan)))


# ---------------------------------------------------------------------------
# logreg_hash_text
# ---------------------------------------------------------------------------

def test_logreg_hash_text_fits_and_partitions_the_corpus(spark, sf_dir):
    """The eval table must cover every scoreable doc exactly once
    across the three md5 splits; probabilities/losses must be proper;
    the two Newton steps must actually FIT — training log-loss at the
    fitted betas is below the β=0 baseline loss ln 2 (a solver that
    returns zeros or diverges fails this, while both engines sharing
    it would pass the oracle compare); and the fit is deterministic."""
    rows = registry._QUERIES_ALL["logreg_hash_text"](spark, sf_dir).collect()
    n_scored = registry._QUERIES_ALL["nb_quality_classifier"](spark, sf_dir).count()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows) == n_scored
    for r in rows:
        assert 0 < r["n_pos"] < r["n_docs"]  # both classes in every split
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["log_loss"] > 0.0
    betas = {(r["beta0"], r["beta1_h0"], r["beta2_h1"]) for r in rows}
    assert len(betas) == 1  # one model, reported on every split row
    assert any(abs(b) > 1e-12 for b in next(iter(betas)))
    train = next(r for r in rows if r["split"] == "train")
    assert train["log_loss"] < math.log(2.0) + 1e-9
    again = registry._QUERIES_ALL["logreg_hash_text"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_logreg_hash_text_plan_shapes(spark, sf_dir):
    """The per-doc feature frame is persisted (it feeds the Newton
    moment passes AND the returned eval aggregate), so the returned
    plan reads the cache — at most the substrate's one corpus scan —
    with no Python eval and no window over the corpus."""
    plan = final_explain_formatted(
        registry._QUERIES_ALL["logreg_hash_text"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1, plan
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# exact_substr_incremental
# ---------------------------------------------------------------------------

def test_incremental_equals_full_recompute_restricted_to_batch(
    spark, sf_dir
):
    """THE maintenance identity: materialized index + O(batch) probe
    must reproduce the full-corpus ExactSubstr removal restricted to
    batch docs, column for column (n_tokens, n_removed, rewrite_md5)."""
    inc = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["exact_substr_incremental"](
            spark, sf_dir
        ).collect()
    }
    full = {
        r["doc_id"]: r
        for r in registry._QUERIES_ALL["exact_substr_dedup"](spark, sf_dir)
        .collect()
        if (r["doc_id"] % common.DUP_SALT) % families.INCR_BATCH_MOD == 0
    }
    assert set(inc) == set(full) and inc
    for d, r in inc.items():
        assert r["n_tokens"] == full[d]["n_tokens"], d
        assert r["n_removed"] == full[d]["n_removed"], d
        assert r["rewrite_md5"] == full[d]["rewrite_md5"], d
    # removal is nontrivial inside the batch: doc_id % 35 == 0 twins
    # have both copies in the batch, so their windows duplicate
    assert any(r["n_removed"] > 0 for r in inc.values())
    assert all(r["spans_stolen"] >= 0 for r in inc.values())


def test_incremental_substr_plan_shapes(spark, sf_dir):
    """The standing-corpus index and the batch token/window frames are
    persisted (index build + probe + rewrite must not re-tokenize), no
    Python eval, no corpus-wide window function."""
    plan = final_explain_formatted(
        registry._QUERIES_ALL["exact_substr_incremental"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# temperature_sampling_weights
# ---------------------------------------------------------------------------

def test_temperature_sampling_flattens_toward_uniform(spark, sf_dir):
    """The defining property of α < 1 temperature sampling: tempered
    shares sum to 1, low-resource languages get boost > 1,
    high-resource get boost < 1, and the ORDER of shares is preserved
    (the power map is monotone). A sign error in the exponent or a
    share/total swap breaks one of these while both engines would
    still agree."""
    rows = registry._QUERIES_ALL["temperature_sampling_weights"](
        spark, sf_dir
    ).collect()
    assert len(rows) >= 2
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["actual_share"] for r in rows) - 1.0) < 1e-4
    mean_share = 1.0 / len(rows)
    for r in rows:
        if r["actual_share"] < mean_share - 1e-9:
            assert r["boost"] > 1.0, r
        if r["actual_share"] > mean_share + 1e-9:
            assert r["boost"] < 1.0, r
    by_actual = sorted(rows, key=lambda r: r["actual_share"])
    temp_in_that_order = [r["temp_share"] for r in by_actual]
    assert temp_in_that_order == sorted(temp_in_that_order)


# ---------------------------------------------------------------------------
# dedup_bcubed_eval
# ---------------------------------------------------------------------------

def test_heaps_fit_is_sublinear_and_positive(spark, sf_dir):
    """Heaps' law on natural-ish text: 0 < β < 1 (vocabulary grows,
    but sublinearly) and the intercept is finite — a swapped x/y or a
    count/distinct mix-up pushes β outside the unit interval while
    both engines would still agree."""
    row = registry._QUERIES_ALL["heaps_law_fit"](spark, sf_dir).head()
    assert row["n_sources"] >= 3
    assert 0.0 < row["heaps_beta"] < 1.0, row
    assert math.isfinite(row["heaps_ln_k"])


def test_data_constrained_decay_bounds(spark, sf_dir):
    """The Muennighoff decay's defining bounds: unique ≤ effective ≤
    total (repetition is worth less than fresh data but more than
    nothing), epochs ≥ 1, retention ∈ (0, 1]; sources with real
    repetition (the %7 twins) must show epochs > 1 AND retention < 1;
    a source with no duplicates keeps retention ≈ 1."""
    rows = registry._QUERIES_ALL["data_constrained_effective_tokens"](
        spark, sf_dir
    ).collect()
    assert rows
    saw_repeat = False
    for r in rows:
        assert r["unique_tokens"] <= r["total_tokens"]
        assert r["epochs"] >= 1.0 - 1e-9
        assert 0.0 < r["value_retention"] <= 1.0 + 1e-9
        assert (
            r["unique_tokens"] - 1e-6
            <= r["effective_tokens"]
            <= r["total_tokens"] + 1e-6
        )
        if r["epochs"] > 1.0 + 1e-9:
            saw_repeat = True
            assert r["value_retention"] < 1.0
    assert saw_repeat  # the synthesized twins create real repetition


def test_shard_balance_is_sane_and_hash_uniform(spark, sf_dir):
    """The md5 shard assignment must cover all shards at any real SF,
    conserve the corpus exactly, and be reasonably uniform (CV well
    under 1 and max/mean bounded — a broken hash that funnels docs
    into few shards explodes both while the engines still agree)."""
    row = registry._QUERIES_ALL["shard_balance_audit"](spark, sf_dir).head()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert row["total_docs"] == docs.count()
    assert 1 <= row["n_shards"] <= corpusops.N_OUTPUT_SHARDS
    assert row["min_tokens"] >= 0 and row["max_tokens"] >= row["min_tokens"]
    assert row["max_over_mean"] >= 1.0
    if row["total_docs"] >= 10 * corpusops.N_OUTPUT_SHARDS:
        assert row["n_shards"] == corpusops.N_OUTPUT_SHARDS
        assert row["token_cv"] < 1.0
        assert row["max_over_mean"] < 3.0


def test_cluster_cohesion_twins_are_cliques(spark, sf_dir):
    """The synthesized twins form 2-doc clusters, and a 2-doc cluster
    produced by verified pairs is BY CONSTRUCTION a clique — so the
    clique band must exist and dominate; accounting must match the
    multi-doc clusters of dedup_clusters."""
    rows = registry._QUERIES_ALL["dedup_cluster_cohesion"](spark, sf_dir).collect()
    assert rows
    bands = {r["cohesion_band"]: r for r in rows}
    assert "clique" in bands
    cl = registry._QUERIES_ALL["dedup_clusters"](spark, sf_dir).collect()
    multi = [r for r in cl if r["n_docs"] >= 2]
    assert sum(r["n_clusters"] for r in rows) == len(multi)
    assert sum(r["n_docs"] for r in rows) == sum(r["n_docs"] for r in multi)


def test_rare_token_audit_accounting(spark, sf_dir):
    """Per-source vocab/token accounting must be internally consistent
    and the rare tail NONTRIVIAL both ways (some rare mass exists;
    rare mass is a minority of total mass)."""
    rows = registry._QUERIES_ALL["rare_token_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["rare_vocab"] <= r["n_vocab"]
        assert 0 <= r["rare_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["rare_token_share"] <= 1.0
        assert 0.0 <= r["rare_vocab_share"] <= 1.0
    assert any(r["rare_vocab"] > 0 for r in rows)
    tot_rare = sum(r["rare_tokens"] for r in rows)
    tot = sum(r["n_tokens"] for r in rows)
    assert tot_rare < tot * 0.5


def test_t_closeness_accounting_and_bounds(spark, sf_dir):
    """Band accounting must conserve the corpus (Σ n_docs = N); every
    reported max_t is a proper variational distance in [0, 1]; and the
    bands are consistent with their own max_t (a band labeled t<=0.10
    cannot report max_t above 0.1 + rounding) — a numerator/denominator
    swap or a dropped absent-source term breaks one of these while
    both engines would still agree."""
    rows = registry._QUERIES_ALL["t_closeness_audit"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    caps = {"t<=0.10": 0.10, "0.10-0.25": 0.25, ">0.25": 1.0}
    for r in rows:
        assert r["t_band"] in caps
        assert 0.0 <= r["max_t"] <= 1.0 + 1e-9, r
        assert r["max_t"] <= caps[r["t_band"]] + 1e-6, r
        if r["t_band"] == ">0.25":
            assert r["max_t"] > 0.25
    assert any(r["max_t"] > 0.0 for r in rows)


def test_qlm_scores_are_proper_and_disjunctive(spark, sf_dir):
    """The rank-equivalent QL decomposition has a nonpositive length
    term and a nonnegative hit term, so a doc with NO query-term hits
    can never out-score a doc that hits every term at equal-or-shorter
    length — and on this corpus the top-1 must hit at least one term.
    The ranking itself must come back sorted (a tie-break slip
    reorders it only in one engine)."""
    rows = registry._QUERIES_ALL["qlm_dirichlet_search"](spark, sf_dir).collect()
    assert len(rows) == corpusops.QLM_TOPK
    assert all(0 <= r["n_terms_hit"] <= len(sequences.BM25_TERMS) for r in rows)
    assert rows[0]["n_terms_hit"] >= 1
    scores = [r["qlm_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # disjunctive vs bm25_search's conjunctive AND: QLM may rank docs
    # missing a term, but every bm25 top doc is scoreable here, so the
    # two rankings share at least one doc on any corpus where the
    # conjunctive set is nonempty
    bm = {r["doc_id"] for r in registry._QUERIES_ALL["bm25_search"](spark, sf_dir).collect()}
    if bm:
        assert any(r["n_terms_hit"] == len(sequences.BM25_TERMS) for r in rows)


def test_doremi_weights_are_a_distribution_and_track_excess(spark, sf_dir):
    """The DoReMi defining properties: weights form a distribution
    (sum 1), every excess loss is nonnegative (KL ≥ 0 by Gibbs), the
    uniform floor holds (weight ≥ ε/|S|), and the boost ORDER matches
    the excess-loss order after controlling for share — implemented as:
    among sources, boost is monotone in excess_kl whenever shares are
    near-equal, checked via the normalized weight w/share ∝ e^{η·KL}."""
    rows = registry._QUERIES_ALL["doremi_domain_weights"](spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r["doremi_weight"] for r in rows) - 1.0) < 1e-4
    floor = corpusops.DOREMI_SMOOTH / len(rows)
    for r in rows:
        assert r["excess_kl"] >= 0.0, r
        assert r["doremi_weight"] >= floor - 1e-9, r
        assert r["boost"] > 0.0
    # w/share ∝ e^{η·KL} up to the uniform floor: strip the floor and
    # check the residual ranks with excess_kl. Both columns are
    # 6dp-rounded, so order is only asserted for CLEARLY separated KLs
    # (near-ties can legitimately flip inside the rounding noise).
    resid = [
        ((r["doremi_weight"] - floor) / r["token_share"], r["excess_kl"])
        for r in rows
    ]
    for wi, ki in resid:
        for wj, kj in resid:
            if ki + 1e-4 < kj:
                assert wi <= wj + 1e-3, ((wi, ki), (wj, kj))


def test_wave4_plan_shapes(spark, sf_dir):
    """Plan tripwires for the wave-4 trio: t_closeness and doremi run
    on ONE persisted corpus aggregate (class sizes / marginals / totals
    all derive from the cache — a rewrite that re-scans the corpus per
    marginal regresses this); qlm keeps the bm25 posting-list shape
    (lens + filtered token stream = ≤2 corpus scans). None may use
    per-row Python or a corpus-wide window."""
    for name, max_scans, want_cache in (
        ("t_closeness_audit", 1, True),
        ("doremi_domain_weights", 1, True),
        ("qlm_dirichlet_search", 2, False),
    ):
        plan = final_explain_formatted(registry._QUERIES_ALL[name](spark, sf_dir))
        assert _distinct_parquet_scans(plan) <= max_scans, (name, plan)
        if want_cache:
            assert "InMemoryTableScan" in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "Window" not in plan, name


def test_lpa_communities_coarsen_the_graph(spark, sf_dir):
    """LPA invariants a shared bug could break silently: every
    community label IS a node id of the graph; communities partition
    the node set (Σ n_nodes over ALL communities = |V|, checked via the
    underlying operator); min/max node bounds are consistent; and after
    3 plurality rounds the graph has COARSENED (fewer labels than
    nodes) — a no-op update that returns self-labels leaves every node
    its own community and fails this while both engines agree."""
    from database_fragmentation_and_query_processor_spark.operators.graph import (
        label_propagation,
    )

    rows = registry._QUERIES_ALL["label_propagation_communities"](
        spark, sf_dir
    ).collect()
    assert rows
    edges = docops._copurchase_edges(spark, sf_dir)
    nodes = {
        r["n"]
        for r in edges.selectExpr("id_a AS n")
        .union(edges.selectExpr("id_b AS n"))
        .distinct()
        .collect()
    }
    labels = label_propagation(edges, rounds=corpusops.LPA_ROUNDS).collect()
    assert len(labels) == len(nodes)
    assert len({r["label"] for r in labels}) < len(nodes)
    for r in rows:
        assert r["community"] in nodes
        assert r["min_node"] <= r["max_node"]
        assert r["n_nodes"] >= 1
    sizes = [r["n_nodes"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)


def test_kcenter_radii_decrease_and_picks_are_distinct(spark, sf_dir):
    """The k-center greedy defining invariants: pick distances
    (coverage radii) are non-increasing (adding a center can only
    shrink the max min-distance), all picks are distinct points, the
    seed row is (1, 0, 0), and every later pick's dist_sq is positive
    on this corpus (no duplicate-of-center point is ever the farthest
    while distinct points exist)."""
    rows = registry._QUERIES_ALL["kcenter_coreset"](spark, sf_dir).collect()
    assert [r["pick_order"] for r in rows] == list(
        range(1, corpusops.KCENTER_PICKS + 1)
    )
    assert (rows[0]["vec_id"], rows[0]["dist_sq"]) == (0, 0)
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    radii = [r["dist_sq"] for r in rows[1:]]
    assert all(d > 0 for d in radii)
    assert radii == sorted(radii, reverse=True)


def test_fellegi_sunter_bands_are_consistent(spark, sf_dir):
    """FS scoring sanity: the three bands respect their own weight
    thresholds (a match row's min_weight ≥ 4, a non-match row's
    max_weight < 0), pair accounting equals the blocked pair count,
    and full-agreement pairs outscore full-disagreement ones by
    construction (Σ ln(m/u) > Σ ln((1-m)/(1-u)) for u < m)."""
    rows = registry._QUERIES_ALL["fellegi_sunter_linkage"](spark, sf_dir).collect()
    assert rows
    n_pairs = sum(r["n_pairs"] for r in rows)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", f"CAST(FLOOR(c_acctbal / {corpusops.FS_BLOCK_DIV}) AS BIGINT) AS bkey"
    )
    from pyspark.sql import functions as F

    a, b = cust.alias("a"), cust.alias("b")
    expected = a.join(
        b,
        (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).count()
    assert n_pairs == expected and n_pairs > 0
    for r in rows:
        assert r["min_weight"] <= r["max_weight"]
        if r["fs_band"] == "match":
            assert r["min_weight"] >= corpusops.FS_UPPER - 1e-6
        elif r["fs_band"] == "non-match":
            assert r["max_weight"] < 0.0
        else:
            assert 0.0 - 1e-6 <= r["min_weight"]
            assert r["max_weight"] < corpusops.FS_UPPER + 1e-6


def test_wave5_plan_shapes(spark, sf_dir):
    """Plan tripwires for the wave-5 trio. fellegi_sunter: the customer
    projection is persisted ONCE and feeds the three marginal
    aggregates AND the blocked self-join (≤1 parquet scan +
    InMemoryTableScan in the returned plan); no per-row Python, no
    window. label_propagation: the returned rollup reads the
    checkpointed final label table — no Python eval anywhere in the
    plan. (kcenter_coreset's result is a driver-assembled K-row frame —
    its per-round jobs are covered by the oracle equality and the
    radii invariants instead.)"""
    plan = final_explain_formatted(
        registry._QUERIES_ALL["fellegi_sunter_linkage"](spark, sf_dir)
    )
    assert _distinct_parquet_scans(plan) <= 1, plan
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    plan = final_explain_formatted(
        registry._QUERIES_ALL["label_propagation_communities"](spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_unimax_waterfill_invariants(spark, sf_dir):
    """The water-filling definition: allocations conserve the budget
    (Σ alloc = B up to rounding), capped languages get exactly their
    cap, uncapped languages all share ONE level θ, θ is at least every
    capped cap (else that language would be uncapped), no epochs exceed
    the 5/2 cap, and on this corpus the cap actually BINDS (≥1 capped
    AND ≥1 uncapped) — a constants regression that makes the waterfall
    degenerate fails here while both engines still agree."""
    rows = registry._QUERIES_ALL["unimax_budget_allocation"](spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r["budget_share"] for r in rows) - 1.0) < 1e-4
    capped = [r for r in rows if r["capped"]]
    uncapped = [r for r in rows if not r["capped"]]
    assert capped and uncapped
    cap_ratio = corpusops.UNIMAX_CAP_NUM / corpusops.UNIMAX_CAP_DEN
    for r in rows:
        assert r["epochs"] <= cap_ratio + 1e-6, r
        assert r["alloc_tokens"] > 0.0
    for r in capped:
        assert abs(r["alloc_tokens"] - r["cap_tokens"]) < 1e-6, r
    thetas = {r["alloc_tokens"] for r in uncapped}
    assert len(thetas) == 1
    theta = next(iter(thetas))
    assert all(theta >= r["cap_tokens"] - 1e-6 for r in capped)


def test_packing_truncation_accounting(spark, sf_dir):
    """The audit must agree with the sequence_packing layout it
    describes: per-language doc counts match the corpus; seqs_used is
    exactly ceil(total/L); split counts equal a direct recount of
    boundary-crossing docs from the packing query; pieces ≥ 1 per
    nonempty doc implies avg_pieces ≥ split_rate + 1 on a corpus with
    no empty docs — and some language must actually split at any SF
    where a language holds more than one sequence."""
    rows = {
        r["lang"]: r
        for r in registry._QUERIES_ALL["packing_truncation_audit"](
            spark, sf_dir
        ).collect()
    }
    packed = registry._QUERIES_ALL["sequence_packing"](spark, sf_dir).collect()
    import collections

    direct = collections.Counter()
    for p in packed:
        if p["n_tokens"] >= 1:
            first = p["seq_id"]
            last = (p["seq_offset"] + p["n_tokens"] - 1) // batteries.SEQ_LEN + first
            if last != first:
                direct[p["lang"]] += 1
    for lang, r in rows.items():
        assert r["n_split_docs"] == direct.get(lang, 0), lang
        assert r["seqs_used"] == -(-r["total_tokens"] // batteries.SEQ_LEN)
        assert 0.0 <= r["split_rate"] <= 1.0
        assert r["avg_pieces"] >= 1.0
    if any(r["seqs_used"] > 1 for r in rows.values()):
        assert any(r["n_split_docs"] > 0 for r in rows.values())


def test_coverage_greedy_gains_diminish(spark, sf_dir):
    """Submodularity: greedy gains are non-increasing; covered_total is
    the running gain sum; picks are distinct docs; and the first pick
    is the doc with the most distinct bigrams (checked directly)."""
    rows = registry._QUERIES_ALL["coverage_greedy_selection"](spark, sf_dir).collect()
    assert [r["pick_order"] for r in rows] == list(
        range(1, corpusops.COVERAGE_PICKS + 1)
    )
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert all(g > 0 for g in gains)
    running = 0
    for r in rows:
        running += r["gain"]
        assert r["covered_total"] == running
    # first pick = doc with most distinct bigrams
    from pyspark.sql import functions as F
    from database_fragmentation_and_query_processor_spark.functions import (
        text as T,
    )

    docs = common._docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(
            F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
        ),
    )
    top = (
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .distinct()
        .groupBy("doc_id")
        .count()
        .orderBy(F.desc("count"), F.asc("doc_id"))
        .limit(1)
        .head()
    )
    assert rows[0]["doc_id"] == top["doc_id"]
    assert rows[0]["gain"] == top["count"]


def test_wordpiece_merge_table_invariants(spark, sf_dir):
    """WordPiece learning sanity: all K steps happen on this corpus,
    every rule's merged symbol is its pair concatenation, pair counts
    are positive, and the quantized likelihood score is a proper
    ratio quantum (0 < score_q ≤ SCALE, since cnt(ab) ≤ cnt(a)·cnt(b)
    always); the run is deterministic; and the LIKELIHOOD objective
    actually differs from BPE's frequency objective on this corpus
    (the first WordPiece pick is not the globally most frequent pair —
    if it ever were, the two algorithms would be indistinguishable
    here and the oracle equality would prove nothing extra)."""
    rows = registry._QUERIES_ALL["wordpiece_learning"](spark, sf_dir).collect()
    assert [r["step"] for r in rows] == list(
        range(1, corpusops.WORDPIECE_MERGES + 1)
    )
    for r in rows:
        assert r["merged"] == r["left_sym"] + r["right_sym"]
        assert r["pair_count"] >= 1
        assert 0 < r["score_q"] <= corpusops.WORDPIECE_SCALE, r
    again = registry._QUERIES_ALL["wordpiece_learning"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    bpe = registry._QUERIES_ALL["bpe_merge_learning"](spark, sf_dir).collect()
    assert (rows[0]["left_sym"], rows[0]["right_sym"]) != (
        bpe[0]["left_sym"], bpe[0]["right_sym"],
    )


def test_grid_density_cluster_invariants(spark, sf_dir):
    """Grid-DBSCAN invariants: clusters partition the core cells
    (Σ n_cells = core-cell count recomputed directly); every cluster id
    is one of its member cell ids (min encoding); point mass per
    cluster is at least its cell count × the core threshold implies
    n_points ≥ n_cells (each core cell holds ≥ 2 points whenever the
    mean occupied density is ≥ 1); and the corpus produces MORE than
    one cluster (a degenerate always-adjacent grid would collapse to
    one and prove nothing)."""
    rows = registry._QUERIES_ALL["grid_density_clusters"](spark, sf_dir).collect()
    assert len(rows) >= 2
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = (
        emb.select(
            F.floor(F.element_at("embedding", 1).cast("double") * corpusops.GRID_SCALE)
            .cast("bigint").alias("cx"),
            F.floor(F.element_at("embedding", 2).cast("double") * corpusops.GRID_SCALE)
            .cast("bigint").alias("cy"),
        )
        .groupBy("cx", "cy").count()
    ).collect()
    n = sum(r["count"] for r in cells)
    m = len(cells)
    n_core = sum(
        1 for r in cells if r["count"] * m >= corpusops.GRID_DENSITY_FACTOR * n
    )
    assert sum(r["n_cells"] for r in rows) == n_core
    for r in rows:
        assert r["n_points"] >= r["n_cells"]
        assert r["n_cells"] >= 1


def test_tokenizer_compare_is_consistent_with_learners(spark, sf_dir):
    """The bake-off must agree with the learners it applies: both algos
    report the same corpus (equal total_words and base_symbols); each
    merge strictly reduces the symbol count by its pair count at
    selection ≥ 1, so symbols_after < base_symbols for both; and the
    ratios are proper (0 < compression ≤ 1, tokens_per_word ≥ 1)."""
    rows = {
        r["algo"]: r
        for r in registry._QUERIES_ALL["tokenizer_compare_audit"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"bpe", "wordpiece"}
    assert rows["bpe"]["total_words"] == rows["wordpiece"]["total_words"]
    assert rows["bpe"]["base_symbols"] == rows["wordpiece"]["base_symbols"]
    assert rows["bpe"]["n_merges"] == tokenlearn.BPE_MERGES
    assert rows["wordpiece"]["n_merges"] == corpusops.WORDPIECE_MERGES
    for r in rows.values():
        assert 0 < r["symbols_after"] < r["base_symbols"]
        assert 0.0 < r["compression_ratio"] <= 1.0
        assert r["tokens_per_word"] >= 1.0


def test_burrows_delta_metric_properties(spark, sf_dir):
    """Delta is a proper dissimilarity: nonnegative, symmetric by
    construction (pairs emitted once with src_a < src_b), finite (σ of
    a top word across sources is never 0 on this corpus — a
    degenerate basis word would blow the z-scores to inf), and the
    most-similar list comes back ordered ascending; determinism across
    a re-run pins the IEEE-exact no-lattice float path."""
    import math

    rows = registry._QUERIES_ALL["burrows_delta_stylometry"](spark, sf_dir).collect()
    assert len(rows) == corpusops.DELTA_TOPK
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["delta"] >= 0.0 and math.isfinite(r["delta"])
    ds = [r["delta"] for r in rows]
    assert ds == sorted(ds)
    again = registry._QUERIES_ALL["burrows_delta_stylometry"](spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_dunning_g2_keyness_properties(spark, sf_dir):
    """G² invariants: the statistic is nonnegative (up to the lattice
    floor's tiny deficit), the list is ordered, directions are
    consistent with a direct share comparison for the top row, and
    both directions appear in the top-k on a multi-source corpus
    (a keyness list that only ever says 'over' has a broken o21/o22
    term while the engines could still agree)."""
    rows = registry._QUERIES_ALL["dunning_g2_keyness"](spark, sf_dir).collect()
    assert len(rows) == corpusops.G2_TOPK
    g2s = [r["g2"] for r in rows]
    assert g2s == sorted(g2s, reverse=True)
    assert all(g >= -1e-6 for g in g2s)
    assert g2s[0] > 0.0
    top = rows[0]
    from pyspark.sql import functions as F
    from database_fragmentation_and_query_processor_spark.functions import (
        text as T,
    )

    docs = common._docs(spark, sf_dir)
    tw = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("w")
    )
    a = tw.where(
        (F.col("source") == top["source"]) & (F.col("w") == top["w"])
    ).count()
    n_s = tw.where(F.col("source") == top["source"]).count()
    g = tw.where(F.col("w") == top["w"]).count()
    n = tw.count()
    assert (a * n > g * n_s) == (top["direction"] == "over")


def test_jsd_bounds_and_ordering(spark, sf_dir):
    """JSD is bounded by ln 2, nonnegative (up to lattice deficit),
    pairs are canonical (src_a < src_b) and unique, and the list is
    ascending — plus cross-operator coherence: the most similar pair
    by JSD should also appear somewhere in Burrows' Delta's top list
    is NOT required (different bases), but both must be finite."""
    import math

    rows = registry._QUERIES_ALL["jsd_source_divergence"](spark, sf_dir).collect()
    assert len(rows) == corpusops.JSD_TOPK
    seen = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert (r["src_a"], r["src_b"]) not in seen
        seen.add((r["src_a"], r["src_b"]))
        assert -1e-6 <= r["jsd"] <= math.log(2.0) + 1e-6, r
    js = [r["jsd"] for r in rows]
    assert js == sorted(js)


def test_rbo_bounds_and_consistency(spark, sf_dir):
    """RBO invariants: a proper [0, 1] score; overlap at depth k is
    bounded by k; RBO is positive iff the two rankings share at least
    one doc in their top-k (checked directly against the two ranking
    queries); and RBO of a ranking with itself is the maximum
    truncated value (weights sum), computed here as the exact bound
    the score can never exceed."""
    row = registry._QUERIES_ALL["rbo_rank_agreement"](spark, sf_dir).head()
    k = row["depth"]
    assert k == min(sequences.BM25_TOPK, corpusops.QLM_TOPK)
    assert 0 <= (row["overlap_at_k"] or 0) <= k
    bm = {r["doc_id"] for r in registry._QUERIES_ALL["bm25_search"](spark, sf_dir).collect()}
    ql = {r["doc_id"] for r in registry._QUERIES_ALL["qlm_dirichlet_search"](spark, sf_dir).collect()}
    shared = len(bm & ql) > 0
    assert (row["rbo"] is not None and row["rbo"] > 0.0) == shared
    max_rbo = sum(
        (corpusops.RBO_P_NUM ** (d - 1)) * d / ((corpusops.RBO_P_DEN ** d) * d)
        for d in range(1, k + 1)
    )
    if row["rbo"] is not None:
        assert 0.0 <= row["rbo"] <= max_rbo + 1e-6


def test_adamic_adar_predicts_only_non_edges(spark, sf_dir):
    """AA invariants: every predicted pair is canonical (id_a < id_b)
    and NOT an existing edge (checked directly against the edge list);
    scores are positive and ordered; and the score is bounded above by
    common_neighbors / ln 2 (each neighbor contributes at most
    1/ln 2)."""
    import math

    rows = registry._QUERIES_ALL["adamic_adar_linkpred"](spark, sf_dir).collect()
    assert rows
    edges = {
        (r["id_a"], r["id_b"])
        for r in docops._copurchase_edges(spark, sf_dir).collect()
    }
    scores = [r["aa_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in edges
        assert r["common_neighbors"] >= 1
        assert 0.0 < r["aa_score"] <= r["common_neighbors"] / math.log(2.0) + 1e-6


def test_degree_distribution_audit_moments(spark, sf_dir):
    """The audit's moments must match a direct recount of the
    bidirectional degree table, and the CCDF slope of a heavy-ish
    tail is negative (CCDF decreases in degree by definition)."""
    row = registry._QUERIES_ALL["degree_distribution_audit"](spark, sf_dir).head()
    from pyspark.sql import functions as F

    edges = docops._copurchase_edges(spark, sf_dir)
    bidir = edges.selectExpr("id_a AS s", "id_b AS d").union(
        edges.selectExpr("id_b AS s", "id_a AS d")
    )
    deg = bidir.groupBy("s").count().collect()
    n = len(deg)
    assert row["n_nodes"] == n
    assert row["max_deg"] == max(r["count"] for r in deg)
    assert abs(row["mean_deg"] - sum(r["count"] for r in deg) / n) < 1e-5
    assert row["ccdf_slope"] < 0.0


def test_rrf_fusion_dominance_and_bounds(spark, sf_dir):
    """RRF invariants: scores bounded by 2/(K+1) (both ranks = 1);
    every fused doc appears in at least one source ranking (checked
    directly); a doc ranked in BOTH systems outscores any doc whose
    single rank is no better than both of its ranks; output ordered
    descending with no duplicate docs."""
    rows = registry._QUERIES_ALL["rrf_fusion_topk"](spark, sf_dir).collect()
    assert rows and len(rows) <= corpusops.RRF_TOPK
    bm = {r["doc_id"] for r in registry._QUERIES_ALL["bm25_search"](spark, sf_dir).collect()}
    ql = {r["doc_id"] for r in registry._QUERIES_ALL["qlm_dirichlet_search"](spark, sf_dir).collect()}
    cap = 2.0 / (corpusops.RRF_K + 1)
    seen = set()
    for r in rows:
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])
        assert r["doc_id"] in bm | ql
        assert 0.0 < r["rrf_score"] <= cap + 1e-9
        assert (r["bm25_rank"] is not None) or (r["qlm_rank"] is not None)
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_association_rules_measures_cohere(spark, sf_dir):
    """Rule-measure identities on exact integers: support ≤ confidence
    (c_ij/N ≤ c_ij/c_lhs since c_lhs ≤ N); confidence ≤ 1; lift =
    confidence/(c_rhs/N) recomputed from a direct count for the top
    rule; both directed versions of a pair qualify together (c_ij is
    symmetric, so lhs↔rhs appears when in the top-k window by count
    parity); ordering respects (lift, confidence)."""
    rows = registry._QUERIES_ALL["association_rules_lift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["c_ij"] >= corpusops.RULES_MIN_PAIR
        assert 0.0 < r["support"] <= r["confidence"] <= 1.0 + 1e-9
        assert r["lift"] > 0.0
    keys = [(r["lift"], r["confidence"]) for r in rows]
    assert keys == sorted(keys, reverse=True)
    top = rows[0]
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    n = items.select("ok").distinct().count()
    c_rhs = items.where(F.col("item") == top["rhs"]).count()
    expect_lift = top["confidence"] / (c_rhs / n)
    assert abs(top["lift"] - expect_lift) < 1e-3


def test_seasonal_decomposition_identities(spark, sf_dir):
    """Decomposition identities: exactly 7 day-of-week rows; the
    day-count-weighted seasonal components sum to ~0 (the detrended
    series has mean ≈ its DOW means' weighted mean by construction);
    seasonal strength is a proper variance share in [0, 1]; and every
    row reports the same strength scalar."""
    rows = registry._QUERIES_ALL["seasonal_decomposition_audit"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 7
    assert sorted(r["dow_idx"] for r in rows) == list(range(7))
    weighted = sum(r["seasonal_cents"] * r["n_days"] for r in rows)
    total = sum(r["n_days"] for r in rows)
    mean_rev = sum(abs(r["seasonal_cents"]) for r in rows) / 7 + 1.0
    assert abs(weighted / total) < mean_rev * 0.5 + 1e-3
    strengths = {r["seasonal_strength"] for r in rows}
    assert len(strengths) == 1
    s = next(iter(strengths))
    assert -1e-6 <= s <= 1.0 + 1e-6


def test_bcubed_scores_the_twin_structure(spark, sf_dir):
    """B³ sanity: scores are proper probabilities; the corpus count
    matches the dup-extended corpus; truth clusters = distinct
    pre-dup ids; and on this corpus the LSH clustering is GOOD (twins
    are identical texts, so recall must be high) but the score must
    not be trivially 1-vs-0 — F1 consistent with P and R."""
    row = registry._QUERIES_ALL["dedup_bcubed_eval"](spark, sf_dir).head()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    n_dup = docs.where((docs.doc_id % 7) == 0).count()
    assert row["n_docs"] == n + n_dup
    assert row["n_true_clusters"] == n
    for c in ("bcubed_precision", "bcubed_recall", "bcubed_f1"):
        assert 0.0 < row[c] <= 1.0, (c, row[c])
    assert row["bcubed_recall"] > 0.95  # identical twins must cluster
    p, r = row["bcubed_precision"], row["bcubed_recall"]
    assert abs(row["bcubed_f1"] - round(2 * p * r / (p + r), 6)) < 2e-6
