"""Semantic invariants for the queries added mid-round-6 — properties
the DuckDB oracle equality cannot express (it would be wrong the same
way the query is wrong): estimator bounds, conservation laws, recall
contracts, and balance guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import (
    common,
    registry,
    sequences,
)


def test_kmv_estimates_are_probabilities_and_exact_when_small(spark, sf_dir):
    rows = registry.QUERIES["kmv_set_similarity"](spark, sf_dir).collect()
    assert rows, "no event-type pairs"
    for r in rows:
        assert 0.0 <= r["j_kmv"] <= 1.0
        assert 0.0 <= r["j_exact"] <= 1.0
        # when BOTH audiences fit inside one sketch the union sketch is
        # the union itself — the estimator must then be exact up to the
        # 1/K grid (each in_both value contributes exactly 1/K)
        if r["n_a"] <= sequences.KMV_K and r["n_b"] <= sequences.KMV_K:
            assert abs(r["j_kmv"] - r["j_exact"]) <= 1.0 / sequences.KMV_K + 1e-9


def test_cusum_peak_dominates_and_total_deviation_conserves(spark, sf_dir):
    """CUSUM's defining conservation law: the running sum of
    (count - mean) ends at exactly zero over the full horizon, and the
    reported peak is the max |cusum| over every prefix."""
    ev = common._events(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("event_time").alias("d")).agg(
        F.count("*").alias("c")
    )
    rows = daily.collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append((r["d"], r["c"]))
    peaks = {
        r["event_type"]: r
        for r in registry.QUERIES["cusum_changepoint"](spark, sf_dir).collect()
    }
    for et, series in by_type.items():
        series.sort()
        m = sum(c for _, c in series) / len(series)
        cus, best = 0.0, 0.0
        for _, c in series:
            cus += c - m
            best = max(best, abs(cus))
        assert abs(cus) < 1e-6, f"{et}: cusum must conserve to zero"
        assert abs(abs(peaks[et]["cusum_peak"]) - round(best, 6)) <= 1e-6


def test_sorted_neighborhood_finds_the_synthesized_duplicates(spark, sf_dir):
    """Every synthesized exact duplicate (identical text ⇒ identical
    sort key, adjacent ranks barring >W-sized identical-key runs) must
    be paired with Jaccard 1.0 — the recall contract of the W-window."""
    pairs = registry.QUERIES["sorted_neighborhood_pairs"](spark, sf_dir).collect()
    found = {
        tuple(sorted((r["id_a"], r["id_b"]))): r["jaccard"] for r in pairs
    }
    dup_ids = [
        r["doc_id"]
        for r in common._docs(spark, sf_dir)
        .where(F.col("doc_id") % 7 == 0)
        .select("doc_id")
        .collect()
    ]
    missing = [
        d
        for d in dup_ids
        if (d, d + common.DUP_SALT) not in found
    ]
    # identical keys sort adjacent; a miss is only legitimate when more
    # than W docs share the identical prefix — assert near-total recall
    assert len(missing) <= max(1, len(dup_ids) // 10), missing
    for d in dup_ids:
        j = found.get((d, d + common.DUP_SALT))
        if j is not None:
            assert j == 1.0


def test_hierarchy_root_subtree_is_the_whole_forest(spark, sf_dir):
    """Node 0 is every node's ancestor (u >> k -> 0), so its subtree
    row must equal the global totals exactly."""
    ev = common._events(spark, sf_dir)
    n_nodes = ev.select("user_id").distinct().count()
    tot = ev.agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("v"),
    ).head()
    rows = {
        r["node"]: r for r in registry.QUERIES["hierarchy_rollup"](spark, sf_dir).collect()
    }
    root = rows[0]
    assert root["subtree_nodes"] == n_nodes
    assert root["subtree_events"] == tot["n"]
    assert root["subtree_val_c"] == tot["v"]
    # under parent(u) = u div 2: node 1 is every node>=1's ancestor, so
    # subtree(0) = subtree(1) + the root itself, and node 1's children
    # 2 and 3 partition its subtree minus node 1
    assert root["subtree_nodes"] == rows[1]["subtree_nodes"] + 1
    if 2 in rows and 3 in rows:
        assert (
            rows[1]["subtree_nodes"]
            == rows[2]["subtree_nodes"] + rows[3]["subtree_nodes"] + 1
        )


def test_rfm_segments_census_conserves_users_and_quintiles_balance(spark, sf_dir):
    ev = common._events(spark, sf_dir)
    n_users = ev.select("user_id").distinct().count()
    seg = registry.QUERIES["rfm_segments"](spark, sf_dir).collect()
    assert sum(r["n_users"] for r in seg) == n_users
    # each dimension's quintiles are balanced to within one rank unit
    for dim in ("r_q", "f_q", "m_q"):
        per_q: dict[int, int] = {}
        for r in seg:
            per_q[r[dim]] = per_q.get(r[dim], 0) + r["n_users"]
        sizes = [per_q.get(i, 0) for i in range(sequences.RFM_Q)]
        assert max(sizes) - min(sizes) <= 1, (dim, sizes)


def test_covariance_corr_is_bounded(spark, sf_dir):
    rows = registry.QUERIES["embedding_covariance_topk"](spark, sf_dir).collect()
    assert len(rows) == sequences.COV_TOPK
    for r in rows:
        assert -1.0 - 1e-9 <= r["corr_x"] <= 1.0 + 1e-9
        assert r["i"] < r["j"]


def test_bm25_topk_is_ordered_and_conjunctive(spark, sf_dir):
    rows = registry.QUERIES["bm25_search"](spark, sf_dir).collect()
    assert rows, "no conjunctive matches"
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every returned doc really contains every query term
    docs = common._docs(spark, sf_dir)
    ids = [r["doc_id"] for r in rows]
    hit = docs.where(F.col("doc_id").isin(ids)).select("doc_id", "text").collect()
    for r in hit:
        toks = set(r["text"].split())
        for t in sequences.BM25_TERMS:
            assert t in toks, (r["doc_id"], t)


def test_referential_integrity_clean_on_consistent_fixture(spark, sf_dir):
    rows = registry.QUERIES["referential_integrity_audit"](spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_orphans"] == 0, r["fk_edge"]
        assert r["n_child"] > 0


def test_bitwise_aggregates_relate_to_row_ops(spark, sf_dir):
    """bit_and result must be a submask of bit_or; popcount sum is
    positive; the shifted sums relate by the shift factor."""
    rows = registry.QUERIES["bitwise_battery"](spark, sf_dir).collect()
    for r in rows:
        assert r["agg_and"] & r["agg_or"] == r["agg_and"]
        assert r["sum_bits"] > 0
        assert r["max_or"] >= 4096  # the OR'd constant bit must be set


def test_zipf_slope_is_negative_and_diversity_bounded(spark, sf_dir):
    z = registry.QUERIES["zipf_slope"](spark, sf_dir).head()
    assert z["n_terms"] > 0
    assert z["zipf_slope"] < 0  # frequency must fall with rank
    for r in registry.QUERIES["lexical_diversity"](spark, sf_dir).collect():
        assert 0.0 < r["type_token_ratio"] <= 1.0
        assert r["shannon_h"] >= 0.0
        assert 0.0 <= r["simpson"] <= 1.0
