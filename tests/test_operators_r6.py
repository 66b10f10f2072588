"""Invariant tests for the round-6 additions (sequence modeling,
winnowing span matches, embedding diagnostics, domain soft cap) —
the semantic guarantees the DuckDB hash-compare can't express."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import (
    common,
    curation,
    sequences,
)
from database_fragmentation_and_query_processor_spark.functions import text as T


def test_transition_matrix_rows_normalize(spark, sf_dir):
    """Per-src probabilities sum to ~1 and transition counts total to
    (events - users-with-events): each user's chain of m events emits
    m-1 transitions."""
    out = sequences.q_event_transition_matrix(spark, sf_dir)
    rows = out.collect()
    by_src: dict[str, float] = {}
    total_n = 0
    for r in rows:
        by_src[r["src"]] = by_src.get(r["src"], 0.0) + r["prob"]
        total_n += r["n"]
        assert 0.0 < r["prob"] <= 1.0
    for src, s in by_src.items():
        assert math.isclose(s, 1.0, abs_tol=1e-4), (src, s)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total_n == n_events - n_users


def test_user_path_topk_shape(spark, sf_dir):
    out = sequences.q_user_path_topk(spark, sf_dir).collect()
    assert 0 < len(out) <= sequences.PATH_TOPK
    counts = [r["n_users"] for r in out]
    assert counts == sorted(counts, reverse=True)
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert sum(counts) <= n_users
    for r in out:
        # head truncation bounds the path key width
        assert 1 <= len(r["path"].split(">")) <= sequences.PATH_MAX_EVENTS


def test_winnowing_finds_synthesized_duplicates(spark, sf_dir):
    """Exact duplicates share ALL fingerprints, so every synthesized
    (doc_id, doc_id+DUP_SALT) pair whose doc retains at least
    WINNOW_MIN_SHARED sub-cap fingerprints must be matched. Also pins
    pair canonicalization (doc_a < doc_b, no self-pairs)."""
    rows = sequences.q_winnowing_span_matches(spark, sf_dir).collect()
    assert rows, "no span matches found on the duplicated corpus"
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["shared_fps"] >= sequences.WINNOW_MIN_SHARED
    dup_pairs = {p for p in pairs if p[1] - p[0] == common.DUP_SALT}
    assert dup_pairs, "no synthesized exact-dup pair was recovered"


def test_winnowing_density_bound(spark, sf_dir):
    """The winnowing guarantee: a doc with g k-gram hashes keeps at
    most g - w + 1 window minima (and far fewer after dedup) — the
    fingerprint explosion stays sub-linear in document length."""
    docs = common._docs(spark, sf_dir)
    grams = curation._word_grams(T.tokens(F.col("text")), sequences.WINNOW_K)
    hashes = F.transform(grams, lambda g: T.token_hash(g))
    m = F.size(hashes)
    fps = F.when(m <= 0, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(m - sequences.WINNOW_W + 1, F.lit(1))),
                lambda i: F.array_min(F.slice(hashes, i, sequences.WINNOW_W)),
            )
        )
    )
    bad = docs.select(
        m.alias("g"), F.size(fps).alias("kept")
    ).where(
        (F.col("g") > 0)
        & (F.col("kept") > F.greatest(F.col("g") - sequences.WINNOW_W + 1, F.lit(1)))
    ).count()
    assert bad == 0


def test_domain_soft_cap_ledger(spark, sf_dir):
    rows = sequences.q_domain_soft_cap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expected_cap = math.ceil(sequences.SOFTCAP_K * math.sqrt(r["n_docs"]))
        assert r["cap"] == expected_cap
        assert r["n_kept"] == min(r["cap"], r["n_docs"])
        assert r["n_dropped"] == r["n_docs"] - r["n_kept"]


def test_embedding_dim_variance_shape(spark, sf_dir):
    rows = sequences.q_embedding_dim_variance(spark, sf_dir).collect()
    assert len(rows) == sequences.DIMVAR_TOPK
    vars_ = [r["var_x"] for r in rows]
    # ordering is by the exact integer numerator; the rounded doubles
    # must still be non-increasing up to rounding slack
    for a, b in zip(vars_, vars_[1:]):
        assert a >= b - 1e-6
    for r in rows:
        assert 0.0 <= r["var_share"] <= 1.0
        assert r["n"] > 0
