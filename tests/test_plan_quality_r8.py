"""Plan-shape assertions for the round-8 fixes: the overflow-safe
two-phase aggregation in the embedding-stats family, the single-pass
bloom probe, and weighted_median_exact's single lineitem scan must be
visible in the physical plans or the operator source — if a refactor
silently reverts any of them, these fail."""

from __future__ import annotations

import inspect

from database_fragmentation_and_query_processor_spark.queries import (
    registry,
    selection,
    sequences,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _plan(spark, sf_dir, name: str) -> str:
    return final_explain_formatted(registry._QUERIES_ALL[name](spark, sf_dir))


def test_embedding_dim_variance_two_phase_salted(spark, sf_dir):
    """The Σq² accumulation must group by the runtime-sized _salt key
    first (bigint inner sums on provably bounded buckets), then merge
    partials by dim — a bare groupBy(dim).agg(sum(q*q)) has a ~9.2M-row
    2^63 ceiling at EMB_Q_SCALE quantization."""
    plan = _plan(spark, sf_dir, "embedding_dim_variance")
    assert "_salt" in plan
    src = inspect.getsource(sequences.q_embedding_dim_variance)
    assert "exact_group_sums" in src


def test_embedding_covariance_two_phase_salted(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_covariance_topk")
    assert "_salt" in plan
    src = inspect.getsource(sequences.q_embedding_covariance_topk)
    # both the pair sums and the per-dim variance numerators route
    # through the overflow-safe helper
    assert src.count("exact_group_sums(") >= 2


def test_exact_sum_budget_headroom():
    """The documented budget: inner bigint partials stay below 2^61,
    leaving 4x headroom under the wrap plus the per-partition +-1
    balance slack of the monotonic-id salt."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        EXACT_SUM_BUDGET,
    )

    assert EXACT_SUM_BUDGET * 4 == 1 << 63


def test_weighted_median_single_lineitem_scan(spark, sf_dir):
    """tot derives from the already-collapsed (g, v) domain and vw is
    persisted across the prefix-sum passes — the returned plan reads
    lineitem at most once (the cached domain); a second parquet scan
    means the round-7 double-scan came back."""
    plan = _plan(spark, sf_dir, "weighted_median_exact")
    assert plan.count("lineitem") <= 1
    src = inspect.getsource(selection.q_weighted_median_exact)
    assert 'vw.groupBy("g")' in src  # tot from vw, not from li


def test_bloom_probe_is_single_pass(spark, sf_dir):
    """positions(fact) is built exactly once; hits and need come from
    ONE groupBy over the marked left join (conditional countDistinct),
    and the bounded bit set (≤ 2^14 rows by construction) is broadcast.
    The fact/dim key frames are persisted across their reuses."""
    src = inspect.getsource(selection.q_bloom_fp_rate_audit)
    assert src.count("positions(fact)") == 1
    assert "countDistinct" in src and "F.when" in src
    plan = _plan(spark, sf_dir, "bloom_fp_rate_audit")
    assert "CartesianProduct" not in plan
