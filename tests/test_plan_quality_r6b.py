"""Plan-shape assertions for the nine queries added mid-round-6: the
scale claims in their docstrings (no single-task windows, no cartesian
candidate generation, pruned scans, partial aggregation) must be
visible in the physical plans."""

from __future__ import annotations

from database_fragmentation_and_query_processor_spark.queries import registry
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _plan(spark, sf_dir, name: str) -> str:
    return final_explain_formatted(registry.QUERIES[name](spark, sf_dir))


def test_kmv_windows_are_keyed_and_pairing_is_not_cartesian(spark, sf_dir):
    """Every bottom-k window partitions on (event_type[, salt]) — the
    two-phase shape means no window ever sees one giant partition —
    and the type-pair join is never a CartesianProduct over data rows
    (the only nested-loop join allowed is the broadcast pairing of the
    tiny distinct-type lists)."""
    plan = _plan(spark, sf_dir, "kmv_set_similarity")
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_cusum_windows_partition_by_event_type(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cusum_changepoint")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_sorted_neighborhood_candidates_join_on_position(spark, sf_dir):
    """SNM candidate generation is the W-way explode joined back on
    position EQUALITY — an equi-join, never a nested-loop/theta join,
    and the numbering windows are bucket-partitioned."""
    plan = _plan(spark, sf_dir, "sorted_neighborhood_pairs")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the W-way candidate fan-out
    assert "explode" in plan


def test_bitwise_battery_partial_agg_and_pruned_scan(spark, sf_dir):
    """Map-side combine (partial + final HashAggregate) over a scan
    that reads only the four touched columns."""
    plan = _plan(spark, sf_dir, "bitwise_battery")
    assert plan.count("HashAggregate") >= 2
    for col in ("l_comment", "l_shipdate", "l_extendedprice"):
        assert col not in plan, col


def test_covariance_dim_joins_broadcast_no_cartesian(spark, sf_dir):
    """The per-dim variance-numerator joins broadcast (d rows) and the
    top-k is a TakeOrdered, not a global sort materialization."""
    plan = _plan(spark, sf_dir, "embedding_covariance_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_map_battery_scan_prunes_untouched_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "map_functions_battery")
    for col in ("l_comment", "l_shipdate", "l_orderkey"):
        assert col not in plan, col
    # the string min() drives a sort-based aggregate; either way the
    # partial+final two-phase shape must be present
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2


def test_struct_battery_single_keyed_aggregation_no_window(spark, sf_dir):
    """The argmax runs INSIDE the aggregate (struct max), so the plan
    has no window operator at all — one keyed aggregation."""
    plan = _plan(spark, sf_dir, "struct_order_battery")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_rfm_quintile_windows_are_bucketed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rfm_segments")
    assert "SinglePartition" not in plan


def test_hierarchy_rollup_is_explode_plus_one_agg_no_join(spark, sf_dir):
    """The ancestor closure is a column-expression explode — the plan
    must contain no join and no window, just Generate + aggregation."""
    plan = _plan(spark, sf_dir, "hierarchy_rollup")
    assert "Generate" in plan and "explode" in plan
    assert "Join" not in plan
    assert "Window" not in plan
