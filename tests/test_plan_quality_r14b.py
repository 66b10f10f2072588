"""Round-14 second-wave plan-shape tripwires.

What each pin protects at 100 TB:

- ``ann_sq8_topk``: the SQ8 probe is ONE pruned scan + expression
  decode + TakeOrderedAndProject — no join, no hash shuffle, no
  single-partition gather of the corpus. A regression that introduces
  a join (e.g. computing min/max as a joined frame instead of literal
  metadata) turns a scan into a shuffle.
- ``mcv_stats_audit``: the per-column totals ride a BROADCAST join
  (K rows), never a shuffle join; the rank-filter is pushed into
  WindowGroupLimit (Spark's top-k-per-window pruning), so salt-bucket
  partitions never materialize full rankings; per-(column, value)
  counting keeps a partial (map-side) aggregate.
- ``sequence_packing_audit``: the prefix sums keep map-side partial
  aggregation and never collapse to a single-partition window (the
  whole point of the bucketed two-phase prefix sum).
- ``sprt_ab_monitor``: first-crossing ⋈ totals is a broadcast join on
  the 5-row event-type domain; no single-partition window anywhere.
- ``multimodal_real_frames``: generate → split → decode is Arrow
  ``MapInPandas`` with NO shuffle after the id selection.
"""

from __future__ import annotations

from database_fragmentation_and_query_processor_spark.queries import registry
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _plan(spark, sf_dir, name):
    return final_explain_formatted(registry._QUERIES_ALL[name](spark, sf_dir))


def test_sq8_probe_is_scan_plus_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_sq8_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan  # min/max is literal metadata, never a join
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_mcv_topk_stays_decomposed_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mcv_stats_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan  # rank<=k pruned inside the window
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_sequence_packing_never_single_partition(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sequence_packing_audit")
    assert "partial_sum" in plan  # map-side combine on the rollup
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_sprt_joins_broadcast_on_the_type_domain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sprt_ab_monitor")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_real_frames_is_arrow_local_after_selection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_real_frames")
    assert "MapInPandas" in plan
    assert "TakeOrderedAndProject" in plan  # the bounded id selection
    assert "Join" not in plan
    # the only exchange is widen()'s explicit input repartition — the
    # plan itself never demands a shuffle (no ENSURE_REQUIREMENTS)
    assert "ENSURE_REQUIREMENTS" not in plan
