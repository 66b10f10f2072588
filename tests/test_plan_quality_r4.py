"""Plan-shape assertions for the round-4 operators: the scale claims
in their docstrings must be visible in the physical plan."""

from __future__ import annotations

from database_fragmentation_and_query_processor_spark.queries import registry
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _plan(spark, sf_dir, name):
    return final_explain_formatted(registry.QUERIES[name](spark, sf_dir))


def test_doc_split_assign_no_join_no_expand(spark, sf_dir):
    """The split decision is a map-side expression: no join anywhere,
    just the one (split, lang) aggregate exchange."""
    plan = _plan(spark, sf_dir, "doc_split_assign")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_oov_join_broadcasts(spark, sf_dir):
    """The top-K vocab is K rows — the coverage join must broadcast it,
    never sort-merge the token stream."""
    plan = _plan(spark, sf_dir, "vocab_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_join_broadcasts(spark, sf_dir):
    """The sketch is ≤ depth×width cells and the probe side is top-k —
    both joins in the estimate path must broadcast."""
    plan = _plan(spark, sf_dir, "cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gdpr_cascade_broadcasts_subjects(spark, sf_dir):
    """The subject set and the deleted-order key set are the only
    build sides — every cascade hop broadcasts them."""
    plan = _plan(spark, sf_dir, "gdpr_delete_audit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_session_overlap_equi_join_not_theta(spark, sf_dir):
    """Bucket blocking must surface as an equi-join on the bucket key —
    a bare interval predicate would appear as BroadcastNestedLoopJoin
    or CartesianProduct."""
    plan = _plan(spark, sf_dir, "session_overlap_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_leakage_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "split_leakage_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pair_join_on_cluster_key(spark, sf_dir):
    """The pairwise stage must join on list_id (within-cluster only) —
    never a corpus×corpus nested-loop."""
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_single_key_join(spark, sf_dir):
    """v1 vs v2 must meet in ONE full-outer join on the primary key."""
    plan = _plan(spark, sf_dir, "snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_offender_join_broadcasts(spark, sf_dir):
    """The df-filtered boilerplate set is tiny and explicitly
    broadcast back onto the chunk stream."""
    plan = _plan(spark, sf_dir, "boilerplate_chunk_removal")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_binaryfile_scan_is_binaryfile_source(spark, sf_dir):
    """The ingest query must actually read through the binaryFile
    format (not a parquet fallback)."""
    df = registry.QUERIES["binaryfile_ingest"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "binaryFile" in plan or "BinaryFile" in plan, plan[:500]
