"""Plan-shape assertions: the scale-design claims must be visible in
the physical plan, not just in docstrings.

- filters reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema)
- fragment queries over the partitioned warehouse prune partitions
  (PartitionFilters on fragment_id)
- dimension joins broadcast, never sort-merge
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark import api
from database_fragmentation_and_query_processor_spark.queries import registry
from database_fragmentation_and_query_processor_spark.plans import (
    broadcast_join_count,
    final_explain_formatted,
    partition_filters,
    pushed_filters,
    scan_read_schemas,
    sort_merge_join_count,
)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = registry.QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, "shipdate filter must reach the scan"
    schemas = scan_read_schemas(df)
    # 16-column lineitem pruned to the 7 referenced columns
    assert all(sch.count(":") <= 7 for sch in schemas), schemas


def test_q3_q5_aqe_broadcasts_no_sort_merge(spark, sf_dir):
    """Scale-variable sides (orders/customer/supplier) carry no
    broadcast hints — at 1000x the data they must shuffle. AQE's FINAL
    plan proves they still broadcast at runtime when actually small."""
    for name in ("q3_top_revenue_orders", "q5_region_nation_revenue"):
        df = registry.QUERIES[name](spark, sf_dir)
        plan = final_explain_formatted(df)
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "SortMergeJoin" not in plan, name


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = registry.QUERIES["q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    # only the 4 referenced lineitem columns reach the scan
    schemas = scan_read_schemas(df)
    assert all(sch.count(":") <= 4 for sch in schemas), schemas


def test_q19_disjunction_pushed_per_side(spark, sf_dir):
    """Catalyst must decompose the OR-of-conjuncts into per-side
    residuals pushed to BOTH scans (lineitem gets the quantity
    disjunction, part gets the brand/size disjunction)."""
    df = registry.QUERIES["q19_disjunctive_revenue"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed
    plan = final_explain_formatted(df)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_q3_dimension_filters_pushed(spark, sf_dir):
    df = registry.QUERIES["q3_top_revenue_orders"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed
    assert "o_orderdate" in pushed and "l_shipdate" in pushed


@pytest.mark.parametrize("source", ["api", "registry"])
def test_warehouse_point_query_partition_pruning(
    source, spark, sf_dir, ratings_file, warehouse
):
    """The reference's 1-of-n fragment touch (Interface1.py:323-331)
    must appear as a PartitionFilters entry, i.e. Catalyst skips the
    other fragment directories at file-listing time. The registry's
    frag_point_query (value 4.5) reads its fragmented warehouse the same
    way."""
    if source == "api":
        api.load_ratings(spark, "ratings", ratings_file, warehouse)
        api.range_partition(spark, "ratings", 5, warehouse)
        api.round_robin_partition(spark, "ratings", 5, warehouse)
        df = api.point_query(spark, 4.5, warehouse)
    else:
        df = registry.QUERIES["frag_point_query"](spark, sf_dir)
    parts = " ".join(partition_filters(df))
    assert "fragment_id = 4" in parts, parts
    # rating equality also pushed into the parquet scan
    assert any("rating" in p for p in pushed_filters(df))


def test_warehouse_range_query_partition_pruning(spark, ratings_file, warehouse):
    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    api.range_partition(spark, "ratings", 5, warehouse)
    df = api.range_query(spark, 1.5, 3.5, warehouse)
    parts = " ".join(partition_filters(df))
    assert "fragment_id >= 1" in parts and "fragment_id <= 3" in parts, parts


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, via the public job-group
    API (as scripts/profile_query.py counts them). The status store is
    filled asynchronously from the listener bus, so a one-task fence job
    in its own group runs after ``fn``; once the fence is visible, every
    earlier job event has been applied."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, fence = (f"plan-quality:{uuid.uuid4().hex}:{k}" for k in ("probe", "fence"))
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(fence, "job-count fence")
        sc.parallelize([0], 1).count()
        sc.setJobGroup(None, None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_warehouse_plan_build_starts_no_spark_job(spark, ratings_file, warehouse):
    """Fragments are read with the declared schema: building a point,
    range or key-lookup plan needs the catalog and a directory listing,
    never a footer-inference job."""
    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    api.range_partition(spark, "ratings", 5, warehouse)
    api.round_robin_partition(spark, "ratings", 5, warehouse)
    api.hash_partition(spark, "ratings", 5, warehouse)
    builds = {
        "point_query": lambda: api.point_query(spark, 4.5, warehouse),
        "range_query": lambda: api.range_query(spark, 1.5, 3.5, warehouse),
        "hash_key_lookup": lambda: api.hash_key_lookup(spark, 1, warehouse),
    }
    jobs = {name: _jobs_started(spark, build) for name, build in builds.items()}
    assert jobs == dict.fromkeys(builds, 0), jobs


def test_ratings_projection_starts_no_spark_job(spark, sf_dir):
    """The registry's ratings relation is a projection of lineitem:
    building it starts no job beyond reading lineitem."""
    from database_fragmentation_and_query_processor_spark.queries import common

    read = _jobs_started(spark, lambda: common._t(spark, sf_dir, "lineitem"))
    assert _jobs_started(spark, lambda: common._ratings(spark, sf_dir)) == read


def test_range_and_hash_partition_start_only_their_write(spark, ratings_file, warehouse):
    """Reading the base with its declared schema leaves the write as the
    one job of range and hash fragmentation."""
    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    jobs = {
        "range_partition": _jobs_started(
            spark, lambda: api.range_partition(spark, "ratings", 5, warehouse)
        ),
        "hash_partition": _jobs_started(
            spark, lambda: api.hash_partition(spark, "ratings", 5, warehouse)
        ),
    }
    assert jobs == {"range_partition": 1, "hash_partition": 1}, jobs


def test_round_robin_partition_counts_rows_in_its_numbering_pass(
    spark, ratings_file, warehouse
):
    """The cursor's row total comes from the numbering's min/max
    pre-pass, not a second scan: round-robin fragmentation starts the
    jobs of its numbering and write alone (7 at local[4]; a separate
    ``count()`` after the write added 2 more)."""
    from database_fragmentation_and_query_processor_spark.operators import fragmentation as frag
    from database_fragmentation_and_query_processor_spark.schema import RATINGS_SCHEMA

    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    base = spark.read.schema(RATINGS_SCHEMA).parquet(f"{warehouse}/ratings/base")

    def number_and_write():
        assigned, _ = frag.assign_round_robin_fragments(base, 5, ["userid", "movieid"])
        frag.write_fragmented(assigned, f"{warehouse}/numbered")

    parts = _jobs_started(spark, number_and_write)
    whole = _jobs_started(
        spark, lambda: api.round_robin_partition(spark, "ratings", 5, warehouse)
    )
    assert whole == parts, (whole, parts)


def test_routed_inserts_start_no_spark_job(spark, ratings_file, warehouse):
    """A routed insert is routed and written on the driver."""
    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    inserts = {}
    for scheme in ("range", "round_robin", "hash"):
        getattr(api, f"{scheme}_partition")(spark, "ratings", 5, warehouse)
        insert = getattr(api, f"{scheme}_insert")
        inserts[scheme] = _jobs_started(
            spark, lambda: insert(spark, "ratings", 100, 7, 3.0, warehouse)
        )
    assert inserts == dict.fromkeys(inserts, 0), inserts


def test_range_join_broadcasts(spark, sf_dir):
    df = registry.QUERIES["range_join_price_bands"](spark, sf_dir)
    plan_has_bnlj = "BroadcastNestedLoopJoin" in __import__(
        "database_fragmentation_and_query_processor_spark.plans.explain",
        fromlist=["explain_formatted"],
    ).explain_formatted(df)
    assert plan_has_bnlj or broadcast_join_count(df) >= 1
    assert sort_merge_join_count(df) == 0


def test_lsh_index_probe_partition_prunes(spark, sf_dir, tmp_path):
    """The materialized ANN index (write_lsh_index → partitionBy
    sig_prefix) must turn a Hamming-ball probe into file-listing-level
    partition pruning: PartitionFilters on sig_prefix, and the full
    signature test pushed to the pruned scan."""
    from database_fragmentation_and_query_processor_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    idx = str(tmp_path / "lsh_index")
    S.write_lsh_index(emb, idx, n_planes=16, dim=64)
    df = S.lsh_topk_indexed(spark, idx, qvec, k=10, n_planes=16,
                            probe_hamming=2, dim=64)
    parts = " ".join(partition_filters(df))
    assert "sig_prefix" in parts, parts
    # result-identical to the in-memory variant on the same corpus
    mem = S.lsh_topk(emb, qvec, k=10, n_planes=16, probe_hamming=2, dim=64)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, mem.collect()))


def test_round_robin_partition_path_has_no_python_rdd(spark, ratings_file, warehouse):
    """The bulk RR fragmentation path must stay JVM-side: numbering via
    stable_row_number (bucketed window), never a zipWithIndex Python
    round-trip. Asserted structurally: the assigned plan contains no
    RDD scan barrier (ExistingRDD / PythonEval nodes)."""
    from database_fragmentation_and_query_processor_spark.operators import fragmentation as frag

    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    df = spark.read.parquet(f"{warehouse}/ratings/base")
    assigned, _ = frag.assign_round_robin_fragments(
        df, 5, order_cols=["userid", "movieid"]
    )
    plan = assigned._jdf.queryExecution().analyzed().toString()
    assert "ExistingRDD" not in plan and "PythonUDF" not in plan, plan


def test_bloom_probe_prunes_before_join(spark, sf_dir):
    """The Bloom bitset filter must sit BELOW the semi join (map-side,
    pre-shuffle) and its probe must be an O(1) bit test (shiftleft /
    element_at), never an array scan."""
    df = registry.QUERIES["bloom_pruned_revenue"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "shiftleft" in plan, "bit-test probe missing from plan"
    assert "array_contains" not in plan, "probe degraded to an array scan"
    filter_pos = plan.find("shiftleft")
    join_pos = max(plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
    assert filter_pos > join_pos >= 0, "bloom filter must be below (after in explain text) the join"


def test_latest_event_per_user_no_window_sort(spark, sf_dir):
    """Top-1-per-group via MAX(struct): no Window operator, and the
    aggregate must combine map-side (partial_max BEFORE the exchange) —
    the shuffle then moves one row per (task, user), not the raw
    events. (Struct max plans as SortAggregate, not HashAggregate —
    the sort is over the already-combined partials, which is fine.)"""
    df = registry.QUERIES["latest_event_per_user"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "Window" not in plan
    assert "partial_max" in plan, "map-side combine missing"
    assert plan.find("partial_max") > plan.find("Exchange"), \
        "partial aggregate must sit below the shuffle"


def test_sequence_packing_no_single_task_window(spark, sf_dir):
    """The packing offsets come from the two-phase distributed prefix
    sum: the physical plan's Window must be partitioned by (group,
    bucket) — never a per-language-only (or global) window that would
    serialize a whole language in one task."""
    df = registry.QUERIES["sequence_packing"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "Window" in plan
    # the bucket column participates in the window partitioning
    assert "_bk" in plan, "bucketed window missing — global sort fallback?"


def test_paragraph_dedup_window_on_chunk_hash(spark, sf_dir):
    """The first-occurrence pick must be a window partitioned by the
    chunk hash (uniform high-cardinality key) — never a global sort,
    and the text column must not survive past the scan projection
    (only doc_id + derived chunks travel)."""
    df = registry.QUERIES["paragraph_dedup"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "Window" in plan
    assert "md5" in plan, "chunk-hash window partitioning missing"
    # a global row_number (empty partitionBy) would plan a single-
    # partition Exchange; the hash-partitioned form never does
    assert "SinglePartition" not in plan, "global window detected"


def test_pii_redaction_no_udf_single_agg(spark, sf_dir):
    """The scrub is pure JVM regex in one projection: no Python eval
    node, exactly one aggregation level (partial+final on source)."""
    df = registry.QUERIES["pii_redaction"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_doc_char_entropy_map_side_combine(spark, sf_dir):
    """Char counting must partially aggregate BEFORE the exchange —
    the shuffle carries (doc, char) partials, never raw exploded
    characters (at 100 TB that difference is the whole design)."""
    df = registry.QUERIES["doc_char_entropy"](spark, sf_dir)
    plan = final_explain_formatted(df)
    assert "partial_count" in plan, "map-side combine missing"
    assert plan.find("partial_count") > plan.find("Exchange"), \
        "partial aggregate must sit below the shuffle"


def test_salted_aggregate_two_phase(spark):
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        salted_aggregate,
    )

    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("v")
    )
    out = salted_aggregate(df, ["k"], {"sv": F.sum("v")}, n_salts=8)
    plan = final_explain_formatted(out)
    # two aggregation levels: (k, salt) partials then k merge — at least
    # 4 HashAggregate nodes (partial+final per level)
    assert plan.count("HashAggregate") >= 4, plan.count("HashAggregate")
