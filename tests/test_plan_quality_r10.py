"""Round-10 plan-shape tripwires.

1. The r9 verdict's one weak item: ``intrinsic_dim_twonn`` used to
   re-derive its Σ|bucket|² LSH pair expansion inside the m2 branch —
   the dominant subtree ran twice per action (4 parquet scans of
   ``embeddings``, no reuse). The fix persists ``pairs`` across the two
   minima aggregations; this pins the shape so a refactor can't
   silently drop the cache.
"""

from __future__ import annotations

import inspect
import re

from database_fragmentation_and_query_processor_spark.queries import (
    registry,
    stats,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


def _distinct_parquet_scans(plan: str) -> set[str]:
    """Node ids of distinct parquet scans in a formatted plan.

    Formatted explain reprints a cached relation's plan once per
    ``InMemoryTableScan`` reference, so counting raw 'Scan parquet'
    occurrences over-counts — the node id disambiguates."""
    return set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))


def test_twonn_scans_embeddings_at_most_twice(spark, sf_dir):
    """The pair expansion is persisted and shared by the m1/m2 minima:
    the corpus is read exactly twice (the two sides of the LSH
    self-join), never four times, and both aggregation branches read
    the cached pairs back via InMemoryTableScan."""
    src = inspect.getsource(stats.q_intrinsic_dim_twonn)
    assert "_track_cached" in src and ".persist()" in src
    plan = final_explain_formatted(
        registry._QUERIES_ALL["intrinsic_dim_twonn"](spark, sf_dir)
    )
    assert len(_distinct_parquet_scans(plan)) <= 2, plan
    assert "InMemoryTableScan" in plan
    # the r7 shape pins still hold on the new plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
