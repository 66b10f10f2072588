"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the reference's pruned range query
re-expressed over the synthetic tables) at sf0.001.
``queries()`` / ``oracle_sql()`` — the full correctness surface, one
entry per implemented operator family from SURVEY.md §2 (+ the [EXT]
training-data-pipeline operators). Pairs live in
``database_fragmentation_and_query_processor_spark.entry_queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from database_fragmentation_and_query_processor_spark import entry_queries as _EQ


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dual-scheme pruned range query (reference semantics,
    Interface1.py:261-308) over sf0.001, read through ``api.range_query``
    from the lineitem-derived ratings relation fragmented once (range
    side pruned to the fragments the range touches)."""
    return _EQ.q_frag_range_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_EQ.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_EQ.ORACLE_SQL)
