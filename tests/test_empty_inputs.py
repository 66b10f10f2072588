"""Degenerate-input contract (r12): every query whose driver-side
pre-pass needs at least one row must, on an EMPTY warehouse, either
MIRROR its oracle (empty result with the right columns, or a
constants row the engine produces anyway) or raise the NAMED
``EmptyInputError`` — never an accidental TypeError three frames from
the real cause.

The population was found by scripts/empty_input_sweep.py (44 raisers
of 321 at the r12 state); the guard lives at the registry boundary
(queries.registry._degenerate_guard) and costs nothing on the happy path.
"""

from __future__ import annotations

import pytest

from database_fragmentation_and_query_processor_spark.queries import (
    common,
    registry,
)
from scripts.empty_input_sweep import TABLES, make_empty_dir

from .oracle_harness import compare, duck_connection


@pytest.fixture(scope="module")
def empty_dir(spark):
    return make_empty_dir(spark)


@pytest.fixture(scope="module")
def empty_con(empty_dir):
    # Spark writes each table as a DIRECTORY of part files — glob them
    # (the sf fixtures are single files, so duck_connection can't be
    # reused verbatim)
    import duckdb

    c = duckdb.connect()
    for t in TABLES:
        c.sql(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '{empty_dir}/{t}.parquet/*.parquet'"
        )
    yield c
    c.close()


_MIRRORED = sorted(
    n for n, s in registry._DEGENERATE_EMPTY.items() if s is not None
)
_NAMED_ERROR = sorted(
    n for n, s in registry._DEGENERATE_EMPTY.items() if s is None
)
# hardened individually (oracle parity without the guard)
_PARITY_EXTRA = [
    "near_dup_audit",        # nullif'd recall/precision → NULL like x/0
    "qlm_dirichlet_search",  # `or 0` on the corpus-total scalar
    "kcenter_coreset",       # explicit NULL-pick degenerate rows
    "line_quality_filter",   # all-integer path, empty-safe throughout
    "crosslingual_dedup",    # empty means table → empty pair set
    # r12 additions, pinned in r13 (the 0-row parity was previously an
    # ad-hoc check noted in BASELINE.md; VERDICT r12 task 7)
    "crosslingual_mate_retrieval",  # empty blocks pass the cap guard → 0 rows
    "streaming_near_dup",           # zero-file AvailableNow drain → empty pairs
    "streaming_near_dup_compaction",  # compacting empty deltas → empty pairs
    # r14 additions
    "multimodal_real_resize",  # 0 lowest-ids → 0 generated payloads → 0 rows
    "multimodal_real_audio",   # same: row-local path over an empty id set
    # r14 second wave
    "multimodal_real_frames",   # row-local 1→k fan-out over an empty id set
    "sequence_packing_audit",   # empty-safe prefix sum → GROUP BY nothing
    "mcv_stats_audit",          # unpivot of zero rows → empty rank
    "sprt_ab_monitor",          # empty stream → no totals, no crossings
    "phrase_search_positional", # empty postings → empty join
    "frag_consistent_hash_ring",  # empty ratings → empty matrix
    "bitmap_index_intersection",  # empty postings → empty word join
    "neyman_allocation_audit",  # GROUP BY over nothing → empty strata
    "soft_dedup_weights",       # empty corpus → empty clusters
]


@pytest.mark.parametrize("name", _MIRRORED + _PARITY_EXTRA)
def test_empty_input_mirrors_oracle(name, spark, empty_dir, empty_con):
    df = registry._QUERIES_ALL[name](spark, empty_dir)
    ok, msg = compare(df, empty_con, registry._ORACLE_SQL_ALL[name], name)
    assert ok, msg


@pytest.mark.parametrize("name", _NAMED_ERROR)
def test_empty_input_raises_named_error(name, spark, empty_dir):
    with pytest.raises(common.EmptyInputError):
        df = registry._QUERIES_ALL[name](spark, empty_dir)
        df.collect()  # some pre-passes only trip at materialization


def test_preexisting_descriptive_raise_is_kept(spark, empty_dir):
    """approx_quantile_audit already refused empty input with a
    deliberate, descriptive ValueError before the r12 sweep; pin that
    it stays deliberate (any ValueError naming the empty column)."""
    with pytest.raises(ValueError, match="empty"):
        registry._QUERIES_ALL["approx_quantile_audit"](spark, empty_dir)


def test_guard_is_exception_path_only():
    """The guard must not add happy-path jobs: the wrapped callables
    delegate straight to the original builder (functools.wraps keeps
    the original inspectable for the plan-shape tests)."""
    import inspect

    for n in registry._DEGENERATE_EMPTY:
        fn = registry._QUERIES_ALL[n]
        assert fn.__wrapped__ is not None
        src = inspect.getsource(fn)  # follows __wrapped__
        assert "def q_" in src
