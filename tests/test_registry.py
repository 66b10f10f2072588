"""The query registry: its order and oracle digests, the 1:1
queries↔oracles invariant, and the package's name resolution.

Only the first entries of ``QUERIES`` are replayed by
``scripts/driver_sim.py`` and ``scripts/round_checks.sh``, so dict
order is load-bearing.
"""

from __future__ import annotations

import builtins
import glob
import hashlib
import os
import symtable

from database_fragmentation_and_query_processor_spark import entry_queries
from database_fragmentation_and_query_processor_spark.queries import registry

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_fragmentation_and_query_processor_spark",
)

FRAG_PINNED = [
    "frag_range_counts",
    "frag_rr_counts",
    "frag_range_query",
    "frag_point_query",
    "frag_insert_routing",
]

#: module attributes every module has without binding them
_MODULE_ATTRS = {"__file__", "__name__", "__doc__", "__package__", "__spec__", "__path__"}


def _unresolved(path: str) -> set[str]:
    """Global names some scope of ``path`` reads or writes that are
    neither bound at module level (def, class, assignment, import) nor
    builtins."""
    with open(path) as fh:
        top = symtable.symtable(fh.read(), path, "exec")
    bound = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()}
    known = bound | set(dir(builtins)) | _MODULE_ATTRS
    missing = {s.get_name() for s in top.get_symbols() if s.is_referenced()} - known
    scopes = list(top.get_children())
    while scopes:
        scope = scopes.pop()
        scopes.extend(scope.get_children())
        missing |= {s.get_name() for s in scope.get_symbols() if s.is_global()} - known
    return missing


def test_every_global_name_resolves():
    """Each module binds, by a def, class, assignment or import, every
    global name it uses — what would otherwise surface only as a
    NameError when the query that uses the name runs."""
    unresolved = {
        os.path.relpath(p, PKG_DIR): names
        for p in glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)
        if (names := _unresolved(p))
    }
    assert unresolved == {}


def test_no_module_exceeds_six_thousand_lines():
    """No queries/ module grew past 6k lines."""
    sizes = {
        os.path.basename(p): sum(1 for _ in open(p))
        for p in glob.glob(os.path.join(PKG_DIR, "queries", "*.py"))
    }
    over = {n: s for n, s in sizes.items() if s > 6000}
    assert not over, over
    assert len(sizes) >= 11, sizes  # __init__ + common + 9 families + registry


def test_registry_surface_identical_through_facade():
    """entry_queries re-exports registry's two dicts: the same objects,
    every query name has an oracle, and a 50-name unique head."""
    assert entry_queries.QUERIES is registry.QUERIES
    assert entry_queries.ORACLE_SQL is registry.ORACLE_SQL
    assert set(registry.QUERIES) == set(registry.ORACLE_SQL)
    assert len(registry.QUERIES) == 336
    head = list(registry.QUERIES)[:50]
    assert head == registry._HEAD
    assert len(set(head)) == 50


def test_stamp_window_composition():
    """The registry's key order and every oracle string are pinned by
    digest, and the five reference fragmentation queries come first."""
    names = list(registry.QUERIES)
    assert names[:5] == FRAG_PINNED
    assert len(names) == len(set(names))
    assert hashlib.md5("\n".join(names).encode()).hexdigest() == (
        "dcbeb31539b44b8b7d7201d5d70cd46d"
    )
    oracles = repr(list(registry.ORACLE_SQL.items()))
    assert hashlib.md5(oracles.encode()).hexdigest() == (
        "081332eb5b8181ac0f55a766288e578c"
    )


def test_every_query_fn_resolves_shared_helpers(spark, sf_dir):
    """The delegate patch point: replacing common._t_impl reaches a
    query defined in a family module, because that module imports
    common's _t, which looks _t_impl up in common at call time."""
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark.queries import common as CQ
    from database_fragmentation_and_query_processor_spark.queries import families

    marker = {"calls": 0}
    real = CQ._t_impl

    def spy(spark_, sf_dir, name):
        marker["calls"] += 1
        return real(spark_, sf_dir, name)

    CQ._t_impl = spy
    try:
        families.q1_pricing_summary(spark, sf_dir).limit(1).collect()
    finally:
        CQ._t_impl = real
    assert marker["calls"] >= 1
    assert families._t is CQ._t
    assert families.F is F


def test_no_duplicate_query_names_across_modules():
    """Every registry name maps to exactly one callable builder."""
    names = list(registry.QUERIES)
    assert len(names) == len(set(names))
    for n, fn in registry.QUERIES.items():
        assert callable(fn), n


def test_every_query_has_an_oracle():
    assert set(registry.QUERIES) == set(registry.ORACLE_SQL), (
        set(registry.QUERIES) ^ set(registry.ORACLE_SQL)
    )


def test_oracles_are_plain_select_strings():
    for name, sql in registry.ORACLE_SQL.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
