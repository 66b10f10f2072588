"""Runs every queries()/oracle_sql() pair against DuckDB at sf0.001 —
the same comparison shape as the driver's correctness gate."""

from __future__ import annotations

import pytest

from database_fragmentation_and_query_processor_spark.queries import registry

from .oracle_harness import compare, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def test_registry_consistency():
    assert set(registry.ORACLE_SQL) <= set(registry.QUERIES)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    if name not in registry.ORACLE_SQL:
        df = registry.QUERIES[name](spark, sf_dir)
        assert df.count() >= 0  # rows-only check, like the driver
        return
    ok, msg = compare(registry.QUERIES[name](spark, sf_dir), con, registry.ORACLE_SQL[name], name)
    assert ok, msg
