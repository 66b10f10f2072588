"""Registry-wide DuckDB oracle output-type tripwire.

The r12 verdict traced a three-round driver red (line_quality_filter,
r10-r12) to an ORACLE typing bug: an un-cast ``SUM(CASE WHEN ...)``
comes back HUGEINT from DuckDB, which pandas materializes as float64,
so the driver's typed value hash can never match Spark's bigint — while
the local harness's untyped ``4 == 4.0`` compare stayed green.

This makes the judge's one-shot scan permanent: run every ORACLE_SQL
through DuckDB at the test SF and fail on any HUGEINT/UHUGEINT output
column.  Pure DuckDB — no SparkSession — so the whole registry sweeps
in seconds.
"""

from __future__ import annotations

import pytest

from database_fragmentation_and_query_processor_spark.queries import registry

from .oracle_harness import duck_connection

# DuckDB types that pandas cannot hold losslessly as int64 and silently
# widens to float64/object — any oracle emitting one will hash-mismatch
# against a Spark integer column in the driver's typed compare.
_BANNED = {"HUGEINT", "UHUGEINT", "UBIGINT"}

# Parameterized families banned by prefix: DECIMAL(p,s) materializes as
# Python Decimal objects (object dtype) through some pandas paths and as
# float64 through .df() — either way the type-tagged canonicalizer tags
# it differently from a Spark double/decimal column, a drift the exact
# name-match above would never catch (r13 ADVICE).
_BANNED_PREFIXES = ("DECIMAL",)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(registry.ORACLE_SQL))
def test_oracle_output_types_pandas_safe(name, con):
    rel = con.sql(registry.ORACLE_SQL[name])
    bad = [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if str(typ).upper() in _BANNED
        or str(typ).upper().startswith(_BANNED_PREFIXES)
    ]
    assert not bad, (
        f"{name}: oracle emits pandas-unsafe integer type(s) {bad}; "
        f"add CAST(... AS BIGINT) so the driver's typed hash can match"
    )


def test_line_quality_filter_regression_pin(con):
    """The exact r10-r12 offender: n_kept / kept_tokens must be BIGINT."""
    rel = con.sql(registry.ORACLE_SQL["line_quality_filter"])
    types = dict(zip(rel.columns, (str(t).upper() for t in rel.types)))
    assert types["n_kept"] == "BIGINT", types
    assert types["kept_tokens"] == "BIGINT", types
