"""Fixture-drift tripwire: asserts the physical types the engine
assumes about the driver-generated testdata parquet.

Round 2 regenerated events.parquet with ``ts`` as timestamp[us] where
the previous generation stored TIMESTAMP(NANOS) — the streaming reader's
hardcoded nanos-BIGINT schema then silently read micros as nanos and
collapsed 30 days into ~2 hourly windows (wrong-but-running). The event
loaders are now schema-adaptive (entry_queries._events,
streaming/events.py:normalize_event_time), and this test pins the set of
encodings they adapt to: any future regeneration outside that set fails
HERE, loudly, instead of corrupting query output.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

#: column -> allowed pyarrow type names, per table. Only load-bearing
#: columns are pinned (the ones whose physical type the code branches
#: on or arithmetic depends on).
EXPECTED = {
    "events": {
        "event_id": {"int64"},
        # every encoding the adaptive loaders support
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<item: float>", "list<element: float>",
                      "list<item: double>", "list<element: double>"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_partkey": {"int64"},
        "l_quantity": {"double", "decimal128(12, 2)", "decimal128(15, 2)"},
        "l_extendedprice": {"double", "decimal128(12, 2)", "decimal128(15, 2)"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_totalprice": {"double", "decimal128(12, 2)", "decimal128(15, 2)"},
    },
    "customer": {
        "c_custkey": {"int64"},
    },
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_fixture_schema_pinned(sf_dir, table):
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    for col, allowed in EXPECTED[table].items():
        assert col in schema.names, f"{table}.{col} missing from fixture"
        actual = str(schema.field(col).type)
        assert actual in allowed, (
            f"fixture drift: {table}.{col} is {actual}, engine supports "
            f"{sorted(allowed)} — extend the adaptive loaders before "
            f"trusting query output"
        )


def test_dedup_ann_stack_assumptions(sf_dir):
    """The dedup/ANN operators additionally assume: no null doc text or
    embedding, a single fixed embedding dimensionality (the sig/dot
    kernels hardcode dim), and non-null join keys. Pin those here so a
    regen that introduces nulls or ragged vectors fails loudly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    assert docs["doc_id"].null_count == 0
    assert docs["text"].null_count == 0

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    assert emb["vec_id"].null_count == 0
    assert emb["embedding"].null_count == 0
    lens = pc.unique(pc.list_value_length(emb["embedding"].combine_chunks()))
    assert len(lens) == 1, f"ragged embedding dims: {lens.to_pylist()}"
