"""Semantic invariants + plan shapes for the round-9 operators
(bpe_merge_learning, line_quality_filter, url_domain_dedup).

Oracle equality (tests/test_oracle_queries.py) proves Spark == DuckDB;
these tests pin properties a SHARED bug could break silently — the
greedy-merge convention, the filter actually filtering, the dedup
actually deduplicating — plus the plan shapes the docstrings promise.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import (
    registry,
    tokenlearn,
)
from database_fragmentation_and_query_processor_spark.plans import (
    final_explain_formatted,
)


# ---------------------------------------------------------------------------
# bpe_merge_learning
# ---------------------------------------------------------------------------

def test_bpe_wrap_replace_is_greedy_left_to_right(spark):
    """The merge rule's correctness hinges on one property: literal
    non-overlapping replace over the sentinel-wrapped state equals
    BPE's greedy within-word merge. The classic failure is the shared
    separator on runs — 'a a a a' with merge (a,a) must become
    'aa aa', not 'aa a a'. Pin it for Python (documentation), Spark,
    and the wrap convention itself."""
    from database_fragmentation_and_query_processor_spark.queries.tokenlearn import (
        _bpe_wrap,
    )

    state = "".join(_bpe_wrap("a") for _ in range(4))  # " a  a  a  a "
    pat = _bpe_wrap("a") + _bpe_wrap("a")
    rep = _bpe_wrap("aa")
    assert state.replace(pat, rep) == _bpe_wrap("aa") + _bpe_wrap("aa")
    got = (
        spark.range(1)
        .select(F.replace(F.lit(state), F.lit(pat), F.lit(rep)).alias("s"))
        .head()["s"]
    )
    assert got == _bpe_wrap("aa") + _bpe_wrap("aa")


def test_bpe_merge_table_invariants(spark, sf_dir):
    rows = sorted(
        (r["step"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in registry._QUERIES_ALL["bpe_merge_learning"](spark, sf_dir)
        .collect()
    )
    assert [s for s, *_ in rows] == list(range(1, tokenlearn.BPE_MERGES + 1))
    for _step, a, b, merged, cnt in rows:
        assert merged == a + b
        assert cnt >= 1
        assert " " not in merged  # symbols never contain the sentinel
    # the learned table is deterministic: a second run reproduces it
    again = sorted(
        (r["step"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in registry._QUERIES_ALL["bpe_merge_learning"](spark, sf_dir)
        .collect()
    )
    assert rows == again


# ---------------------------------------------------------------------------
# line_quality_filter
# ---------------------------------------------------------------------------

def test_line_quality_filter_actually_filters(spark, sf_dir):
    """The cut must be NONTRIVIAL (some lines kept, some dropped — a
    threshold bug that keeps or drops everything passes oracle equality
    because both engines share it), and the per-doc accounting must be
    internally consistent."""
    df = registry._QUERIES_ALL["line_quality_filter"](spark, sf_dir).collect()
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    tot_lines = sum(r["n_lines"] for r in df)
    tot_kept = sum(r["n_kept"] for r in df)
    assert 0 < tot_kept < tot_lines
    for r in df:
        assert 0 <= r["n_kept"] <= r["n_lines"]
        assert r["kept_tokens"] <= tokenlearn.LINE_TOKENS * r["n_kept"]
        assert (r["rewrite_md5"] == empty_md5) == (r["n_kept"] == 0)
        if r["n_kept"] > 0:
            assert r["kept_tokens"] >= r["n_kept"]  # ≥1 token per line


def test_line_quality_filter_plan_reuses_line_explode(spark, sf_dir):
    """The line-exploded frame feeds both the scorer and the rewrite;
    it must be persisted (InMemoryTableScan in the final plan), not
    recomputed from a second corpus scan."""
    plan = final_explain_formatted(
        registry._QUERIES_ALL["line_quality_filter"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan  # no Python UDFs


# ---------------------------------------------------------------------------
# url_domain_dedup
# ---------------------------------------------------------------------------

def test_url_domain_dedup_accounting_and_nontriviality(spark, sf_dir):
    rows = registry._QUERIES_ALL["url_domain_dedup"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert any(r["n_dup_docs"] > 0 for r in rows)  # dedup is nontrivial
    for r in rows:
        assert r["n_dup_docs"] == r["n_docs"] - r["n_canonical_urls"] >= 0
        assert re.fullmatch(
            r"src\d+\.(com|co\.uk)", r["registrable_domain"]
        ), r["registrable_domain"]


def test_url_domain_dedup_canonicalization_collapses_variants(spark, sf_dir):
    """Spot-check the normalization algebra end to end: scheme/host
    case, www., default ports, trailing slash, utm params and
    fragments must all collapse; :8080 must survive."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, source="srcx", lang="en", text="t", n_chars=1)
            for i in (
                120,  # HTTP WWW. upper .com :80->strip /items/0/ utm #frag
                240,  # same equivalence class (%3,%7,%11,%9,%40 match)
                # via different raw decorations (no :80, no trailing /,
                # no fragment)
            )
        ]
    )
    from database_fragmentation_and_query_processor_spark.queries import common as cq

    real = cq._docs_impl
    try:
        cq._docs_impl = lambda s, d: docs
        out = {
            r["registrable_domain"]: r
            for r in registry._QUERIES_ALL["url_domain_dedup"](spark, sf_dir)
            .collect()
        }
    finally:
        cq._docs_impl = real
    r = out["srcx.com"]
    # 120 and 240 agree on every class the canonical depends on —
    # scheme (%3), tld (%7), kept port (%11), query presence (%9),
    # path (%40) — while differing in www./case/default-port/trailing-
    # slash/utm/fragment decorations; both canonicalize to
    # http://srcx.com/items/0?ref=en, so the dedup must collapse them
    assert r["n_docs"] == 2
    assert r["n_canonical_urls"] == 1
    assert r["n_dup_docs"] == 1


def test_url_domain_dedup_plan_is_map_side_then_two_aggs(spark, sf_dir):
    plan = final_explain_formatted(
        registry._QUERIES_ALL["url_domain_dedup"](spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
