"""Round-14 second-wave unit pins (beyond the registry's automatic
oracle parametrization in test_oracle_queries.py):

- the concatenated-P6 stream splitter round-trips and fails loudly on
  misaligned/truncated payloads (the real-frames carve contract);
- sample_frames_real's uniform temporal rule always includes the first
  and last source frames and handles payloads shorter than k;
- SQ8 quantization error is bounded by half a level per dimension (the
  contract that makes the decoded-code cosine a usable ANN score);
- mcv_stats_audit's decomposed (salted two-phase) top-k equals the
  direct single-window ranking — exactness of the decomposition;
- sequence_packing_audit's per-shard identities hold
  (blocks·C = tokens + tail pad; crossing count bounded by docs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.multimodal.codecs import (
    decode_image_rgb,
    encode_ppm,
    split_ppm_stream,
)
from database_fragmentation_and_query_processor_spark.queries import (
    corpusops,
    curation,
    registry,
    stats,
)


def _frames(n, w=6, h=4, seed=0):
    import numpy as np

    return [
        np.fromfunction(
            lambda y, x, c: (seed + f * 17 + y * 11 + x * 5 + c * 3) % 256,
            (h, w, 3),
            dtype=np.int64,
        ).astype("uint8")
        for f in range(n)
    ]


def test_split_ppm_stream_roundtrip():
    import numpy as np

    frames = _frames(5, seed=9)
    stream = b"".join(encode_ppm(a) for a in frames)
    parts = split_ppm_stream(stream)
    assert len(parts) == 5
    for part, arr in zip(parts, frames):
        assert np.array_equal(decode_image_rgb(part), arr)


def test_split_ppm_stream_rejects_bad_boundaries():
    frames = _frames(2)
    stream = b"".join(encode_ppm(a) for a in frames)
    with pytest.raises(ValueError, match="not a P6 magic"):
        split_ppm_stream(stream + b"JUNK")
    with pytest.raises(ValueError, match="truncated frame"):
        split_ppm_stream(stream[:-1])


def test_sample_frames_real_uniform_rule(spark):
    from database_fragmentation_and_query_processor_spark.multimodal.binary_ops import (
        sample_frames_real,
    )

    # 5-frame payload sampled at k=3 -> sources 0, 2, 4; a 2-frame
    # payload (shorter than k) emits one slot per frame
    media = spark.createDataFrame(
        [
            (1, b"".join(encode_ppm(a) for a in _frames(5, seed=1))),
            (2, b"".join(encode_ppm(a) for a in _frames(2, seed=2))),
        ],
        "media_id long, payload binary",
    )
    rows = sorted(
        (r["media_id"], r["slot"], r["src_frame"])
        for r in sample_frames_real(media, k=3).collect()
    )
    assert rows == [(1, 0, 0), (1, 1, 2), (1, 2, 4), (2, 0, 0), (2, 1, 1)]


def test_sq8_error_bounded_by_half_level(spark, sf_dir):
    """Decoded SQ8 values differ from the originals by at most half a
    quantization step per dimension: |v − decode(code(v))| ≤ span/2."""
    from database_fragmentation_and_query_processor_spark.queries.common import (
        _emb,
        _sq8_minmax,
    )

    mins, maxs = _sq8_minmax(spark, sf_dir)
    spans = [(mx - mn) / 255.0 for mn, mx in zip(mins, maxs)]
    mins_arr = F.array(*[F.lit(float(m)) for m in mins])
    spans_arr = F.array(*[F.lit(float(s)) for s in spans])
    diff = F.zip_with(
        F.col("embedding").cast("array<double>"), mins_arr, lambda v, m: v - m
    )
    codes = F.zip_with(
        diff,
        spans_arr,
        lambda d, s: F.when(s == F.lit(0.0), F.lit(0.0)).otherwise(
            F.floor(d / s + F.lit(0.5)).cast("double")
        ),
    )
    vhat = F.zip_with(
        F.zip_with(codes, spans_arr, lambda c, s: c * s),
        mins_arr,
        lambda x, m: x + m,
    )
    err = F.zip_with(
        F.col("embedding").cast("array<double>"),
        vhat,
        lambda v, d: F.abs(v - d),
    )
    # tolerance: half a span plus float headroom
    half = max(spans) / 2.0 + 1e-9
    bad = (
        _emb(spark, sf_dir)
        .select(
            F.aggregate(
                err, F.lit(0.0), lambda acc, x: F.greatest(acc, x)
            ).alias("worst")
        )
        .where(F.col("worst") > half)
        .count()
    )
    assert bad == 0


def test_mcv_decomposed_topk_matches_direct_window(spark, sf_dir):
    """The salted two-phase top-k must be EXACTLY the direct per-column
    ranking (top-k under a total order is bucket-decomposable)."""
    from pyspark.sql import Window

    audited = sorted(
        tuple(r)
        for r in registry._QUERIES_ALL["mcv_stats_audit"](spark, sf_dir).collect()
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = ", ".join(
        f"'{c}', CAST({e} AS STRING)"
        for c, e in [
            ("l_returnflag", "l_returnflag"),
            ("l_linestatus", "l_linestatus"),
            ("l_shipdate", "CAST(l_shipdate AS DATE)"),
            ("l_suppkey", "l_suppkey"),
            ("l_partkey", "l_partkey"),
        ]
    )
    per_val = (
        li.select(F.expr(f"stack(5, {pairs}) AS (column_name, val)"))
        .where(F.col("val").isNotNull())
        .groupBy("column_name", "val")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = per_val.groupBy("column_name").agg(
        F.sum("c").cast("bigint").alias("n_rows")
    )
    w = Window.partitionBy("column_name").orderBy(F.desc("c"), F.asc("val"))
    from database_fragmentation_and_query_processor_spark.functions.lattice import flr

    direct = sorted(
        tuple(r)
        for r in per_val.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= curation.MCV_K)
        .join(F.broadcast(tot), "column_name")
        .select(
            "column_name",
            "rk",
            F.col("val").alias("value"),
            F.col("c").alias("n_occurrences"),
            flr(F.col("c").cast("double") / F.col("n_rows").cast("double"), 6).alias(
                "share"
            ),
        )
        .collect()
    )
    assert audited == direct


def test_sequence_packing_audit_identities(spark, sf_dir):
    rows = registry._QUERIES_ALL["sequence_packing_audit"](spark, sf_dir).collect()
    assert rows, "fixture corpus has sources"
    C = corpusops.SEQ_PACK_LEN
    for r in rows:
        assert r["n_blocks"] * C == r["total_tokens"] + r["tail_pad_tokens"]
        assert 0 <= r["tail_pad_tokens"] < C
        assert 0 <= r["crossing_docs"] <= r["n_docs"]
        # contiguous layout: at most one document straddles any given
        # block boundary, so crossings never exceed boundary count
        assert r["crossing_docs"] <= max(r["n_blocks"] - 1, 0)


def test_consistent_hash_moves_only_to_added_node(spark, sf_dir):
    """The consistent-hashing contract: scaling 5 → 6 nodes moves keys
    ONLY onto the added node (old ≠ new ⇒ new = 5), and the moved
    share stays near 1/6 — the minimality that makes ring hashing the
    elastic scheme (mod-N would remap ~5/6 of all keys)."""
    rows = registry._QUERIES_ALL["frag_consistent_hash_ring"](spark, sf_dir).collect()
    moved = [r for r in rows if r["old_node"] != r["new_node"]]
    assert moved, "a 6th node must claim some ring ranges"
    assert all(r["new_node"] == 5 for r in moved)
    total = sum(r["cnt"] for r in rows)
    moved_n = sum(r["cnt"] for r in moved)
    assert moved_n / total < 2 / 6  # ≈1/6 expected; generous noise bound


def test_phrase_counts_bounded_by_proximity(spark, sf_dir):
    """An adjacent pair is also a within-window pair, so n_phrase ≤
    n_near on every row, and any phrase hit pins a first position."""
    rows = registry._QUERIES_ALL["phrase_search_positional"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_phrase"] <= r["n_near"]
        assert (r["first_phrase_pos"] is not None) == (r["n_phrase"] > 0)


def test_neyman_allocation_spends_the_budget(spark, sf_dir):
    """Rounded per-stratum allocations sum to the budget within the
    half-up rounding slack, and a stratum with higher N·S than another
    never receives fewer Neyman draws."""
    rows = registry._QUERIES_ALL["neyman_allocation_audit"](spark, sf_dir).collect()
    assert rows
    total = sum(r["neyman_n"] for r in rows)
    assert abs(total - stats.NEYMAN_BUDGET) <= len(rows) / 2 + 1
    ranked = sorted(rows, key=lambda r: r["n_docs"] * r["std_chars"])
    alloc = [r["neyman_n"] for r in ranked]
    assert all(a <= b + 1 for a, b in zip(alloc, alloc[1:]))  # monotone ± rounding


def test_soft_dedup_weights_identities(spark, sf_dir):
    rows = registry._QUERIES_ALL["soft_dedup_weights"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["effective_docs"] <= r["n_docs"] + 1e-6
        assert 0.0 < r["effective_retention"] <= 1.0 + 1e-9
        if r["n_dup_docs"] == 0:
            assert abs(r["effective_docs"] - r["n_docs"]) < 1e-6
    # the synthesized twins (doc_id % 7) guarantee dilution somewhere
    assert any(r["n_dup_docs"] > 0 for r in rows)
