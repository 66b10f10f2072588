"""Round-7 fixes pinned by tests: the SNM bucket-key coarsening on
adversarial (short / multi-byte) keys, the wav_frame_rms hop>frame
edge, and the item_cooccurrence_topk scale contracts (no broadcast
hint on corpus-sized totals; fail-fast basket cap)."""

from __future__ import annotations

import inspect
import io
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import sequences
from database_fragmentation_and_query_processor_spark.multimodal import (
    binary_ops as B,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# snm_lead_expr: order-preserving coarsening on keys the fixture never hits
# ---------------------------------------------------------------------------

ADVERSARIAL_KEYS = [
    "",            # empty -> padded zero, before everything
    "a",           # 1 byte
    "aaaaaaa",     # 7 bytes of the smallest letter used
    "aaaaaaaz",    # shares the 7-byte prefix with the above (coarsens equal)
    "b",           # short key that must sort AFTER the longer 'aaaaaaa'
    "zzzzzzzz",    # 8 ASCII bytes
    "résumé",      # multi-byte UTF-8 inside the 7-byte slice
    "ré",          # short multi-byte
    "éééé",  # 8 UTF-8 bytes from 4 chars
    " leading space",
    "0123456",
    "01234567",
]


def test_snm_lead_is_order_preserving(spark):
    """key_i < key_j (Spark's byte-wise string order) must imply
    lead_i <= lead_j — the invariant that makes bucket order equal key
    order in the two-phase numbering. The round-6 coarsening broke it
    for short keys ('b' -> 98 sorted before 'aaaaaaa' ~ 2.7e16) and
    could overflow conv on multi-byte prefixes."""
    df = spark.createDataFrame(
        [(k,) for k in ADVERSARIAL_KEYS], ["snm_key"]
    ).select("snm_key", sequences.snm_lead_expr("snm_key").alias("lead"))
    rows = df.collect()
    by_key = sorted(rows, key=lambda r: r["snm_key"].encode("utf-8"))
    leads = [r["lead"] for r in by_key]
    assert leads == sorted(leads), [
        (r["snm_key"], r["lead"]) for r in by_key
    ]
    # 56-bit budget: no value may have overflowed conv's bigint
    assert all(0 <= r["lead"] < 2**56 for r in rows if r["snm_key"] != "")
    # shared 7-byte prefixes coarsen EQUAL (tie-break is the full key)
    got = {r["snm_key"]: r["lead"] for r in rows}
    assert got["aaaaaaa"] == got["aaaaaaaz"]
    assert got["0123456"] == got["01234567"]
    # the advice's exact counterexample, now ordered correctly
    assert got["aaaaaaa"] < got["b"]


def test_snm_query_uses_the_tested_expr():
    src = inspect.getsource(sequences.q_sorted_neighborhood_pairs)
    assert "snm_lead_expr" in src


# ---------------------------------------------------------------------------
# wav_frame_rms: hop > frame must not emit a zero-length trailing frame
# ---------------------------------------------------------------------------

def _tiny_wav(samples: np.ndarray, sr: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def test_wav_frame_rms_hop_gt_frame(spark):
    """n=10, frame=2, hop=5: valid starts are 0 and 5 only — the old
    count formula also emitted start=10, a zero-sample frame reported
    as rms 0.0."""
    x = np.arange(1, 11, dtype=np.int16) * 100  # 10 samples
    df = spark.createDataFrame(
        [(1, bytearray(_tiny_wav(x)))], ["media_id", "payload"]
    )
    got = (
        B.wav_frame_rms(df, frame=2, hop=5)
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["start_frame"] for r in got] == [0, 5]
    mono = x.astype(np.float64)
    want = [
        float(np.sqrt(np.mean(mono[0:2] ** 2))),
        float(np.sqrt(np.mean(mono[5:7] ** 2))),
    ]
    assert [r["rms"] for r in got] == pytest.approx(want)


def test_wav_frame_rms_defaults_unchanged(spark):
    """Default hop<frame path still emits ceil((n-frame)/hop)+1 frames
    with the final partial frame averaged over its real sample count."""
    x = (np.sin(np.arange(1000) / 7.0) * 9000).astype(np.int16)
    df = spark.createDataFrame(
        [(7, bytearray(_tiny_wav(x)))], ["media_id", "payload"]
    )
    got = (
        B.wav_frame_rms(df, frame=256, hop=128)
        .orderBy("frame_idx")
        .collect()
    )
    n_f = (1000 - 256 + 128 - 1) // 128 + 1
    assert len(got) == n_f
    mono = x.astype(np.float64)
    for r in got:
        s = r["start_frame"]
        seg = mono[s : s + 256]
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(seg**2))))


# ---------------------------------------------------------------------------
# item_cooccurrence_topk scale contracts
# ---------------------------------------------------------------------------

def test_cooc_totals_join_not_broadcast_hinted(spark):
    """Item cardinality is corpus-sized: the per-item totals join must
    carry NO hard broadcast hint (AQE may still choose broadcast at
    runtime from measured sizes — that is allowed and desirable)."""
    src = inspect.getsource(sequences.q_item_cooccurrence_topk)
    assert "F.broadcast" not in src
    analyzed = (
        sequences.q_item_cooccurrence_topk(spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_cooc_basket_cap_fails_fast(spark, tmp_path):
    """A pathological mega-basket (more distinct items than
    COOC_MAX_BASKET in one order) must raise BEFORE the quadratic pair
    join is launched."""
    n = sequences.COOC_MAX_BASKET + 1
    rows = [(1, pk) for pk in range(n)]
    spark.createDataFrame(rows, ["l_orderkey", "l_partkey"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    with pytest.raises(ValueError, match="COOC_MAX_BASKET"):
        sequences.q_item_cooccurrence_topk(spark, str(tmp_path))


# ---------------------------------------------------------------------------
# product quantization (similarity.pq_codebooks / pq_topk)
# ---------------------------------------------------------------------------

def test_pq_codebooks_shape_and_determinism(spark):
    from database_fragmentation_and_query_processor_spark.operators.similarity import (
        pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    b1 = pq_codebooks(emb, m=4, n_codes=8, dim=64)
    b2 = pq_codebooks(emb, m=4, n_codes=8, dim=64)
    assert b1 == b2  # fully deterministic (no RNG anywhere)
    assert len(b1) == 4 and all(len(book) == 8 for book in b1)
    assert all(len(c) == 16 for book in b1 for c in book)


def test_pq_topk_recall_against_bruteforce(spark):
    """PQ-ADC is lossy by design; with 4x16-dim subspaces and 8 codes
    the top-10 must still overlap the exact L2 top-10 substantially,
    and the encode scan must be join-free (one expression pass)."""
    from pyspark.sql import functions as F2

    from database_fragmentation_and_query_processor_spark.operators.similarity import (
        pq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F2.col("vec_id") == 0).select("embedding").head()[0]
    qv = [float(v) for v in q]
    got = pq_topk(emb, qv, k=10)
    rows = got.collect()
    assert len(rows) == 10
    # monotone distances, deterministic tie-break
    ds = [r["pq_dist"] for r in rows]
    assert ds == sorted(ds)
    # exact L2 top-10 for recall
    lit = F2.array(*[F2.lit(v) for v in qv])
    d2 = F2.aggregate(
        F2.zip_with(
            "embedding", lit, lambda a, b: (a.cast("double") - b) ** 2
        ),
        F2.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", d2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    # the query vector itself quantizes to its own cell — must be #1
    assert rows[0]["vec_id"] == 0
    # 8 codes x 4 subspaces is a deliberately tiny codebook over
    # near-random synthetic embeddings; recall@10 lands well above the
    # ~2% random-overlap floor but nowhere near IVF's
    overlap = len(set(exact) & {r["vec_id"] for r in rows})
    assert overlap >= 2, (overlap, exact, [r["vec_id"] for r in rows])
    # join-free scan: the ADC pass is pure expressions over one scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
