"""Property-based tests (hypothesis) for the load-bearing semantics the
reference only exercises with a 20-row fixture: the fixed-domain range
bucket rule and its cross-layer consistency.

A note on float boundaries: the REFERENCE itself is inconsistent at
them — rangePartition walks accumulated upper bounds
(`minVal = upperBound`, Interface1.py:140) while rangeInsert recomputes
`interval` multiplicatively (Interface1.py:236), so for adversarial
(value, n) pairs its own two paths can route one row differently. This
engine uses ONE rule everywhere (ceil of the interval quotient, clamped
— operators/fragmentation.py); the properties below pin (a) agreement
with the exact rational rule away from float-collision boundaries,
(b) totality+monotonicity (⇒ completeness+disjointness), and (c) the
invariant that actually matters for data integrity: the Python routing
rule and the Spark partitioning expression agree EXACTLY, bit for bit.

The later sections pin the pure arithmetic inside other operators
against brute-force or external oracles, with no Spark session in the
hypothesis loop (the distributed paths are covered by
tests/test_exact_stats.py): skyline dominance, the EWMA closed form,
CMS bounds, the overlapping-window layout, percentile interpolation
and the audio-window checksum.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.multimodal.binary_ops import (
    _payload_window_checksums,
)
from database_fragmentation_and_query_processor_spark.operators.query import (
    range_owner_fragment,
)
from database_fragmentation_and_query_processor_spark.operators.stats import (
    interpolate_percentiles,
    percentile_ranks,
)


def _exact_rule(value: float, n: int, lo: float, hi: float) -> int:
    """The bucket rule in exact rational arithmetic (no float error)."""
    v = Fraction(value) - Fraction(lo)
    interval = (Fraction(hi) - Fraction(lo)) / n
    if v <= interval:
        return 0
    return min(max(math.ceil(v / interval) - 1, 0), n - 1)


@settings(max_examples=2000, deadline=None)
@given(
    value=st.floats(min_value=0.0, max_value=5.0, allow_nan=False),
    n=st.integers(min_value=1, max_value=50),
)
def test_owner_fragment_matches_exact_rational_rule(value, n):
    got = range_owner_fragment(value, n, 0.0, 5.0)
    exact = _exact_rule(value, n, 0.0, 5.0)
    assert 0 <= got < n
    if got != exact:
        # only permissible at a float-collision boundary: the quotient
        # sits within rounding distance of an integer, and the answers
        # straddle that single boundary
        q = (Fraction(value) * n) / 5
        dist = abs(q - round(q))
        assert abs(got - exact) == 1 and dist < Fraction(1, 10**9), (
            value, n, got, exact, float(dist),
        )


@settings(max_examples=1000, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=5.0, allow_nan=False),
        min_size=2, max_size=20,
    ),
    n=st.integers(min_value=1, max_value=20),
)
def test_owner_fragment_total_and_monotone(vals, n):
    """Totality + monotone non-decreasing ⇒ the fragmentation is
    complete and disjoint for ANY input, not just the 20-row fixture."""
    svals = sorted(vals)
    owners = [range_owner_fragment(v, n, 0.0, 5.0) for v in svals]
    assert all(0 <= o < n for o in owners)
    assert owners == sorted(owners)


def test_domain_endpoints_every_n(spark):
    """rating=0 → fragment 0 and rating=5 → fragment n-1 for all n
    (the reference's absorb rule, Interface1.py:129)."""
    for n in range(1, 33):
        assert range_owner_fragment(0.0, n, 0.0, 5.0) == 0
        assert range_owner_fragment(5.0, n, 0.0, 5.0) == n - 1


def test_bucket_expr_matches_python_rule(spark):
    """THE routing invariant: the Spark partitioning expression and the
    Python insert-routing rule agree exactly — same IEEE divide + ceil —
    on a dense boundary-heavy grid, for several fragment counts."""
    from database_fragmentation_and_query_processor_spark.operators.fragmentation import (
        range_fragment_expr,
    )

    vals = sorted(
        {round(i * 0.05, 2) for i in range(101)}
        | {i * 5.0 / n for n in (1, 2, 3, 5, 7, 13) for i in range(n + 1)}
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "rating double")
    for n in (1, 2, 3, 5, 7, 13):
        got = {
            r["rating"]: r["f"]
            for r in df.withColumn(
                "f", range_fragment_expr(F.col("rating"), n, 0.0, 5.0)
            ).collect()
        }
        for v in vals:
            assert got[v] == range_owner_fragment(v, n, 0.0, 5.0), (v, n)


# --- skyline: bucketed prefix-min == brute-force dominance ------------

def _brute_skyline(pts):
    """(p, d) pairs minimal under (<=, <=) with one strict."""
    best = {}
    for p, d in pts:
        if p not in best or d < best[p]:
            best[p] = d
    items = sorted(best.items())
    out = []
    run_min = None
    for p, d in items:
        if run_min is None or d < run_min:
            out.append((p, d))
            run_min = d if run_min is None else min(run_min, d)
    return sorted(out)


def _bucketed_skyline(pts, n_buckets=8):
    """The q_skyline_orders plan replayed exactly: per-price min,
    range buckets, exclusive cross-bucket prefix-min + within-bucket
    exclusive running min over price order."""
    best = {}
    for p, d in pts:
        if p not in best or d < best[p]:
            best[p] = d
    if not best:
        return []
    lo, hi = min(best), max(best)
    width = max((hi - lo) / n_buckets, 1e-9)
    bkt = lambda p: min(n_buckets - 1, int(math.floor((p - lo) / width)))  # noqa: E731
    bucket_min = {}
    for p, d in best.items():
        b = bkt(p)
        bucket_min[b] = min(bucket_min.get(b, d), d)
    prefix = {}
    running = None
    for b in range(n_buckets):
        prefix[b] = running
        if b in bucket_min:
            running = bucket_min[b] if running is None else min(running, bucket_min[b])
    out = []
    for b in range(n_buckets):
        local = None
        for p in sorted(pp for pp in best if bkt(pp) == b):
            d = best[p]
            cands = [x for x in (prefix[b], local) if x is not None]
            if not cands or min(cands) > d:
                out.append((p, d))
            local = d if local is None else min(local, d)
    return sorted(out)


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1000, allow_nan=False),
            st.integers(min_value=0, max_value=10_000),
        ),
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_bucketed_skyline_equals_bruteforce(pts):
    assert _bucketed_skyline(pts) == _brute_skyline(pts)


# --- EWMA: closed form == pandas ewm(adjust=True) ---------------------
# The operator implements the NORMALIZED weighted-mean EWMA (pandas
# ewm(alpha=1/2, adjust=True)) — weights 2^-(n-i) over the history —
# not the adjust=False recurrence, whose first element carries a
# different weight. pandas is the external oracle here.

@given(st.lists(st.floats(min_value=0, max_value=1000, allow_nan=False), min_size=1, max_size=60))
@settings(max_examples=100, deadline=None)
def test_ewma_closed_form_matches_pandas_adjust_true(xs):
    import pandas as pd

    expected = float(
        pd.Series(xs).ewm(alpha=0.5, adjust=True).mean().iloc[-1]
    )
    n = len(xs)
    num = sum(x * 2.0 ** -(n - i - 1) for i, x in enumerate(xs))
    den = sum(2.0 ** -(n - i - 1) for i in range(n))
    assert abs(num / den - expected) <= 1e-9 * max(1.0, abs(expected))


# --- CMS: estimate is an upper bound and exact for singletons ---------

def _cms(tokens, depth=4, width=16):
    import hashlib

    def bucket(j, t):
        h = hashlib.md5(f"cms{j}|{t}".encode()).hexdigest()[:13]
        return int(h, 16) % width

    cells = {}
    for t in tokens:
        for j in range(depth):
            k = (j, bucket(j, t))
            cells[k] = cells.get(k, 0) + 1

    def est(t):
        return min(cells.get((j, bucket(j, t)), 0) for j in range(depth))

    return est


@given(st.lists(st.sampled_from("abcdefghij"), min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_cms_estimate_upper_bounds_exact(tokens):
    est = _cms(tokens)
    from collections import Counter

    exact = Counter(tokens)
    for t, c in exact.items():
        assert est(t) >= c


# --- overlapping windows: coverage + overlap layout invariants --------

@given(st.integers(min_value=0, max_value=5000))
@settings(max_examples=300, deadline=None)
def test_overlap_window_layout(n):
    W, H = 64, 32
    n_w = (max(n - W, 0) + H - 1) // H + 1
    spans = [(i * H, min(i * H + W, n)) for i in range(n_w)]
    # full coverage of [0, n)
    covered = 0
    for s, e in spans:
        assert s <= covered, "gap in window coverage"
        covered = max(covered, e)
    assert covered == n or n == 0
    # every window starts at a hop multiple and only the tail truncates
    for i, (s, e) in enumerate(spans):
        assert s == i * H
        if i < n_w - 1 and n >= W:
            assert e - s == W or e == n


# --- percentile arithmetic == numpy's linear method -------------------


@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=200,
    ),
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=200, deadline=None)
def test_percentile_arithmetic_matches_numpy_linear(xs, ps):
    import numpy as np

    ordered = sorted(xs)
    n = len(ordered)
    hs, wanted = percentile_ranks(ps, n)
    assert all(0 <= r < n for r in wanted)
    got = interpolate_percentiles(hs, {r: ordered[r] for r in wanted})
    ref = np.percentile(np.array(ordered), [p * 100 for p in ps],
                        method="linear")
    for g, r in zip(got, ref):
        assert abs(g - float(r)) <= 1e-9 * max(1.0, abs(float(r))), (g, r)


@given(st.integers(min_value=1, max_value=10_000))
@settings(max_examples=200, deadline=None)
def test_percentile_ranks_endpoints_and_bounds(n):
    hs, wanted = percentile_ranks([0.0, 0.5, 1.0], n)
    assert hs[0] == 0.0 and hs[-1] == float(n - 1)
    assert min(wanted) == 0 and max(wanted) == n - 1


# --- audio-window checksum == per-byte spec ---------------------------


@given(
    st.binary(min_size=0, max_size=300),
    st.integers(min_value=1, max_value=96),
    st.integers(min_value=1, max_value=96),
)
@settings(max_examples=300, deadline=None)
def test_payload_window_checksums_match_byte_spec(raw, window_bytes, hop_bytes):
    """The vectorized prefix-sum form must equal the per-window
    per-byte spec Σ (abs_pos+1)·byte for EVERY overlapping window of
    the payload, including the padded tail-window (empty slice → 0)."""
    n = len(raw)
    n_w = (
        max((max(n - window_bytes, 0) + hop_bytes - 1) // hop_bytes, 0) + 1
    )
    got = _payload_window_checksums(raw, n_w, window_bytes, hop_bytes)
    assert len(got) == n_w
    for i in range(n_w):
        s = i * hop_bytes
        win = raw[s : s + window_bytes]
        spec = sum((s + j + 1) * b for j, b in enumerate(win))
        assert int(got[i]) == spec


def test_window_checksum_detects_offset_and_swap():
    """The position weighting must flip the sum for an offset error and
    for a swap of unequal bytes — the failure modes a plain byte-sum
    checksum is blind to."""
    win = bytes(range(1, 65))
    at_0 = int(_payload_window_checksums(win, 1, 64, 64)[0])
    # same byte content one absolute position later
    at_1 = int(_payload_window_checksums(b"\x00" + win, 2, 64, 1)[1])
    assert at_0 != at_1
    swapped = bytes([win[1], win[0]]) + win[2:]
    assert at_0 != int(_payload_window_checksums(swapped, 1, 64, 64)[0])
