"""Property test for the shared 3×3 Cramer solver used by the
Newton-logistic operator: against an independent Gaussian-elimination
reference on random symmetric positive-definite systems, the solution
must match to numerical tolerance (the algebra, not the float
ordering, is what this pins — a transposed-cofactor typo would pass
the oracle because both engines share the same formula text)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from database_fragmentation_and_query_processor_spark.queries.selection import (
    _cramer3,
)


def _gauss_solve(a, g):
    """Plain partial-pivot Gaussian elimination, independent of the
    Cramer formulas."""
    m = [row[:] + [gi] for row, gi in zip(a, g)]
    n = 3
    for col in range(n):
        piv = max(range(col, n), key=lambda r: abs(m[r][col]))
        m[col], m[piv] = m[piv], m[col]
        for r in range(col + 1, n):
            f = m[r][col] / m[col][col]
            for c in range(col, n + 1):
                m[r][c] -= f * m[col][c]
    x = [0.0] * n
    for r in reversed(range(n)):
        x[r] = (m[r][n] - sum(m[r][c] * x[c] for c in range(r + 1, n))) / m[
            r
        ][r]
    return x


fin = st.floats(min_value=-3.0, max_value=3.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(st.lists(fin, min_size=9, max_size=9), st.lists(fin, min_size=3, max_size=3))
def test_cramer_matches_gaussian_elimination(vals, g):
    # build SPD A = B·Bᵀ + I so both solvers are well-conditioned
    b = [vals[0:3], vals[3:6], vals[6:9]]
    a = [
        [
            sum(b[i][k] * b[j][k] for k in range(3)) + (1.0 if i == j else 0.0)
            for j in range(3)
        ]
        for i in range(3)
    ]
    got = _cramer3(
        a[0][0], a[0][1], a[0][2], a[1][1], a[1][2], a[2][2],
        g[0], g[1], g[2],
    )
    want = _gauss_solve(a, g)
    for gv, wv in zip(got, want):
        assert abs(gv - wv) <= 1e-8 * max(1.0, abs(wv))
