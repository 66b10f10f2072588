"""Cross-engine-deterministic rounding lattice.

``round(double, k)`` for k >= 1 is NOT portable between Spark and an
exact-decimal engine: Spark's ``Round`` on DoubleType goes through the
double's SHORTEST DECIMAL REPR (``BigDecimal.valueOf`` =
``Double.toString``) and applies HALF_UP to that string, while DuckDB
rounds the EXACT BINARY value. A value whose true decimal expansion
terminates exactly on a half boundary at the k-th decimal (common for
ratios of small integers — the CORRECTNESS_r10/r11 ``mean_line_nll``
failure class) is therefore rounded UP by Spark and either way by
DuckDB depending on which side of the boundary the nearest double
landed. The flip is data-dependent and invisible on any fixture that
happens not to populate the boundary.

``flr(x, k) = floor(x * 10^k + 0.5) / 10^k`` has no such repr
dependence: multiply, add and floor are pure IEEE-binary operations
that both engines evaluate identically on identical doubles, and the
final division of an integer-valued double by ``10^k`` is a single
exactly-rounded IEEE op. Given bit-identical inputs the output is
bit-identical — the lattice moves the entire divergence surface to
"are the input doubles bit-identical", which the DECIMAL-sum /
integer-ratio conventions of the ``queries/`` modules already guarantee.

Semantics: round-half-up (toward +inf at the boundary), identical to
the old behavior for all non-negative values; negative exact-boundary
values round toward +inf instead of away from zero — consistently in
both engines, which is the property that matters for the hash gate.

``k = 0`` (round to integer) needs no lattice: the half boundary
``n + 0.5`` is exactly representable in binary, so Spark's shortest
repr and DuckDB's exact binary always agree there; scale-0 rounds are
left as engine ``round``.

The SQL mirror of ``flr(x, k)`` is
``FLOOR(CAST((x) AS DOUBLE) * 1e{k} + 0.5) / 1e{k}``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def flr(x: Column | str, k: int = 6) -> Column:
    """Deterministic half-up rounding of a double to ``k`` decimals via
    a pure-IEEE floor lattice (see module docstring). ``k >= 1``."""
    if isinstance(x, str):
        x = F.col(x)
    s = float(10**k)
    return F.floor(x.cast("double") * F.lit(s) + F.lit(0.5)) / F.lit(s)
