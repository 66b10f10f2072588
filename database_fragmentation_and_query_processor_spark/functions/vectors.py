"""Vector math over ``array<float>`` embedding columns.

All pure column expressions (`aggregate`/`zip_with`/`transform`) — they
run inside the JVM with whole-stage codegen, no Python round-trips, and
scale as narrow per-row work. For 100 TB this matters: a Python UDF here
would serialize every vector through Arrow per batch; these don't.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product, sequential left-to-right accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe denominator (0-norm → NULL)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def make_cosine_pandas_udf(query_vec: list[float]):
    """Arrow-batched Pandas UDF cosine against a fixed query vector —
    the escape hatch for vector ops the expression DSL can't reach
    (learned re-rankers, numpy-only kernels). The closure captures the
    query vector; numpy does one matmul per Arrow batch, not per row.
    Prefer ``cosine`` (JVM expression) when expressible: it avoids the
    JVM↔Python Arrow hop entirely.
    """
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype="float64")
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def cos(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.apply(lambda v: np.asarray(v, dtype="float64")))
        norms = np.linalg.norm(m, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            out = (m @ q) / norms
        out[norms == 0] = np.nan
        return pd.Series(out)

    return cos


def sign_bits(a: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: one bit per plane (packed into a
    long). ``planes`` are fixed driver-side constants so the expression
    is deterministic and broadcast inside the plan — no shuffle, no UDF.
    """
    bits = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bit = (dot(a, plane) >= 0).cast("long")
        bits = bits + F.shiftleft(bit, i)
    return bits
