"""Pruned range / point queries over fragmented datasets.

Reference semantics (Interface1.py:261-347):

- ``rangeQuery(min, max)``: on the RANGE scheme, scan ONLY the fragments
  whose interval intersects [min, max] (manual selectMode walk +
  early break, Interface1.py:273-290), filter ``rating >= min AND
  rating <= max`` (inclusive both ends), ORDER BY rating per fragment,
  and prefix each row with its source-fragment name (provenance). On the
  ROUND-ROBIN scheme, scan ALL fragments with the same filter, no order.
  Concatenate range-side-first. A row matching in both schemes appears
  TWICE — once per scheme (golden rangeResult.txt:3 vs :12).

- ``pointQuery(v)``: same, but the range side touches exactly the ONE
  owning fragment (Interface1.py:323-331).

Spark translation: the manual fragment walk becomes a predicate on the
``fragment_id`` partition column → Catalyst file-listing partition
pruning; the per-fragment SQL unification becomes a single scan; the
rating filter is pushed into the parquet scan (row-group min/max skip).

Fragments are read with the declared schema (``read_fragmented``), not
an inferred one. The relation's schema is fixed (Interface1.py:17), so
building a plan here needs only the catalog and a directory listing: no
parquet footer is opened and no Spark job runs until the result is
executed. The catalog is read by the caller (``api``), once per query:
the metadata and the live generation each scheme side scans come from
that one read. A dataset written with other column types is not read under
its own schema: most mismatches fail at the scan (see
``read_fragmented`` for the exceptions).
"""

from __future__ import annotations

import functools
import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import FRAGMENT_COL, RANGE_PREFIX, RR_PREFIX
from .fragmentation import read_fragmented


def range_owner_fragment(
    value: float, n: int, min_value: float, max_value: float
) -> int:
    """Python-side owner computation, same closed/open rule as the column
    expression (Interface1.py:242-247 recomputes interval the same way)."""
    interval = (max_value - min_value) / n
    shifted = value - min_value
    if shifted <= interval:
        return 0
    return min(max(math.ceil(shifted / interval) - 1, 0), n - 1)


def hash_owner_fragment(key: int, n: int) -> int:
    """Python-side owner of an integer routing key under the hash
    scheme: the same md5-prefix arithmetic as
    ``fragmentation.hash_fragment_expr``, evaluated on the driver."""
    h = int(hashlib.md5(str(int(key)).encode()).hexdigest()[:13], 16)
    return h % n


def provenance(prefix: str) -> F.Column:
    """The result column naming each row's source fragment, e.g.
    ``range_ratings_part2`` (Interface1.py:261-347)."""
    return F.concat(F.lit(prefix), F.col(FRAGMENT_COL).cast("string")).alias(
        "fragment_name"
    )


def _concat(spark: SparkSession, parts: list[DataFrame]) -> DataFrame:
    """The scheme sides in order, range first; no rows if there are none."""
    if not parts:
        return spark.createDataFrame(
            [], "fragment_name string, userid int, movieid int, rating double"
        )
    return functools.reduce(DataFrame.unionAll, parts)


def range_query(
    spark: SparkSession,
    min_rating: float,
    max_rating: float,
    rng: tuple | None,
    rr: tuple | None,
) -> DataFrame:
    """Both-scheme range query with provenance + duplicate emission.

    ``rng`` / ``rr``: the range and round-robin schemes' ``(metadata,
    live generation path)``, taken from one catalog read
    (``api._query_sides``), or None for a scheme without partitions."""
    parts = []

    if rng is not None:
        rmeta, range_path = rng
        lo = range_owner_fragment(min_rating, rmeta.n, rmeta.min_value, rmeta.max_value)
        hi = range_owner_fragment(max_rating, rmeta.n, rmeta.min_value, rmeta.max_value)
        parts.append(
            read_fragmented(spark, range_path)
            # fragment_id predicate → partition pruning (dir-level skip),
            # the Spark analogue of the selectMode walk.
            .where(F.col(FRAGMENT_COL).between(lo, hi))
            .where(F.col("rating").between(min_rating, max_rating))
            # range side is rating-ascending per fragment; fragment-major
            # then rating reproduces the reference's concatenated order.
            .orderBy(FRAGMENT_COL, "rating")
            .select(provenance(RANGE_PREFIX), "userid", "movieid", "rating")
        )

    if rr is not None:
        parts.append(
            read_fragmented(spark, rr[1])
            .where(F.col("rating").between(min_rating, max_rating))
            # reference scans RR fragments in ascending order
            # (Interface1.py:293-298); no intra-fragment order.
            .orderBy(FRAGMENT_COL)
            .select(provenance(RR_PREFIX), "userid", "movieid", "rating")
        )

    return _concat(spark, parts)


def point_query(
    spark: SparkSession,
    rating_value: float,
    rng: tuple | None,
    rr: tuple | None,
) -> DataFrame:
    """Both-scheme equality query; range side touches exactly 1 fragment.
    ``rng`` / ``rr`` as in :func:`range_query`.

    Float equality is exact here: the rating domain is halves 0.0-5.0
    (FIXTURES.md §1), all representable in binary doubles.
    """
    parts = []

    if rng is not None:
        rmeta, range_path = rng
        owner = range_owner_fragment(
            rating_value, rmeta.n, rmeta.min_value, rmeta.max_value
        )
        parts.append(
            read_fragmented(spark, range_path)
            .where(F.col(FRAGMENT_COL) == owner)  # single-partition pruned read
            .where(F.col("rating") == rating_value)
            .select(provenance(RANGE_PREFIX), "userid", "movieid", "rating")
        )

    if rr is not None:
        parts.append(
            read_fragmented(spark, rr[1])
            .where(F.col("rating") == rating_value)
            .select(provenance(RR_PREFIX), "userid", "movieid", "rating")
        )

    return _concat(spark, parts)


def write_result_file(df: DataFrame, output_path: str) -> int:
    """Reference-format sink: comma-joined ``str()`` rendering, one file
    (Interface1.py:300-304). Streams via toLocalIterator — never a full
    collect; intended for human-sized results like the golden files.
    For bulk extracts use ``df.write.csv`` instead.
    """
    n = 0
    with open(output_path, "w") as f:
        for row in df.toLocalIterator():
            f.write(",".join(_render(v) for v in row) + "\n")
            n += 1
    return n


def _render(v) -> str:
    if isinstance(v, float):
        return repr(v)  # 2.0-style, matches Python str() used at Interface1.py:300
    return str(v)
