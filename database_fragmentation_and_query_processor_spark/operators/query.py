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

Each scheme side arrives as a prepared relation: its live generation
read with the declared schema (``read_fragmented``), resolved by the
caller (``api``) from one catalog read per query. The reader rule is one
relation per live generation and commit, per Spark session
(``api.live_fragments``); a file added to a live generation outside the
catalog stays unseen by a session that already read it, until the next
commit. So building a plan here opens no parquet footer, lists no
directory and starts no Spark job. A side is one filter and one projection, each passed to the
JVM as SQL text (``sql_literal`` renders the values with their exact
type), plus the range query's sort: a point query is built in a few
JVM calls rather than one per column reference and literal. A dataset
written with other column types is not read under its own schema: most
mismatches fail at the scan (see ``read_fragmented`` for the
exceptions).
"""

from __future__ import annotations

import functools
import hashlib
import math
import numbers

from pyspark.sql import DataFrame, SparkSession

from ..schema import FRAGMENT_COL, RANGE_PREFIX, RR_PREFIX


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


def sql_literal(value) -> str:
    """``value`` as Spark SQL text of the literal ``F.lit`` would make:
    an int stays an integer literal, a float becomes a double literal
    (``2.5D``, not the decimal ``2.5``), and NaN and ±inf, which have no
    literal syntax, become casts that constant-fold to the same double."""
    if isinstance(value, numbers.Integral) and not isinstance(value, bool):
        return str(int(value))
    if isinstance(value, numbers.Real):
        value = float(value)
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        return f"{value!r}D"
    raise TypeError(f"no SQL literal for {value!r} ({type(value).__name__})")


def quote_ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _with_provenance(df: DataFrame, prefix: str) -> DataFrame:
    """The result columns, led by the one naming each row's source
    fragment, e.g. ``range_ratings_part2`` (Interface1.py:261-347)."""
    return df.selectExpr(
        f"concat('{prefix}', CAST({FRAGMENT_COL} AS STRING)) AS fragment_name",
        "userid", "movieid", "rating",
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
    prepared relation)``, taken from one catalog read
    (``api._query_sides``), or None for a scheme without partitions."""
    parts = []
    in_range = f"rating >= {sql_literal(min_rating)} AND rating <= {sql_literal(max_rating)}"

    if rng is not None:
        rmeta, fragments = rng
        lo = range_owner_fragment(min_rating, rmeta.n, rmeta.min_value, rmeta.max_value)
        hi = range_owner_fragment(max_rating, rmeta.n, rmeta.min_value, rmeta.max_value)
        parts.append(_with_provenance(
            # fragment_id predicate → partition pruning (dir-level skip),
            # the Spark analogue of the selectMode walk.
            fragments.where(f"{FRAGMENT_COL} >= {lo} AND {FRAGMENT_COL} <= {hi} AND {in_range}")
            # range side is rating-ascending per fragment; fragment-major
            # then rating reproduces the reference's concatenated order.
            .orderBy(FRAGMENT_COL, "rating"),
            RANGE_PREFIX,
        ))

    if rr is not None:
        parts.append(_with_provenance(
            # reference scans RR fragments in ascending order
            # (Interface1.py:293-298); no intra-fragment order.
            rr[1].where(in_range).orderBy(FRAGMENT_COL),
            RR_PREFIX,
        ))

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
    equal = f"rating = {sql_literal(rating_value)}"

    if rng is not None:
        rmeta, fragments = rng
        owner = range_owner_fragment(
            rating_value, rmeta.n, rmeta.min_value, rmeta.max_value
        )
        # single-partition pruned read
        parts.append(_with_provenance(
            fragments.where(f"{FRAGMENT_COL} = {owner} AND {equal}"), RANGE_PREFIX
        ))

    if rr is not None:
        parts.append(_with_provenance(rr[1].where(equal), RR_PREFIX))

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
