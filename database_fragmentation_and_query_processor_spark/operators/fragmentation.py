"""Horizontal fragmentation as computed partition columns.

The reference materializes fragments as physical tables
``range_ratings_part{i}`` / ``round_robin_ratings_part{i}``
(Interface1.py:119-120, 166-167) by pulling the WHOLE relation into
client Python memory and looping (Interface1.py:115-116 — its
scalability cliff). Here a fragment is a value of a computed
``fragment_id`` column and the dataset is written
``partitionBy("fragment_id")`` — directory-per-fragment mirrors
table-per-fragment and buys Catalyst partition pruning at file-listing
time. No driver-side materialization anywhere.

Boundary semantics (THE load-bearing invariant, Interface1.py:122-140):
domain fixed at [min_value, max_value] regardless of data; interval =
(max-min)/n; fragment 0 owns the CLOSED interval [min, min+interval];
every fragment i>0 owns the half-open (min + i*interval,
min + (i+1)*interval]; the last fragment absorbs the exact upper bound.

Round-robin semantics (Interface1.py:169-174): row k goes to fragment
k mod n; a persisted cursor continues the rotation for later single-row
inserts (Interface1.py:176-177, 205). Rows are numbered by a unique key,
not by physical scan order, so round-robin fragmentation needs one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import FRAGMENT_COL, FRAGMENTED_SCHEMA
from . import scaling


def range_fragment_expr(
    value: Column,
    n: int,
    min_value: float = 0.0,
    max_value: float = 5.0,
) -> Column:
    """Fixed-domain bucket expression reproducing Interface1.py:127-137.

    Closed-closed for fragment 0, open-closed after, last bucket absorbs
    ``max_value``. A pure column expression → stays inside whole-stage
    codegen; scales as a narrow transformation.

    NOT ``repartitionByRange``: that samples data-driven boundaries; the
    reference's boundaries are fixed by the domain, not the data.
    """
    interval = (max_value - min_value) / n
    shifted = value - F.lit(min_value)
    bucket = F.when(shifted <= F.lit(interval), F.lit(0)).otherwise(
        F.ceil(shifted / F.lit(interval)).cast("int") - 1
    )
    return F.least(F.greatest(bucket, F.lit(0)), F.lit(n - 1)).cast("int")


def round_robin_fragment_expr(row_index: Column, n: int) -> Column:
    """fragment = row_index % n  (Interface1.py:171-174)."""
    return (row_index % F.lit(n)).cast("int")


def assign_range_fragments(
    df: DataFrame,
    value_col: str,
    n: int,
    min_value: float = 0.0,
    max_value: float = 5.0,
) -> DataFrame:
    return df.withColumn(
        FRAGMENT_COL, range_fragment_expr(F.col(value_col), n, min_value, max_value)
    )


def assign_round_robin_fragments(
    df: DataFrame, n: int, order_cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Deterministic (row k → k mod n) assignment, and an ``Observation``
    that counts the rows as the assigned frame is written (the insert
    cursor's total: ``round_robin_cursor``).

    The reference's test oracle demands exact ``(rownum-1) % n``
    (testHelper1.py:95-99) — an oracle on per-fragment COUNTS, which any
    deterministic bijective numbering satisfies (fragment i always
    receives ``|{k < total : k ≡ i (mod n)}|`` rows). So Spark's
    non-deterministic ``repartition(n)`` is NOT usable, but the
    numbering ORDER is free to be any stable total order.

    ``order_cols`` must be a unique key: row k is the k-th in key order,
    numbered by ``scaling.stable_row_number`` (one window inside the
    input's one scan task when it runs as one, bucketed and JVM-side
    otherwise; no Python round-trip). A non-unique key leaves the
    numbering of tied rows, and so their fragments, unspecified.
    """
    with_idx = scaling.stable_row_number(df, order_cols, out_col="_row_idx")
    rows = Observation()
    assigned = with_idx.withColumn(
        FRAGMENT_COL, round_robin_fragment_expr(F.col("_row_idx"), n)
    ).drop("_row_idx")
    return assigned.observe(rows, F.count(F.lit(1)).alias("rows")), rows


def round_robin_cursor(rows: Observation, n: int) -> int:
    """The cursor a round-robin write leaves: the fragment of its last
    row (Interface1.py:176-177), -1 when it wrote none. Read after the
    write of ``assign_round_robin_fragments``' frame."""
    total = rows.get["rows"]
    return (total - 1) % n if total else -1


def write_fragmented(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize a fragmented dataset: directory-per-fragment parquet.

    ``fragment_id`` becomes the physical partition column, so any filter
    on it becomes partition pruning (file-listing-level skip) — the Spark
    analogue of the reference's manual selectMode fragment walk
    (Interface1.py:273-290).
    """
    df.write.mode(mode).partitionBy(FRAGMENT_COL).parquet(path)


def read_fragmented(spark: SparkSession, path: str) -> DataFrame:
    """Read a dataset written by ``write_fragmented`` with its declared
    schema (``FRAGMENTED_SCHEMA``), never an inferred one.

    Every fragment shares the relation's fixed schema (Interface1.py:17),
    so there is nothing to infer: the read lists the fragment
    directories and starts no Spark job, where an inferring read runs a
    footer job before the plan exists. (Past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` fragments,
    32 by default, Spark lists them with one job either way.) An empty
    fragment directory reads as no rows.

    The files are trusted to carry this schema; every writer in the
    package produces it, and the schema-parity test pins that. Files
    written with other column types are not adapted to: a string or
    bigint column fails at the scan, a float column is widened to
    double, and a decimal column can be misread (its unscaled integer
    read as the double).
    """
    return spark.read.schema(FRAGMENTED_SCHEMA).parquet(path)


def hash_fragment_expr(key: Column, n: int) -> Column:
    """[EXT] Hash-routing expression — the third classic fragmentation
    scheme next to the reference's range (Interface1.py:101-148) and
    round-robin (:150-181). The hash is md5-derived 53-bit arithmetic
    (the repo-wide portable-hash convention, functions/text.py:
    token_hash) rather than an engine-native hash(), so routing is
    reproducible across engines and versions — a re-run or an oracle
    can verify fragment membership bit-for-bit."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast("bigint")
    return (h % F.lit(n)).cast("int")


def assign_hash_fragments(df: DataFrame, key_col: str, n: int) -> DataFrame:
    return df.withColumn(FRAGMENT_COL, hash_fragment_expr(F.col(key_col), n))
