"""MovieLens ``::``-delimited ratings reader.

Reference: ``loadRatings`` reads line-by-line, splits on ``'::'``, keeps
fields 0-2 and DROPS the timestamp (Interface1.py:23-34) — one INSERT
round-trip per row. Here it is one distributed CSV scan with a
multi-char separator (Spark >= 3 supports ``sep=':: '``-style strings)
projected down to the 3 logical columns; Catalyst prunes the timestamp
column at scan time.

The scan is byte-range splittable: one large dump is read as many
partitions (``spark.sql.files.maxPartitionBytes``), each split aligned
to line boundaries, with no row lost or read twice
(``tests/test_fragmentation.py::test_native_reader_splits_losslessly``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import RATINGS_RAW_SCHEMA


def read_ratings_text(spark: SparkSession, path: str) -> DataFrame:
    """Read ``userid::movieid::rating::timestamp`` lines → 3-col ratings."""
    raw = (
        spark.read.option("sep", "::")
        .schema(RATINGS_RAW_SCHEMA)
        .csv(path)
    )
    return raw.select("userid", "movieid", "rating")
