"""Shared schemas.

The reference hard-codes one relation ``ratings(userid int, movieid int,
rating float)`` (Interface1.py:17) loaded from ``::``-delimited MovieLens
text with the 4th field (timestamp) dropped (Interface1.py:29-30).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: The one logical relation of the reference (Interface1.py:17).
RATINGS_SCHEMA = StructType(
    [
        StructField("userid", IntegerType()),
        StructField("movieid", IntegerType()),
        StructField("rating", DoubleType()),
    ]
)

#: Raw MovieLens ``::`` line: userid::movieid::rating::timestamp.
#: Timestamp is read then dropped, matching Interface1.py:29-30.
RATINGS_RAW_SCHEMA = StructType(
    [
        StructField("userid", IntegerType()),
        StructField("movieid", IntegerType()),
        StructField("rating", DoubleType()),
        StructField("ts", LongType()),
    ]
)

#: Name of the computed physical-partition column for fragmented datasets.
FRAGMENT_COL = "fragment_id"

#: Every fragmented dataset (range, round-robin, hash): the relation plus
#: its ``fragment_id`` partition column, in the order Spark reads it back.
FRAGMENTED_SCHEMA = StructType(
    RATINGS_SCHEMA.fields + [StructField(FRAGMENT_COL, IntegerType())]
)

#: Fragment-name prefixes, mirroring Interface1.py:6-7.
RANGE_PREFIX = "range_ratings_part"
RR_PREFIX = "round_robin_ratings_part"
