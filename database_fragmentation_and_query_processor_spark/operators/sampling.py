"""Deterministic sampling operators.

``sampleBy``/``sample`` draw from a per-task RNG, so the sampled set
changes with partitioning, task retries, and Spark version — useless
for reproducible training-data pipelines. These operators derive the
keep/drop decision from a portable hash of a row key instead:

- pure map-side filter — NO shuffle, no RNG state, scales linearly;
- stable under repartitioning, retries, and engine swaps (the md5
  arithmetic is mirrored in the DuckDB oracle, see ``queries.batteries``);
- per-stratum rates compose with any downstream operator.

The reference has no sampling surface (SURVEY.md §2.2); this is part
of the `[EXT]` training-data-pipeline family (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash space for rate thresholds: permille-of-2^20 granularity is
#: plenty while keeping every intermediate far below 2^53 (the md5
#: prefix is 52 bits, see functions/text.py token_hash).
HASH_BUCKETS = 1000


def hash_bucket(key: Column, salt: str, buckets: int = HASH_BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from a 52-bit md5 prefix of
    salt||key. ANSI-SQL mirror:
    ``CAST('0x' || substr(md5(salt || key), 1, 13) AS BIGINT) % buckets``.
    """
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 13), 16, 10)
    return (h.cast("bigint") % F.lit(buckets)).cast("int")


def deterministic_sample(
    df: DataFrame, key: Column, rate_permille: int, salt: str = "sample"
) -> DataFrame:
    """Keep ~rate_permille/1000 of rows, decided per-row by hash — a
    map-side filter with zero shuffle."""
    return df.where(hash_bucket(key, salt) < F.lit(rate_permille))


def weighted_sample(
    df: DataFrame, key: Column, weight: Column, salt: str = "sample"
) -> DataFrame:
    """Per-row weighted Bernoulli keep: row kept with probability
    ``weight`` (a deterministic column in [0,1], e.g. a quality score) —
    the importance-sampling primitive for quality-weighted corpus
    mixing. Same portable md5 threshold as the uniform variants, so the
    decision is reproducible across runs/partitionings/engines, and
    still a pure map-side filter with zero shuffle."""
    threshold = F.floor(weight * F.lit(HASH_BUCKETS)).cast("int")
    return df.where(hash_bucket(key, salt) < threshold)


def stratified_sample(
    df: DataFrame,
    key: Column,
    stratum: Column,
    rates_permille: dict[str, int],
    salt: str = "sample",
    default_permille: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own keep-rate (permille); unlisted strata fall back to
    ``default_permille``. Still a pure map-side filter — the rate lookup
    is a literal CASE chain, not a join."""
    rate = F.lit(default_permille)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(stratum == F.lit(value), F.lit(permille)).otherwise(rate)
    return df.where(hash_bucket(key, salt) < rate)
