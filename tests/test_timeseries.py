"""Time-partitioned event storage: partition pruning, edge trimming,
retention drops."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.queries import common
from database_fragmentation_and_query_processor_spark.operators.timeseries import (
    drop_before,
    read_time_range,
    write_time_partitioned,
)
from database_fragmentation_and_query_processor_spark.plans import partition_filters


def _write(spark, sf_dir, tmp_path) -> str:
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(common._events(spark, sf_dir), path)
    return path


def test_time_range_matches_unpartitioned_filter(spark, sf_dir, tmp_path):
    path = _write(spark, sf_dir, tmp_path)
    ev = common._events(spark, sf_dir)
    bounds = ev.agg(F.min("event_time").alias("lo")).head()
    lo = bounds["lo"]
    lo_s = lo.strftime("%Y-%m-%d %H:%M:%S")
    hi = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    import datetime

    hi_s = (hi + datetime.timedelta(days=2, hours=6)).strftime("%Y-%m-%d %H:%M:%S")
    got = read_time_range(spark, path, lo_s, hi_s)
    want = ev.where(
        (F.col("event_time") >= F.lit(lo_s).cast("timestamp"))
        & (F.col("event_time") < F.lit(hi_s).cast("timestamp"))
    )
    assert got.count() == want.count() > 0
    assert sorted(r.event_id for r in got.select("event_id").collect()) == sorted(
        r.event_id for r in want.select("event_id").collect()
    )


def test_time_range_prunes_partitions(spark, sf_dir, tmp_path):
    path = _write(spark, sf_dir, tmp_path)
    df = read_time_range(spark, path, "2024-01-02 00:00:00", "2024-01-04 00:00:00")
    pf = " ".join(partition_filters(df))
    assert "p_day" in pf, f"day bound must reach PartitionFilters: {pf}"


def test_retention_drop_before(spark, sf_dir, tmp_path):
    path = _write(spark, sf_dir, tmp_path)
    days = sorted(
        str(r.p_day)
        for r in spark.read.parquet(path).select("p_day").distinct().collect()
    )
    assert len(days) >= 3
    cutoff = days[2]
    dropped = drop_before(spark, path, cutoff)
    assert len(dropped) == 2
    left = sorted(
        str(r.p_day)
        for r in spark.read.parquet(path).select("p_day").distinct().collect()
    )
    assert left == days[2:]


def test_overwrite_day_touches_only_target_partition(spark, sf_dir, tmp_path):
    """Backfill primitive: re-landing one corrected day must leave every
    other day's files byte-identical (same paths, sizes, mtimes) and
    replace exactly the target day's content."""
    import os

    from database_fragmentation_and_query_processor_spark.operators.timeseries import (
        PARTITION_COL,
        overwrite_day,
    )

    path = _write(spark, sf_dir, tmp_path)
    days = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(path)
        if e.startswith(f"{PARTITION_COL}=")
    )
    assert len(days) >= 2
    target = days[1]

    def snapshot(exclude_day):
        out = {}
        for root, _, files in os.walk(path):
            if f"{PARTITION_COL}={exclude_day}" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(target)
    ev = common._events(spark, sf_dir)
    corrected = ev.where(
        F.date_format("event_time", "yyyy-MM-dd") == target
    ).withColumn("value", F.col("value") * 2)
    n_day = corrected.count()
    overwrite_day(corrected, path)

    assert snapshot(target) == before, "non-target partitions were rewritten"
    back = spark.read.parquet(path).where(F.col(PARTITION_COL) == target)
    assert back.count() == n_day
    orig_sum = ev.where(
        F.date_format("event_time", "yyyy-MM-dd") == target
    ).agg(F.sum("value")).head()[0]
    new_sum = back.agg(F.sum("value")).head()[0]
    assert abs(new_sum - 2 * orig_sum) < 1e-6
