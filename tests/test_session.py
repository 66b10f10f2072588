"""The one session builder: its settings, its active-session rule and
the scan split it sizes from the warehouse."""

from __future__ import annotations

import logging
import os

import pytest

from database_fragmentation_and_query_processor_spark import session

from .conftest import SF_DIR


def test_spark_fixture_carries_benched_settings(spark):
    """Tests run under the settings the bench times, and a later
    get_spark() hands back the same session."""
    cpus = spark.sparkContext.defaultParallelism
    assert spark.sparkContext.master == f"local[{cpus}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cpus)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(
        64 * 1024 * 1024
    )
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(
        session.scan_split_bytes(SF_DIR, cpus)
    )
    assert session.get_spark() is spark
    assert session.get_spark("other", "/nonexistent") is spark


def test_scan_split_bytes_is_scale_adaptive(tmp_path):
    """r14: the bench derives the parquet split size from the
    warehouse's total bytes (≈2 scan waves per core, clamped to
    [1 MB, 128 MB]) — small fixtures parallelize their scan-stage map
    work, while at warehouse scale the formula returns the stock
    128 MB so cluster plans are untouched."""

    mb = 1024 * 1024
    # tiny fixture → floor clamp
    (tmp_path / "t.parquet").write_bytes(b"x" * 1000)
    assert session.scan_split_bytes(str(tmp_path), 32) == mb
    # mid-size: total/(2*cpus), inside the clamp band
    (tmp_path / "big.parquet").write_bytes(b"x" * (256 * mb))
    got = session.scan_split_bytes(str(tmp_path), 32)
    assert mb <= got <= 128 * mb
    assert got == (256 * mb + 1000) // 64
    # huge warehouse (simulated by cpus=1) → ceiling clamp = stock 128 MB
    assert session.scan_split_bytes(str(tmp_path), 1) == 128 * mb
    # unreadable dir → stock default, never an exception
    assert session.scan_split_bytes(str(tmp_path / "nope"), 32) == 128 * mb


def test_scan_split_bytes_floors_at_row_group(tmp_path):
    """r15 (r14 verdict task 1): the split never drops below the
    warehouse's largest parquet row group — a sub-row-group split adds
    only empty scan tasks (the group is read whole by one split), which
    the r15 A/B measured as pure regression on blob/text scans."""
    import pytest

    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")

    mb = 1024 * 1024
    # one ~3 MB single-row-group parquet table (incompressible payload)
    import random

    rnd = random.Random(7)
    payload = [bytes(rnd.getrandbits(8) for _ in range(3000)) for _ in range(1024)]
    t = pa.table({"b": payload})
    pq.write_table(t, tmp_path / "blob.parquet", row_group_size=1 << 20,
                   compression="none")
    rg = session._largest_row_group_bytes(str(tmp_path))
    assert rg > 2 * mb  # the single row group really is multi-MB
    # total/(2*32) ≈ 48 KB — WITHOUT the floor the clamp would return
    # 1 MB; with it, the split covers the whole row group
    got = session.scan_split_bytes(str(tmp_path), 32)
    assert got >= rg
    assert got <= 128 * mb


def test_scan_split_logs_the_row_group_floor(tmp_path, caplog):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")

    payload = [os.urandom(3000) for _ in range(1024)]
    pq.write_table(pa.table({"b": payload}), tmp_path / "blob.parquet",
                   compression="none")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        got = session.scan_split_bytes(str(tmp_path), 32)
    assert got == session._largest_row_group_bytes(str(tmp_path))
    assert any("row-group floor" in r.getMessage() for r in caplog.records)


def test_scan_split_logs_unreadable_footer(tmp_path, caplog):
    (tmp_path / "t.parquet").write_bytes(b"x" * 1000)
    with caplog.at_level(logging.INFO, logger=session.__name__):
        got = session.scan_split_bytes(str(tmp_path), 32)
    assert got == session.MIN_SPLIT_BYTES
    warnings = [r.getMessage() for r in caplog.records
                if r.levelno == logging.WARNING]
    assert any("unreadable parquet footer" in m for m in warnings)
    assert any("no parquet row group" in m for m in warnings)
    assert any("1 MB floor" in r.getMessage() for r in caplog.records)
