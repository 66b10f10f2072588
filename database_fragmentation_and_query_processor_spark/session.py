"""The one SparkSession builder for this engine.

Library code never creates sessions implicitly — every operator takes
``spark`` as an argument (mirroring how the reference opens one
connection from ``getOpenConnection`` and threads it through every
call, Interface1.py:10-11). Every harness — the test suite, the bench,
the profiler, the driver sim, the empty-input sweep and perfbench —
gets its session from :func:`get_spark`, so oracle parity is checked
under the same settings that are timed.

Settings and why:

- ``master = local[cores]`` and ``spark.sql.shuffle.partitions =
  cores``: cores is ``$SPARK_GRAFT_CPUS``, else the usable core count.
  One shuffle partition per core fills one task wave on a local
  session; on a real cluster set it to ~2-3x total executor cores.
- ``spark.sql.autoBroadcastJoinThreshold = 64 MB``: dimension tables
  and small build-once artifacts broadcast instead of paying a
  sort-merge shuffle (Spark's default is 10 MB).
- ``spark.sql.execution.arrow.pyspark.enabled = true``: driver-side
  ``toPandas`` / ``createDataFrame(pandas)`` go through Arrow.
- ``spark.sql.files.maxPartitionBytes = scan_split_bytes(sf_dir,
  cores)``: ~2 scan waves per core over the warehouse, floored at its
  largest row group; with no ``sf_dir`` it is Spark's stock 128 MB.
- ``spark.driver.memory = $SPARK_DRIVER_MEM``, default 8g: one shared
  session survives the whole test suite, and the 1g Spark default
  ran out of heap on its accumulated plan and cache metadata.
- ``spark.ui.enabled = false``: no web UI in a library or harness.

Adaptive query execution (``spark.sql.adaptive.enabled``, its
``coalescePartitions`` and ``skewJoin``) is on by default in Spark 4,
so none of those keys is set here.

Active-session rule: when a session is already active, :func:`get_spark`
returns it unchanged. A later call with another ``sf_dir`` therefore
keeps the first session's scan split. Settings a harness needs beyond
these (an event log, a larger job history) go in
``PYSPARK_SUBMIT_ARGS`` before the first call.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Spark's default ``spark.sql.files.maxPartitionBytes``
STOCK_SPLIT_BYTES = 128 * 1024 * 1024
#: smallest split :func:`scan_split_bytes` returns
MIN_SPLIT_BYTES = 1024 * 1024


def get_spark(
    app_name: str = "dfqp-spark", sf_dir: str | None = None
) -> SparkSession:
    """The active session, or a new one with the settings above;
    ``sf_dir`` is the warehouse the scan split is sized for."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes",
                str(scan_split_bytes(sf_dir, cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _largest_row_group_bytes(sf_dir: str) -> int:
    """Largest parquet row-group (compressed bytes) across the
    warehouse — footer metadata only, no data read. A scan split
    smaller than a row group cannot add parallelism: Spark assigns each
    row group whole to the one split owning its midpoint, so sub-group
    splits only add empty tasks (and, on Python-boundary scans, idle
    worker launches). Returns 0, and logs it, when pyarrow is missing
    or no footer is readable — the caller then uses its own floor."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        log.warning("scan split: pyarrow is not installed; no row-group floor")
        return 0
    largest = 0
    for dirpath, _dirs, files in os.walk(sf_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, name)
            try:
                md = pq.ParquetFile(path).metadata
            except (OSError, pa.ArrowException) as exc:
                log.warning(
                    "scan split: unreadable parquet footer %s: %s", path, exc
                )
                continue
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                largest = max(
                    largest,
                    sum(
                        rg.column(j).total_compressed_size
                        for j in range(rg.num_columns)
                    ),
                )
    if largest == 0:
        log.warning("scan split: no parquet row group found under %s", sf_dir)
    return largest


def scan_split_bytes(sf_dir: str | None, cpus: int) -> int:
    """Scale-adaptive parquet split size: aim for ~2 scan waves per
    core over the warehouse's total bytes, clamped to [floor, 128 MB].

    The floor is the warehouse's largest parquet row group, and never
    less than 1 MB. A split below the row-group size cannot parallelize
    the scan (the one split owning the group's midpoint reads ALL rows;
    the rest are empty tasks), and the empty tasks are pure regression
    on Python-boundary and blob/text-decode scans
    (multimodal_audio_windows 1.30s @1 MB vs 0.83s @128 MB;
    containment_pairs 6.70s vs 3.62s — min of 3, c32). Multi-file
    directories (warehouse fragments, artifact dirs) keep their
    per-file parallelism at any floor ≤ openCostInBytes-packing size.
    At warehouse scale total/(2·cores) saturates at the stock 128 MB
    before any footer is read, so cluster plans are unchanged.

    Which rule decided — stock, the per-task formula, the row-group
    floor or the 1 MB floor — is logged at INFO."""
    if sf_dir is None or not os.path.isdir(sf_dir):
        log.info("scan split: stock %d (no warehouse directory: %s)",
                 STOCK_SPLIT_BYTES, sf_dir)
        return STOCK_SPLIT_BYTES
    total = 0
    for dirpath, _dirs, files in os.walk(sf_dir):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                continue
    per_task = total // max(2 * cpus, 1)
    if per_task >= STOCK_SPLIT_BYTES:
        log.info("scan split: stock %d (per-task share %d of %s)",
                 STOCK_SPLIT_BYTES, per_task, sf_dir)
        return STOCK_SPLIT_BYTES
    row_group = min(_largest_row_group_bytes(sf_dir), STOCK_SPLIT_BYTES)
    floor = max(MIN_SPLIT_BYTES, row_group)
    if per_task >= floor:
        rule = "per-task formula"
    elif row_group > MIN_SPLIT_BYTES:
        rule = "row-group floor"
    else:
        rule = "1 MB floor"
    split = max(floor, per_task)
    log.info("scan split: %d by the %s (per-task share %d, largest row "
             "group %d, %d cores, %s)",
             split, rule, per_task, row_group, cpus, sf_dir)
    return split
