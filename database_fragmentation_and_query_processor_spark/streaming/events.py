"""Structured Streaming pipelines over the events table.

The reference is fully batch (SURVEY.md §2.2: streaming ABSENT) — this
is the [EXT] streaming surface: file-source streams, watermarked
tumbling-window aggregation, and a custom stateful sessionizer via
``applyInPandasWithState``.

The fixture's physical ``ts`` encoding has drifted across generations
(TIMESTAMP(NANOS) readable only as a nanos BIGINT; currently
timestamp[us] → TIMESTAMP_NTZ), so the stream reader is
schema-adaptive: it probes the parquet's actual schema with a batch
read (metadata-only, no data scan) and normalizes to the same two
canonical columns the batch loader emits (queries.common._events):
``event_time`` TIMESTAMP and ``tsn`` BIGINT micros. Raw ``ts`` is
dropped so stale references fail loudly.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..artifacts import build_once

#: canonical NORMALIZED stream schema (what read_events_stream emits and
#: what the stateful operators below consume): tsn = micros since epoch.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
        StructField("tsn", LongType()),  # micros since epoch
    ]
)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Emit canonical ``tsn`` (bigint micros) + ``event_time``
    (timestamp) from whatever physical ``ts`` the source carries, and
    drop ``ts``. Shared by the batch loader's mirror in queries.common
    and every streaming pipeline here — one schema source of truth."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type is None:  # already normalized
        return df
    if ts_type == "bigint":  # legacy nanos-as-long
        tsn = F.expr("ts div 1000")
    elif ts_type.startswith("timestamp"):
        tsn = F.unix_micros(F.col("ts").cast("timestamp"))
    else:
        raise TypeError(f"unsupported events.ts type: {ts_type}")
    return (
        df.withColumn("tsn", tsn.cast("bigint"))
        .withColumn("event_time", F.timestamp_micros(F.col("tsn")))
        .drop("ts")
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source requires a DIRECTORY; expose the single
    # parquet fixture through a build-once dir holding a symlink to it
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stream_dir = build_once(
        sf_dir, "events_stream", ["events"],
        lambda stage: os.symlink(src, os.path.join(stage, "events.parquet")),
    )
    # schema probe: streams need an explicit schema; take the file's
    # ACTUAL one (footer metadata only) instead of hardcoding an
    # assumption that silently mis-reads the next fixture regeneration
    physical = spark.read.parquet(src).schema
    return normalize_event_time(
        spark.readStream.schema(physical).parquet(stream_dir)
    )


def hourly_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window hourly aggregate. Late rows beyond
    the watermark are dropped; state is bounded by watermark horizon ×
    group cardinality — the standard scale-safe shape."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("hour"), "n_events", "sum_value")
    )


def _run_to_memory(
    result: DataFrame,
    spark: SparkSession,
    output_mode: str,
    state_partitions: int | None,
) -> DataFrame:
    """Drain a streaming DataFrame (Trigger.AvailableNow) into an
    in-memory sink and return the final table.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    run (restored afterwards): a stateful operator opens one state store
    per shuffle partition per micro-batch, and that per-store overhead
    (init + checkpoint I/O) dominates when per-shard state is small —
    the local[32] default of 32 shards makes the sf0.1 stream-stream
    join ~5x slower than 8 shards carrying ~75k rows each. Size it like
    any state shard count: arrival rate × watermark horizon / what one
    executor's memory holds — MORE shards at cluster scale, fewer for
    small replays. The count is baked into the checkpoint on first run,
    so pick it before going to production, not after."""
    name = "s" + uuid.uuid4().hex[:12]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return spark.table(name)


def run_available_now(
    result: DataFrame, spark: SparkSession, state_partitions: int | None = None
) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (Trigger.AvailableNow), collect into an in-memory sink, return the
    final table. Used to batch-test streaming semantics."""
    return _run_to_memory(result, spark, "complete", state_partitions)


def dedup_events(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked streaming deduplication on the event key: state holds
    one entry per event_id seen within the watermark horizon, so memory
    is bounded by (arrival rate × horizon), not stream length — the
    standard exactly-once ingestion guard in front of downstream aggs.
    """
    return stream.withWatermark("event_time", watermark).dropDuplicates(
        ["event_id"]
    )


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
) -> DataFrame:
    """Stream-static enrichment join — the standard streaming lookup:
    the static side is planned per micro-batch (broadcast when small,
    AQE's call otherwise), the stream side carries NO join state, so
    memory stays flat no matter how long the stream runs. This is the
    scale-correct shape for dimension enrichment; stream-stream joins
    (which buffer both sides in state) are reserved for genuinely
    bi-temporal correlation."""
    return stream.join(dim, stream[stream_key] == dim[dim_key], "inner")


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join — genuinely bi-temporal correlation,
    the one case that DOES buffer both sides in state: every purchase
    pairs with every click by the same user in the preceding
    ``horizon``. Both sides carry watermarks and the join condition
    carries the time bound, so each side's buffered state is evicted
    once event time passes watermark + horizon — bounded by
    (arrival rate x horizon), not stream length.

    Emits (user_id, click_id, purchase_id) pairs in append mode.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    ).withWatermark("click_time", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_time").alias("purchase_time"),
    ).withWatermark("purchase_time", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (F.col("purchase_time") <= F.col("click_time") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id"
    )


def run_available_now_append(
    result: DataFrame, spark: SparkSession, state_partitions: int | None = None
) -> DataFrame:
    """Like run_available_now but for append-mode outputs (stream-stream
    joins emit append-only)."""
    return _run_to_memory(result, spark, "append", state_partitions)


def stream_stream_attribution_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every click emits — matched pairs
    as they correlate, UNMATCHED clicks as (click_id, NULL purchase)
    once the watermark proves no qualifying purchase can still arrive
    (watermark > click_time + horizon). This is the 'abandoned funnel'
    shape: the null-side emission is exactly what inner attribution
    cannot express.

    State semantics: both sides buffer within the watermark bound like
    the inner join; additionally the click side holds each row until
    its horizon is provably closed, then evicts-and-emits the null
    match. IMPORTANT: null matches are emitted by the micro-batch
    AFTER the one that advanced the watermark — a single-batch
    AvailableNow run ends before that batch exists, so bounded replays
    must (a) include a sentinel row advancing event time past
    max + horizon + watermark delay and (b) split input across files
    with maxFilesPerTrigger so at least one batch runs after the
    sentinel's (see q_streaming_louter_attribution)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    ).withWatermark("click_time", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_time").alias("purchase_time"),
    ).withWatermark("purchase_time", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (F.col("purchase_time") <= F.col("click_time") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id"
    )


def run_stateful_drained(
    result: DataFrame,
    spark: SparkSession,
    expected_input_rows: int,
    state_partitions: int | None = None,
    timeout_s: float = 300.0,
) -> DataFrame:
    """Drain an ``applyInPandasWithState`` stream over bounded input.

    AvailableNow does NOT terminate a flatMapGroupsWithState query on
    this Spark line: the processing-time-timeout machinery keeps
    scheduling micro-batches after the data is exhausted, so the
    ``awaitTermination`` used for the other streaming shapes would hang
    (and long-running empty-batch loops eventually hit Python-worker
    recycling crashes). Instead: watch the query's progress until the
    cumulative ``numInputRows`` covers the known bounded input — the
    batch that consumed the last row has then COMMITTED its output and
    state effects (progress is reported post-commit) — and stop the
    query explicitly. Callers must ensure all output is forced by data
    itself (e.g. the sessionizer's ``flush_type`` tombstones), never by
    timers."""
    import time

    name = "s" + uuid.uuid4().hex[:12]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        t0 = time.time()
        while q.isActive and time.time() - t0 < timeout_s:
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            if seen >= expected_input_rows:
                break
            time.sleep(0.25)
        else:
            if q.isActive:
                q.stop()
                raise TimeoutError(
                    f"stateful drain did not consume {expected_input_rows} "
                    f"rows within {timeout_s}s"
                )
        if q.isActive:
            q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return spark.table(name)


def read_committed(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the current committed version of a sink target, resolving
    the generation pointer when the target lives on an object store
    (no-op indirection on rename-capable filesystems)."""
    from .. import fs as fslib

    wfs = fslib.fs_for(target_path, spark)
    return spark.read.parquet(fslib.resolve_dataset(wfs, target_path))


def upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    version_col: str,
    spark: SparkSession,
    tiebreak_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    batch_hook=None,
    fs=None,
):
    """Streaming merge/upsert sink via foreachBatch: each micro-batch
    SCD-1-merges (last write wins by ``version_col``) into the parquet
    target with write-then-swap. foreachBatch is the standard bridge
    from a stream to a batch-only sink operation; the merge itself is
    operators/merge.py:merge_upsert — one per-key window shuffle over
    target ∪ batch. Returns the started StreamingQuery.

    ``checkpoint_dir`` makes restarts RESUME: source offsets commit to
    the checkpoint after each successful batch, so a crashed run
    re-executes only its in-flight batch (whose merge is idempotent —
    same keys, same versions, same winner), never the committed prefix
    — exactly-once net effect end-to-end. Without it Spark uses a fresh
    temp checkpoint per run: a restart reprocesses from scratch, which
    the idempotent merge also absorbs, at full replay cost.
    ``batch_hook(batch_df, batch_id)`` runs before each merge — the
    fault-injection point the crash-recovery test uses to kill the
    query mid-stream deterministically.

    At real scale the target would be a transactional table format
    (partition-level rewrite); the commit here goes through the
    warehouse FS shim (fs.py) — rename-swap on local/HDFS,
    generation-pointer flip on object stores — with the same merge
    plan either way. Read the result back via
    ``fs.resolve_dataset`` (or this module's ``read_committed``).
    """
    from .. import fs as fslib
    from ..operators.merge import merge_upsert

    order_cols = [version_col] + list(tiebreak_cols or [])
    wfs = fs if fs is not None else fslib.fs_for(target_path, spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_hook is not None:
            batch_hook(batch_df, batch_id)
        batch_df = batch_df.localCheckpoint(eager=True)
        if fslib.dataset_exists(wfs, target_path):
            current = spark.read.parquet(fslib.resolve_dataset(wfs, target_path))
            merged = merge_upsert(current, batch_df, keys, order_cols)
        else:
            merged = merge_upsert(
                batch_df.limit(0), batch_df, keys, order_cols
            )
        staged = fslib.stage_path(wfs, target_path, f"merge-{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        fslib.commit_staged(wfs, staged, target_path, require_marker=True)

    writer = stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def cdc_sink(
    change_stream: DataFrame,
    target_path: str,
    keys: list[str],
    spark: SparkSession,
    op_col: str = "op",
    version_col: str | None = None,
    checkpoint_dir: str | None = None,
    batch_hook=None,
    fs=None,
):
    """Streaming CDC application via foreachBatch: each micro-batch of
    I/U/D change rows is resolved against the current target with
    operators/merge.py:apply_cdc (union + one per-key window + tombstone
    filter — no join) and committed write-then-swap. The batch side of
    the window outranks the target, so batches must arrive in change
    order — which the file source guarantees under maxFilesPerTrigger
    when change files land in commit order (their modification times
    order the replay). Because CDC payloads are ABSOLUTE row images,
    re-applying a prefix of batches over an already-final target is
    idempotent — the recovery property that makes restart-from-
    checkpoint safe. ``checkpoint_dir`` turns that property on: offsets
    commit per batch, so a crashed run resumes at its in-flight batch
    (retried idempotently) instead of replaying history.
    ``batch_hook(batch_df, batch_id)`` is the crash-recovery test's
    fault-injection point. Commits go through the warehouse FS shim
    (fs.py): rename-swap on local/HDFS, generation-pointer flip on
    object stores. Returns the started StreamingQuery."""
    from .. import fs as fslib
    from ..operators.merge import apply_cdc

    wfs = fs if fs is not None else fslib.fs_for(target_path, spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_hook is not None:
            batch_hook(batch_df, batch_id)
        batch_df = batch_df.localCheckpoint(eager=True)
        current = spark.read.parquet(fslib.resolve_dataset(wfs, target_path))
        merged = apply_cdc(
            current, batch_df, key_cols=keys, op_col=op_col, version_col=version_col
        )
        staged = fslib.stage_path(wfs, target_path, f"cdc-{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        fslib.commit_staged(wfs, staged, target_path, require_marker=True)

    writer = change_stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("open_start", LongType()),
        StructField("open_end", LongType()),
        StructField("open_count", LongType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in micros


def sessionize_stateful(stream: DataFrame, flush_type: str | None = None):
    """Custom stateful operator: gap-based sessionization per user via
    ``applyInPandasWithState`` (GroupState). Emits closed sessions;
    keeps at most one open session per user in state. Timeout closes
    sessions when a user goes quiet past the watermark.

    ``flush_type``: optional stream-control marker. An event whose
    ``event_type`` equals it closes the group's open session and DRAINS
    the state (no new session starts, no timer re-arms) — the standard
    end-of-stream tombstone for bounded replays, where waiting on
    processing-time timeouts would stall an AvailableNow drain for the
    full timer duration. Live unbounded streams leave it None and rely
    on the timeout path."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                s, e, c = state.get
                state.remove()
                yield pd.DataFrame(
                    {"user_id": [user_id], "session_start_us": [s],
                     "session_end_us": [e], "n_events": [c]}
                )
            return
        ts_all = []
        flushed = False
        for pdf in pdf_iter:
            if flush_type is not None:
                is_flush = pdf["event_type"] == flush_type
                flushed = flushed or bool(is_flush.any())
                pdf = pdf[~is_flush]
            ts_all.extend(int(t) for t in pdf["tsn"])
        ts_all.sort()
        if state.exists:
            s, e, c = state.get
        else:
            s = e = None
            c = 0
        closed = []
        for t in ts_all:
            if s is None:
                s, e, c = t, t, 1
            elif t - e > SESSION_GAP_US:
                closed.append((s, e, c))
                s, e, c = t, t, 1
            else:
                e, c = t, c + 1
        if flushed:
            if s is not None:
                closed.append((s, e, c))
            if state.exists:
                state.remove()
        elif s is not None:
            state.update((s, e, c))
            state.setTimeoutDuration(60_000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start_us": [x[0] for x in closed],
                    "session_end_us": [x[1] for x in closed],
                    "n_events": [x[2] for x in closed],
                }
            )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_micros", LongType()),
    ]
)

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


class RunningTotalsProcessor:
    """StatefulProcessor for ``transformWithStateInPandas``: per-user
    running (event count, Σ floor(value·1e6)) in a single ValueState.

    Why integer micro-units: a float running sum would depend on
    arrival order and diverge from any batch oracle at the 6th decimal;
    floor(value·1e6) is the same double→int map in Spark, pandas, and
    DuckDB, and integer addition is order-free — the emitted totals are
    exact and engine-comparable. State is two int64 per user — the
    bounded-state contract.

    Why transformWithState over applyInPandasWithState: typed state
    variables (ValueState/ListState/MapState), timers, and TTL are the
    long-term arbitrary-state surface (requires the RocksDB state store
    provider); the sessionizer keeps the older GroupState API so the
    repo exercises both.

    Runtime soft dependency: the transformWithState Python runner
    speaks protobuf to the JVM — EXECUTION needs ``google.protobuf``
    installed (absent in this container; plan construction and the
    processor logic are tested everywhere, the end-to-end drain runs
    where protobuf exists — the same honest-gating contract as the PIL
    codec path)."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "totals",
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("micros", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        n = 0
        micros = 0
        for pdf in rows:
            n += int(len(pdf))
            micros += int(
                np.floor(pdf["value"].to_numpy() * 1_000_000.0).sum()
            )
        if self._state.exists():
            prev = self._state.get()
            n += int(prev[0])
            micros += int(prev[1])
        self._state.update((n, micros))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [n],
                "total_micros": [micros],
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def user_running_totals_tws(stream: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    update-mode emissions, one row per (user, micro-batch); counts are
    monotone so the final state is the max-count row per user."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass dynamically so the module imports even on a PySpark
    # without the API (soft-dep pattern used for PIL)
    proc = type(
        "_RunningTotals", (StatefulProcessor,), dict(RunningTotalsProcessor.__dict__)
    )()
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_with_rocksdb_state(
    result: DataFrame, spark: SparkSession, state_partitions: int | None = None
) -> DataFrame:
    """Drain an update-mode transformWithState stream: the API requires
    the RocksDB state store provider — set for the run, restored after
    (first-run checkpoints bake the provider in, same caveat as the
    shard count)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        return _run_to_memory(result, spark, "update", state_partitions)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
