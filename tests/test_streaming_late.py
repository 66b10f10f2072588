"""Watermark semantics: late rows beyond the watermark horizon are
dropped from windowed streaming aggregates.

Micro-batch sequencing is forced with maxFilesPerTrigger=1 over two
parquet files (the file source lists lexicographically), in append
output mode so only watermark-finalized windows are emitted.
"""

from __future__ import annotations

import glob
import shutil
import uuid

from pyspark.sql import functions as F

H = 3_600_000_000  # 1h in micros
T0 = 1_600_000_000_000_000  # aligned base (divisible by 1h)


def _write(spark, tmp_path, src, name, micros):
    """Stage a single flat parquet FILE (the streaming file source does
    not recurse into write.parquet's output directories)."""
    stage = str(tmp_path / f"stage_{name}")
    spark.createDataFrame([(m,) for m in micros], "tus long").coalesce(1)\
        .write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{src}/{name}.parquet")


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    import os
    os.makedirs(src, exist_ok=True)
    # batch 1: two rows in the hour-0 window, one two hours later →
    # after this batch the watermark advances to (T0+2h) - 1h
    _write(spark, tmp_path, src, "b0", [T0 + 60, T0 + 120, T0 + 2 * H])

    stream = (
        spark.readStream.schema("tus long")
        .parquet(src)
        .withColumn("event_time", F.timestamp_micros(F.col("tus")))
    )
    agg = (
        stream.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("start"), "n")
    )
    name = "late" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()  # batch 1 (watermark still 0 inside it)
        # batch 2: a LATE row back in hour 0 — behind the watermark,
        # must be dropped — plus a fresh row that keeps time moving
        _write(spark, tmp_path, src, "b1", [T0 + 180, T0 + 3 * H])
        q.processAllAvailable()
    finally:
        q.stop()

    win0 = T0 - (T0 % H)  # Spark aligns windows to epoch-hour boundaries
    got = {
        int(r["start"].timestamp() * 1_000_000): r["n"]
        for r in spark.table(name).collect()
    }
    # hour-0 window finalized with ONLY the 2 on-time rows — the late
    # third row arrived behind the watermark and was dropped
    assert got.get(win0) == 2, got
    # later windows stay open (watermark never passes their ends), so
    # append mode must not have emitted them
    assert all(k == win0 for k in got), got


def test_foreachbatch_upsert_sink(spark, sf_dir, tmp_path):
    """Streaming upsert: after the stream drains, the target holds
    exactly one row per event_id (last write wins)."""
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark.streaming.events import (
        read_committed,
        read_events_stream,
        upsert_sink,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", F.col("tsn").alias("version")
    )
    target = str(tmp_path / "events_upserted")
    q = upsert_sink(stream, target, keys=["event_id"], version_col="version", spark=spark)
    q.awaitTermination()
    out = read_committed(spark, target)
    n_distinct = out.select("event_id").distinct().count()
    assert out.count() == n_distinct
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert n_distinct == src.select("event_id").distinct().count()


def test_upsert_sink_pointer_commit_mode(spark, sf_dir, tmp_path):
    """The commit path end-to-end with an injected FS: every micro-batch
    commit is a generation dir + _LATEST pointer flip. The drained
    target must (a) resolve through the pointer, (b) hold one row per
    event_id of the source, and (c) keep at most KEEP_GENERATIONS
    generation dirs."""
    import os

    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark import fs as fslib
    from database_fragmentation_and_query_processor_spark.streaming.events import (
        read_committed,
        read_events_stream,
        upsert_sink,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", F.col("tsn").alias("version")
    )
    target = str(tmp_path / "events_upserted_ptr")
    pointer_fs = fslib.LocalFS()
    q = upsert_sink(
        stream, target, keys=["event_id"], version_col="version",
        spark=spark, fs=pointer_fs,
    )
    q.awaitTermination()
    # the logical target dir is NOT directly readable parquet: content
    # lives in the committed generation the pointer names
    assert os.path.exists(os.path.join(target, fslib.POINTER_FILE))
    resolved = fslib.resolve_dataset(pointer_fs, target)
    assert resolved != target and os.path.basename(resolved).startswith("gen-")
    out = read_committed(spark, target)
    n_distinct = out.select("event_id").distinct().count()
    assert out.count() == n_distinct
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert n_distinct == src.select("event_id").distinct().count()
    gens = [n for n in os.listdir(target) if n.startswith("gen-")]
    assert 1 <= len(gens) <= fslib.KEEP_GENERATIONS


def test_upsert_sink_crash_resume_exactly_once(spark, tmp_path):
    """Kill the streaming upsert mid-stream, restart from the SAME
    checkpoint, and prove (a) the restart RESUMES — no batch the first
    run committed is re-executed — and (b) the final target equals the
    batch-mode oracle over all input files: exactly-once net effect
    through crash + retry."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from database_fragmentation_and_query_processor_spark.streaming.events import (
        read_committed,
        upsert_sink,
    )

    schema = StructType(
        [StructField("k", LongType()), StructField("version", LongType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    # three commit-ordered files; key overlap across files so the merge
    # has real last-write-wins work (k % 50 collides between files)
    for i in range(3):
        rows = [(j % 50 + i * 30, i * 100 + j) for j in range(60)]
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(src / f"stage{i}"))
        part = [
            f for f in (src / f"stage{i}").iterdir() if f.name.endswith(".parquet")
        ][0]
        part.rename(src / f"file{i}.parquet")

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    ledger = tmp_path / "batches.jsonl"
    poison = tmp_path / "poison_armed"
    poison.touch()

    def hook(batch_df, batch_id):
        # crash exactly once, on the first batch after batch 0
        if batch_id >= 1 and poison.exists():
            poison.unlink()
            raise RuntimeError("injected crash before merge")
        with open(ledger, "a") as f:
            f.write(json.dumps({"batch": batch_id,
                                "n": batch_df.count()}) + "\n")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return upsert_sink(
            stream, target, keys=["k"], version_col="version", spark=spark,
            checkpoint_dir=ckpt, batch_hook=hook,
        )

    q = start()
    crashed = False
    try:
        q.awaitTermination()
    except Exception:  # StreamingQueryException from the injected crash
        crashed = True
    assert crashed, "injected crash did not surface"

    run1 = [json.loads(line) for line in open(ledger)]
    committed_run1 = {r["batch"] for r in run1}
    assert committed_run1 == {0}  # batch 0 committed, batch 1 died

    q2 = start()
    q2.awaitTermination()
    run_all = [json.loads(line) for line in open(ledger)]
    run2 = run_all[len(run1):]
    # resume, not restart: batch 0's offsets were committed, so the
    # second run never re-executes it
    assert 0 not in {r["batch"] for r in run2}
    assert sum(r["n"] for r in run2) == 120  # files 1 and 2 only

    out = read_committed(spark, target)
    expect = (
        spark.read.schema(schema).parquet(str(src))
        .groupBy("k").agg(F.max("version").alias("version"))
    )
    assert out.count() == expect.count()
    assert (
        out.join(expect, ["k", "version"]).count() == expect.count()
    ), "target diverges from batch-mode last-write-wins oracle"


def test_cdc_sink_crash_resume(spark, tmp_path):
    """Mirror of the upsert crash-resume proof for the CDC path: kill
    after the first change-batch commits, restart from the same
    checkpoint, assert the committed batch is not replayed and the
    final target equals applying the whole changelog in order
    (deletes included)."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from database_fragmentation_and_query_processor_spark.streaming.events import (
        cdc_sink,
        read_committed,
    )

    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(k, 0, f"v{k}") for k in range(50)], "k bigint, version bigint, payload string"
    ).write.parquet(target)

    ch_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("version", LongType()),
            StructField("payload", StringType()),
            StructField("op", StringType()),
        ]
    )
    src = tmp_path / "changes"
    src.mkdir()
    files = [
        [(k, 1, f"u{k}", "U") for k in range(20)],                      # file0
        [(k, 2, None, "D") for k in range(10)]
        + [(k, 2, f"i{k}", "I") for k in range(100, 110)],              # file1
        [(k, 3, f"w{k}", "U") for k in range(100, 105)],                # file2
    ]
    for i, rows in enumerate(files):
        df = spark.createDataFrame(rows, ch_schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(src / f"stage{i}"))
        part = [
            f for f in (src / f"stage{i}").iterdir() if f.name.endswith(".parquet")
        ][0]
        part.rename(src / f"file{i}.parquet")

    ckpt = str(tmp_path / "ckpt")
    ledger = tmp_path / "batches.jsonl"
    poison = tmp_path / "poison_armed"
    poison.touch()

    def hook(batch_df, batch_id):
        if batch_id >= 1 and poison.exists():
            poison.unlink()
            raise RuntimeError("injected crash before cdc apply")
        with open(ledger, "a") as f:
            f.write(json.dumps({"batch": batch_id}) + "\n")

    def start():
        stream = (
            spark.readStream.schema(ch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return cdc_sink(
            stream, target, keys=["k"], spark=spark, version_col="version",
            checkpoint_dir=ckpt, batch_hook=hook,
        )

    q = start()
    crashed = False
    try:
        q.awaitTermination()
    except Exception:
        crashed = True
    assert crashed, "injected crash did not surface"
    run1 = [json.loads(line) for line in open(ledger)]
    assert {r["batch"] for r in run1} == {0}

    q2 = start()
    q2.awaitTermination()
    run2 = [json.loads(line) for line in open(ledger)][len(run1):]
    assert 0 not in {r["batch"] for r in run2}

    out = {r["k"]: (r["version"], r["payload"])
           for r in read_committed(spark, target).collect()}
    # deletes applied, updates latest-win, inserts present
    assert all(k not in out for k in range(10))
    assert all(out[k] == (1, f"u{k}") for k in range(10, 20))
    assert all(out[k] == (0, f"v{k}") for k in range(20, 50))
    assert all(out[k] == (3, f"w{k}") for k in range(100, 105))
    assert all(out[k] == (2, f"i{k}") for k in range(105, 110))
    assert len(out) == 50


def test_catalog_report_and_compaction(spark, ratings_file, warehouse):
    import glob

    from database_fragmentation_and_query_processor_spark import api
    from database_fragmentation_and_query_processor_spark.catalog import FragmentCatalog

    def live_hash():
        return FragmentCatalog(warehouse).live("ratings_hash")

    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    api.range_partition(spark, "ratings", 5, warehouse)
    api.hash_partition(spark, "ratings", 4, warehouse)
    rep = api.catalog_report(spark, warehouse)
    rows = {(r["scheme"], r["fragment_id"]): r["n_rows"] for r in rep.collect()}
    assert sum(v for (s, _), v in rows.items() if s == "range") == 20
    assert sum(v for (s, _), v in rows.items() if s == "hash") == 20

    # trickle inserts create extra files; compaction rewrites to 1/fragment
    for i in range(3):
        api.hash_insert(spark, "ratings", 100 + i, i, 1.0, warehouse)
    before = len(glob.glob(f"{live_hash()}/fragment_id=*/*.parquet"))
    total_before = spark.read.parquet(live_hash()).count()
    api.compact_fragments(spark, warehouse, "ratings", "hash")
    after = len(glob.glob(f"{live_hash()}/fragment_id=*/*.parquet"))
    assert after < before
    frag_dirs = glob.glob(f"{live_hash()}/fragment_id=*")
    for d in frag_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    assert spark.read.parquet(live_hash()).count() == total_before


def test_stream_join_shards_counts_a_parquet_directory(tmp_path):
    """A Spark-written events.parquet is a directory: its row count is
    the sum over its part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_fragmentation_and_query_processor_spark.queries import families

    events = tmp_path / "events.parquet"
    events.mkdir()
    pq.write_table(pa.table({"tus": list(range(120_000))}), events / "part-0.parquet")
    pq.write_table(pa.table({"tus": list(range(80_000))}), events / "part-1.parquet")
    (events / "_SUCCESS").write_text("")
    assert families._stream_join_shards(str(tmp_path)) == 200_000 // 50_000


def test_stream_join_shards_missing_fixture_falls_back_and_logs(tmp_path, caplog):
    from database_fragmentation_and_query_processor_spark.queries import families

    with caplog.at_level("WARNING", logger=families.__name__):
        shards = families._stream_join_shards(str(tmp_path))
    assert shards == families.STREAM_STATE_SHARDS
    assert any("events.parquet" in r.getMessage() for r in caplog.records)
