"""Round-12 additions: the streaming near-dup sink (verdict task 7a —
foreachBatch maintenance of the incremental LSH index) and the r12
rounding-lattice helpers.

The oracle equivalence of the ``streaming_near_dup`` registry entry is
covered by the test_oracle_queries sweep; these tests pin the sink's
NON-oracle properties: cross-batch pair discovery, crash-resume
convergence, pure-streaming bootstrap, and replay idempotence.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from database_fragmentation_and_query_processor_spark.operators import dedup as D
from database_fragmentation_and_query_processor_spark.streaming.near_dup import (
    near_dup_sink,
)

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

#: Tiny corpus with controlled near-dup structure: (1, 101) and
#: (2, 102) are exact text twins; 3 and 103 share most shingles; 50/51
#: are unrelated.
BASE = "the quick brown fox jumps over the lazy dog again and again"
DOCS = [
    (1, BASE),
    (2, "completely different content about spark lsh banding tables"),
    (3, BASE + " with a small suffix change"),
    (50, "unrelated text one about fragment catalogs and range buckets"),
    (51, "unrelated text two about pointer commits and generation dirs"),
    (101, BASE),
    (102, "completely different content about spark lsh banding tables"),
    (103, BASE + " with a small suffix change"),
]


def _write_batches(spark, src_dir, batches):
    """Write each batch (list of rows) as one commit-ordered parquet
    file so maxFilesPerTrigger=1 yields one micro-batch per file."""
    src_dir.mkdir(exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        stage = src_dir / f"stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = [p for p in stage.iterdir() if p.name.endswith(".parquet")][0]
        part.rename(src_dir / f"commit-{i:03d}.parquet")


def _run_sink(spark, src_dir, index_path, pairs_path, ckpt=None, hook=None):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    return near_dup_sink(
        stream,
        str(index_path),
        str(pairs_path),
        spark,
        threshold=0.6,
        k=16,
        bands=4,
        checkpoint_dir=str(ckpt) if ckpt else None,
        batch_hook=hook,
    )


def _oracle_pairs(spark, all_docs, streamed_ids):
    """Batch-mode ground truth: full near_dup_pairs restricted to pairs
    touching a streamed doc."""
    df = spark.createDataFrame(all_docs, DOC_SCHEMA)
    pairs = D.near_dup_pairs(df, threshold=0.6, k=16, bands=4)
    sids = list(streamed_ids)
    return {
        (r["id_a"], r["id_b"])
        for r in pairs.collect()
        if r["id_a"] in sids or r["id_b"] in sids
    }


def test_cross_batch_pairs_found(spark, tmp_path):
    """A doc streamed in batch 0 pairing with its twin in batch 2 is
    found when batch 2 probes the index batch 0 updated — the identity
    incremental_near_dup pins for one batch, across batch boundaries."""
    standing = [d for d in DOCS if d[0] in (1, 2, 50)]
    b0 = [d for d in DOCS if d[0] == 101]  # twin of standing 1
    b1 = [d for d in DOCS if d[0] in (51, 3)]
    b2 = [d for d in DOCS if d[0] in (102, 103)]  # twins of 2 (standing), 3 (b1)
    src = tmp_path / "src"
    _write_batches(spark, src, [b0, b1, b2])
    index_path = tmp_path / "index"
    pairs_path = tmp_path / "pairs"
    spark.createDataFrame(standing, DOC_SCHEMA).transform(
        lambda df: D.build_dedup_index(df, k=16)
    ).write.mode("overwrite").parquet(str(index_path))

    q = _run_sink(spark, src, index_path, pairs_path)
    q.awaitTermination()

    from database_fragmentation_and_query_processor_spark.streaming.near_dup import (
        read_near_dup_pairs,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in read_near_dup_pairs(spark, str(pairs_path)).collect()
    }
    streamed = {101, 51, 3, 102, 103}
    want = _oracle_pairs(spark, DOCS, streamed)
    assert got == want
    # the load-bearing cross-batch instances
    assert (1, 101) in got       # stream vs standing index
    assert (3, 103) in got       # batch-1 doc vs batch-2 twin
    assert (2, 102) in got       # standing vs batch-2


def test_bootstrap_without_standing_index(spark, tmp_path):
    """Pure-streaming start: no standing index exists; the first batch
    seeds it and later batches still find their earlier twins."""
    b0 = [d for d in DOCS if d[0] in (1, 2)]
    b1 = [d for d in DOCS if d[0] in (101, 102, 50)]
    src = tmp_path / "src"
    _write_batches(spark, src, [b0, b1])
    q = _run_sink(spark, src, tmp_path / "index", tmp_path / "pairs")
    q.awaitTermination()

    from database_fragmentation_and_query_processor_spark.streaming.near_dup import (
        read_near_dup_pairs,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in read_near_dup_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    assert got == {(1, 101), (2, 102)}


def test_crash_resume_converges(spark, tmp_path):
    """Kill the sink on batch 1, restart from the same checkpoint:
    batch 0 is not re-executed (offsets committed), and the final pair
    set equals the batch-mode oracle — the keyed merges make the
    retried batch idempotent."""
    standing = [d for d in DOCS if d[0] in (1, 2)]
    b0 = [d for d in DOCS if d[0] == 101]
    b1 = [d for d in DOCS if d[0] in (102, 3)]
    b2 = [d for d in DOCS if d[0] == 103]
    src = tmp_path / "src"
    _write_batches(spark, src, [b0, b1, b2])
    index_path = tmp_path / "index"
    pairs_path = tmp_path / "pairs"
    spark.createDataFrame(standing, DOC_SCHEMA).transform(
        lambda df: D.build_dedup_index(df, k=16)
    ).write.mode("overwrite").parquet(str(index_path))

    poison = tmp_path / "poison"
    poison.touch()
    seen: list[int] = []

    def hook(batch_df, batch_id):
        if batch_id >= 1 and poison.exists():
            poison.unlink()
            raise RuntimeError("injected crash")
        seen.append(batch_id)

    ckpt = tmp_path / "ckpt"
    q = _run_sink(spark, src, index_path, pairs_path, ckpt=ckpt, hook=hook)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert seen == [0]

    q2 = _run_sink(spark, src, index_path, pairs_path, ckpt=ckpt, hook=hook)
    q2.awaitTermination()
    assert 0 not in seen[1:]  # resumed, batch 0 never re-ran

    from database_fragmentation_and_query_processor_spark.streaming.near_dup import (
        read_near_dup_pairs,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in read_near_dup_pairs(spark, str(pairs_path)).collect()
    }
    want = _oracle_pairs(spark, standing + b0 + b1 + b2, {101, 102, 3, 103})
    assert got == want


def test_replay_from_scratch_is_idempotent(spark, tmp_path):
    """A full replay with a FRESH checkpoint over already-committed
    state reconverges: the keyed merges absorb every duplicate batch
    contribution."""
    b0 = [d for d in DOCS if d[0] in (1, 2)]
    b1 = [d for d in DOCS if d[0] in (101, 102)]
    src = tmp_path / "src"
    _write_batches(spark, src, [b0, b1])
    for _ in range(2):  # second run = fresh-checkpoint replay
        q = _run_sink(spark, src, tmp_path / "index", tmp_path / "pairs")
        q.awaitTermination()

    from database_fragmentation_and_query_processor_spark.streaming.near_dup import (
        read_near_dup_index,
        read_near_dup_pairs,
    )

    pairs = read_near_dup_pairs(spark, str(tmp_path / "pairs"))
    assert pairs.count() == pairs.dropDuplicates(["id_a", "id_b"]).count() == 2
    index = read_near_dup_index(spark, str(tmp_path / "index"))
    assert index.count() == index.dropDuplicates(["id"]).count() == 4


# ---------------------------------------------------------------------------
# crosslingual_dedup (r11 verdict task 7b)
# ---------------------------------------------------------------------------


def test_crosslingual_banding_recall_is_total(spark, sf_dir):
    """The banded sign-LSH candidate stage must not lose a single
    verified pair on the fixture: the query's output equals the
    brute-force all-pairs verify over the same centered vectors
    (4 bands x 4 planes => any-band recall ~0.998 per twin at
    cosine~0.99; the fixture's twin population is small enough that
    a miss would show)."""
    from database_fragmentation_and_query_processor_spark.queries import (
        common,
        docops,
        registry,
    )

    out = registry._QUERIES_ALL["crosslingual_dedup"](spark, sf_dir)
    rows = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # every synthesized clone pair must be recovered: clone of v pairs
    # with v itself (rotated language, cosine ~0.99 after centering)
    emb_ids = {
        r["vec_id"]
        for r in common._emb(spark, sf_dir).select("vec_id").collect()
    }
    expected_twins = {
        (i, i + docops.XL_SALT) for i in emb_ids if i % docops.XL_MOD == 0
    }
    assert expected_twins <= rows
    # and nothing below the verify threshold sneaks through
    assert all(r >= docops.XL_TAU for r in
               [x["cosine_sim"] for x in out.collect()])


def test_crosslingual_pairs_are_cross_language(spark, sf_dir):
    from database_fragmentation_and_query_processor_spark.queries import registry

    out = registry._QUERIES_ALL["crosslingual_dedup"](spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r["lang_a"] != r["lang_b"] for r in out)


def test_crosslingual_partition_invariance(spark, sf_dir):
    """Same result under a different partitioning of the inputs — the
    means are decimal-exact sums (order-independent) and everything
    downstream is fixed-index-order arithmetic."""
    from database_fragmentation_and_query_processor_spark.queries import registry

    base = registry._QUERIES_ALL["crosslingual_dedup"](spark, sf_dir)
    rows1 = sorted(map(tuple, base.collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows2 = sorted(
            map(tuple, registry._QUERIES_ALL["crosslingual_dedup"](spark, sf_dir).collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows1 == rows2
