"""Streaming near-duplicate detection: a foreachBatch sink that
maintains the MinHash-LSH dedup index incrementally as document
batches arrive.

Composes two standing pieces (r11 verdict task 7a):

- ``operators/dedup.py:incremental_near_dup_pairs`` — probe a NEW
  batch against the materialized index at O(batch) cost (the standing
  corpus is never re-shingled or self-joined);
- ``fs.py`` generation commits — each micro-batch writes its
  contribution into a new generation and publishes it with one pointer
  write, so readers never observe a half-written state and crashes
  recover by replay.

Commit layout (r12 verdict task 6): per batch the sink commits only
DELTAS — ``<path>__delta-<batch>`` sibling datasets registered in an
atomically-written ``<path>__DELTAS`` manifest — never a rewrite of
the accumulated state. That makes ingest O(batch) end-to-end: the
probe is O(batch) (unchanged), and now the index/pairs maintenance is
too, where the previous full-state commit re-shuffled and rewrote
the whole corpus index every micro-batch (the one O(corpus)-per-batch
step this module previously carried). ``read_near_dup_index`` /
``read_near_dup_pairs`` resolve base + committed deltas (and accept
a seed index written straight to ``<path>`` as the base segment).

Crash/replay safety: a delta's content is a deterministic function of
its batch and the OTHER committed segments (a batch's own delta is
excluded from its probe view), so re-applying a batch — after a crash
between the pairs and index commits, or on a from-scratch replay with
a fresh checkpoint — overwrites the same delta datasets and re-adds
the same manifest lines; the pair-set read deduplicates on the
(id_a, id_b) key, absorbing the duplicate contributions a replayed
probe can emit across deltas.

At 100 TB the shape holds: per ingest batch the work is one
shingle+sign pass over the batch, a band-bucket join that shuffles
only buckets the batch touches (AQE broadcasts the small batch side),
the exact-Jaccard verification of the surviving candidates, and two
O(batch) delta commits — the standing corpus is never re-shingled,
re-shuffled, or rewritten.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

MANIFEST_SUFFIX = "__DELTAS"
DELTA_SEP = "__delta-"


def _manifest_path(path: str) -> str:
    return path + MANIFEST_SUFFIX


def _delta_path(path: str, name: str) -> str:
    return f"{path}{DELTA_SEP}{name}"


def _read_manifest(fs, path: str) -> list[str]:
    mp = _manifest_path(path)
    if not fs.exists(mp):
        return []
    return [ln for ln in fs.read_text(mp).splitlines() if ln.strip()]


def _add_to_manifest(fs, path: str, name: str) -> None:
    names = set(_read_manifest(fs, path))
    names.add(name)
    fs.write_text_atomic(_manifest_path(path), "\n".join(sorted(names)) + "\n")


class MissingDeltaError(FileNotFoundError):
    """A manifest-listed delta is gone from storage: the committed
    state is incomplete (e.g. a tmp reaper pruned the delta dirs while
    the manifest file survived). Readers must not silently serve the
    partial union; callers that can replay should drop their
    checkpoint and re-ingest from scratch."""


def _segment_dirs(
    fs, path: str, *, exclude: str | None = None
) -> list[str]:
    """Readable directories of the dataset: the base segment (its
    committed generation, else a seed index written straight to
    ``path``, which Spark's ``_SUCCESS`` marker shows complete) plus
    every manifest-registered delta, optionally excluding one delta
    name (a batch's own delta must not feed its own probe on replay).

    A manifest-listed delta that fails ``dataset_exists`` raises
    :class:`MissingDeltaError` — the manifest is written only AFTER
    its delta commits (``_commit_delta``) and compaction clears the
    manifest BEFORE deleting deltas (``_compact_segmented``), so a
    listed-but-missing delta is never a benign race: it is lost data,
    and skipping it would return a silently incomplete union."""
    from .. import fs as fslib

    dirs: list[str] = []
    base = fslib.committed(fs, path)
    if base is not None:
        dirs.append(base)
    for name in _read_manifest(fs, path):
        if exclude is not None and name == exclude:
            continue
        dp = _delta_path(path, name)
        if not fslib.dataset_exists(fs, dp):
            raise MissingDeltaError(
                f"manifest for {path} lists delta {name!r} but no "
                f"committed dataset exists at {dp}; the segmented "
                "state is incomplete — drop the checkpoint and replay"
            )
        dirs.append(fslib.resolve_dataset(fs, dp))
    return dirs


def _commit_delta(fs, df: DataFrame, path: str, name: str) -> None:
    """Commit ``df`` as a new generation of delta ``name`` of dataset
    ``path`` and register it in the manifest (both steps idempotent on
    replay)."""
    from .. import fs as fslib

    target = _delta_path(path, name)
    staged = fslib.stage_path(fs, target, f"nd-{name}")
    df.write.mode("overwrite").parquet(staged)
    fslib.commit_staged(fs, staged, target, require_marker=True)
    _add_to_manifest(fs, path, name)


def read_near_dup_index(
    spark: SparkSession, index_path: str, fs=None
) -> DataFrame:
    """The committed index: base segment + all committed deltas,
    deduplicated on id — segments are disjoint in steady state, but a
    reader racing a compaction (new base committed, manifest not yet
    cleared) sees a delta's rows twice; the rows are identical, so the
    keyed dedup makes the race harmless."""
    from .. import fs as fslib

    wfs = fs if fs is not None else fslib.fs_for(index_path, spark)
    dirs = _segment_dirs(wfs, index_path)
    if not dirs:
        raise FileNotFoundError(f"no committed index at {index_path}")
    return spark.read.parquet(*dirs).dropDuplicates(["id"])


def read_near_dup_pairs(
    spark: SparkSession, pairs_path: str, fs=None
) -> DataFrame:
    """The committed near-dup pair set: union of all committed pair
    deltas (plus a base segment if one exists), deduplicated on
    the (id_a, id_b) key — replayed batches may contribute the same
    pair through different deltas; jaccard is deterministic, so either
    copy may win."""
    from .. import fs as fslib

    wfs = fs if fs is not None else fslib.fs_for(pairs_path, spark)
    dirs = _segment_dirs(wfs, pairs_path)
    if not dirs:
        raise FileNotFoundError(f"no committed pairs at {pairs_path}")
    return spark.read.parquet(*dirs).dropDuplicates(["id_a", "id_b"])


def _compact_segmented(spark, path: str, reader, tag: str, fs=None) -> int:
    """Fold a segmented dataset's committed deltas back into its base.

    Commit order and crash safety:

    1. commit the keyed-deduped UNION (base + deltas, via ``reader``)
       as a new generation of the base — after this commit every row is in
       the base, and a reader that still sees the old manifest reads
       some rows twice (identical rows; both readers dedup on their
       keys);
    2. atomically clear the manifest — readers now see the base alone;
    3. best-effort delete the delta datasets — stale dirs left by a
       crash here are invisible (readers only resolve manifest-listed
       deltas) and a later ingest with the same batch id overwrites.

    A crash BEFORE step 2 leaves base ⊇ deltas with both visible
    (deduped reads stay correct); re-running compaction converges.
    """
    from .. import fs as fslib

    wfs = fs if fs is not None else fslib.fs_for(path, spark)
    names = _read_manifest(wfs, path)
    if not names:
        return 0
    full = reader(spark, path, fs=wfs)
    staged = fslib.stage_path(wfs, path, tag)
    full.write.mode("overwrite").parquet(staged)
    fslib.commit_staged(wfs, staged, path, require_marker=True)
    wfs.write_text_atomic(_manifest_path(path), "")
    # Invalidate this session's cached plan fragments over the replaced
    # paths: a still-persisted probe DataFrame from a prior sink run is
    # a cached relation over parquet(path), and Spark's CacheManager
    # SUBSTITUTES it into any later identical-path read — without the
    # refresh, post-compaction readers in the same session get the
    # pre-compaction rows back even though the files on disk are
    # correct (observed, pinned in tests/test_r13_additions.py).
    spark.catalog.refreshByPath(path)
    for name in names:
        spark.catalog.refreshByPath(_delta_path(path, name))
        try:
            wfs.delete(_delta_path(path, name), recursive=True)
        except fslib.FS_ERRORS:  # unreferenced now; the next ingest replaces it
            logger.warning("could not delete folded delta %s", name, exc_info=True)
    return len(names)


def compact_near_dup_index(
    spark: SparkSession, index_path: str, fs=None
) -> int:
    """Fold the committed index deltas back into the base segment —
    the maintenance half of the delta layout's lifecycle (ingest
    appends O(batch) deltas; a periodic compaction bounds segment
    count so the probe's multi-path read never degrades into thousands
    of tiny files at 100 TB). Returns the number of deltas folded.
    Crash-safety contract in :func:`_compact_segmented`."""
    return _compact_segmented(
        spark, index_path, read_near_dup_index, "nd-compact", fs=fs
    )


def compact_near_dup_pairs(
    spark: SparkSession, pairs_path: str, fs=None
) -> int:
    """Same recipe for the accumulated pair set: the pair deltas are
    append-only RESULTS (one per ingest batch), so their read
    amplification grows with ingest count just like the index's;
    compaction folds them into one keyed-deduped base. Returns the
    number of deltas folded."""
    return _compact_segmented(
        spark, pairs_path, read_near_dup_pairs, "ndp-compact", fs=fs
    )


def near_dup_sink(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    spark: SparkSession,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    checkpoint_dir: str | None = None,
    batch_hook=None,
    fs=None,
    compact_threshold: int | None = 16,
):
    """Start an AvailableNow foreachBatch query that, per micro-batch
    of documents: probes the committed LSH index (base + prior deltas)
    for near-dup pairs touching the batch, then commits the batch's
    pair delta and index delta. Returns the started StreamingQuery.

    ``index_path`` may hold the standing corpus's materialized index
    (``operators/dedup.py:build_dedup_index`` output) before the first
    batch, or nothing (pure-streaming bootstrap: the first batch's
    delta seeds it). ``batch_hook(batch_df, batch_id)`` is the
    fault-injection point, as in ``events.upsert_sink``.

    ``compact_threshold`` is the delta-layout maintenance policy: when
    a batch's commit leaves the index manifest holding at least this
    many deltas, the sink folds index AND pairs back into their base
    segments before the next batch (``_compact_segmented`` crash
    contract) — an M-batch ingest therefore never accumulates more
    than ``compact_threshold`` committed segments, so the multi-path
    probe read stays bounded at 100 TB without an operator remembering
    to call ``compact_near_dup_index``. ``None`` disables the policy
    (explicit-call-only compaction, the pre-r14 behavior).
    """
    from ..cache import track
    from .. import fs as fslib
    from ..operators.dedup import build_dedup_index, incremental_near_dup_pairs

    wfs = fs if fs is not None else fslib.fs_for(index_path, spark)
    # The probe index, cached ONCE for the stream's lifetime and grown
    # per batch by lineage union of persisted parts — the committed
    # segments stay the durable truth (a restarted sink rebuilds this
    # from them), but within one run the standing corpus is never
    # re-read or re-materialized per micro-batch.
    probe: dict[str, DataFrame] = {}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_hook is not None:
            batch_hook(batch_df, batch_id)
        # no localCheckpoint: batch_df feeds exactly one consumer
        # (build_dedup_index below, persisted); re-deriving it would
        # just re-read the batch's own files, and the checkpoint was a
        # full extra job per micro-batch
        delta_name = f"{batch_id:06d}"
        if "index" not in probe:
            # first batch this RUN: seed the probe cache from the
            # committed segments, EXCLUDING the batch's own delta so a
            # replayed batch probes exactly the pre-batch state
            dirs = _segment_dirs(wfs, index_path, exclude=delta_name)
            if dirs:
                probe["index"] = track(spark.read.parquet(*dirs).persist())
            else:
                probe["index"] = build_dedup_index(
                    batch_df.limit(0), id_col, text_col, k, shingle_n
                )
        index = probe["index"]
        new_index = track(
            build_dedup_index(
                batch_df, id_col, text_col, k, shingle_n
            ).persist()
        )
        pairs, _updated = incremental_near_dup_pairs(
            index,
            batch_df,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            k=k,
            bands=bands,
            shingle_n=shingle_n,
            new_index=new_index,
        )
        # pairs delta FIRST: a crash before the index commit replays
        # this batch against the pre-batch segments and regenerates the
        # same delta (overwrite + idempotent manifest add); committing
        # index first would also reconverge (see module docstring) but
        # pairs-first keeps the reader invariant "every committed
        # pair's doc is in some committed batch"
        _commit_delta(wfs, pairs, pairs_path, delta_name)
        _commit_delta(wfs, new_index, index_path, delta_name)
        if (
            compact_threshold is not None
            and len(_read_manifest(wfs, index_path)) >= compact_threshold
        ):
            compact_near_dup_index(spark, index_path, fs=wfs)
            compact_near_dup_pairs(spark, pairs_path, fs=wfs)
            # the old segment dirs are gone; rebase the probe on the
            # fresh single-segment base
            probe["index"] = track(
                spark.read.parquet(
                    fslib.resolve_dataset(wfs, index_path)
                ).persist()
            )
            return
        # grow the in-run probe view by the JUST-COMMITTED parquet
        # delta, not the batch-rooted new_index: foreachBatch scopes
        # batch_df to its micro-batch, so under cache eviction a later
        # batch would recompute a prior batch's lineage outside that
        # batch — rooting the cached part in durable storage makes the
        # recompute read committed files instead
        durable = track(
            spark.read.parquet(
                fslib.resolve_dataset(wfs, _delta_path(index_path, delta_name))
            ).persist()
        )
        probe["index"] = index.unionByName(durable)

    writer = doc_stream.writeStream.foreachBatch(process_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
