"""Warehouse FS shim (fs.py): the driver-side metadata/commit IO must
work identically through POSIX (LocalFS) and the Hadoop FileSystem API
(HadoopFS over file:// — same code path as hdfs:// / s3a://), and every
dataset commits by one protocol: a new generation directory made live
by one atomic pointer write.

Also pins the round-6 invariant that NO bare POSIX mutation remains on
warehouse paths outside the shim in the four modules the r5 verdict
flagged (catalog, api, streaming sinks, ingestion ledger).
"""

from __future__ import annotations

import os

import pytest

from database_fragmentation_and_query_processor_spark import fs as fslib
from database_fragmentation_and_query_processor_spark.catalog import (
    FragmentCatalog,
    HashMetadata,
    RangeMetadata,
    RoundRobinMetadata,
)


# ---------------------------------------------------------------------------
# LocalFS primitives
# ---------------------------------------------------------------------------

def test_localfs_text_roundtrip_and_listing(tmp_path):
    fs = fslib.LocalFS()
    base = str(tmp_path / "wh")
    fs.makedirs(base)
    p = fslib.join(base, "meta.json")
    fs.write_text_atomic(p, '{"a": 1}')
    assert fs.exists(p) and not fs.is_dir(p)
    assert fslib.read_json(fs, p) == {"a": 1}
    # atomic write leaves no tmp litter
    names = [os.path.basename(c[0]) for c in fs.list_status(base)]
    assert names == ["meta.json"]
    # the empty text (a cleared near-dup manifest: nothing to preallocate)
    # and non-ASCII text read back byte-exact, as UTF-8
    for text in ("", "Amélie · 東京 · ☃\n"):
        fs.write_text_atomic(p, text)
        assert fs.read_text(p) == text
        with open(p, "rb") as f:
            assert f.read() == text.encode("utf-8")
    fs.delete(p)
    assert not fs.exists(p)


def test_localfs_accepts_file_uris(tmp_path):
    fs = fslib.LocalFS()
    uri = "file://" + str(tmp_path / "x.txt")
    fs.write_text_atomic(uri, "hi")
    assert fs.read_text(uri) == "hi"
    assert (tmp_path / "x.txt").read_text() == "hi"


def test_fs_for_dispatch(tmp_path):
    assert isinstance(fslib.fs_for(str(tmp_path)), fslib.LocalFS)
    assert isinstance(fslib.fs_for("file:///tmp/x"), fslib.LocalFS)
    with pytest.raises(ValueError):
        fslib.fs_for("s3a://bucket/wh")  # no session → explicit error


def _write_marker_dir(fs, d, text):
    fs.makedirs(d)
    fs.write_text_atomic(fslib.join(d, "part-0.txt"), text)


# ---------------------------------------------------------------------------
# Commit protocol: a generation made live by the _LATEST pointer
# ---------------------------------------------------------------------------

def test_commit_pointer_flip_and_prune(tmp_path):
    fs = fslib.LocalFS()
    target = str(tmp_path / "ds")
    assert not fslib.dataset_exists(fs, target)
    committed = []
    for i in range(4):
        staged = fslib.stage_path(fs, target, "gen")
        assert staged.startswith(target + "/gen-")
        _write_marker_dir(fs, staged, f"v{i}")
        committed.append(fslib.commit_staged(fs, staged, target))
    # pointer resolves to the LAST committed generation
    cur = fslib.resolve_dataset(fs, target)
    assert cur == committed[-1]
    assert fs.read_text(fslib.join(cur, "part-0.txt")) == "v3"
    assert fslib.dataset_exists(fs, target)
    # old generations pruned down to KEEP_GENERATIONS
    gens = [n for n in os.listdir(target) if n.startswith("gen-")]
    assert len(gens) == fslib.KEEP_GENERATIONS
    # previous generation retained for in-flight readers
    assert os.path.basename(committed[-2]) in gens


# ---------------------------------------------------------------------------
# HadoopFS through the session JVM, driven with file:// URIs
# ---------------------------------------------------------------------------

def test_hadoopfs_primitives_file_uri(spark, tmp_path):
    base = "file://" + str(tmp_path / "wh")
    fs = fslib.fs_for(base, spark)
    assert isinstance(fs, fslib.HadoopFS)
    assert fs.atomic_rename  # file:// is rename-capable
    fs.makedirs(base)
    p = fslib.join(base, "meta.json")
    fs.write_text_atomic(p, '{"n": 5}')
    assert fs.exists(p)
    assert fslib.read_json(fs, p) == {"n": 5}
    # listing carries (path, is_dir, size, mtime_ns)
    entries = fs.list_status(base)
    assert len(entries) == 1
    path0, is_dir0, size0, mtime0 = entries[0]
    assert path0.endswith("meta.json") and not is_dir0
    assert size0 == len('{"n": 5}') and mtime0 > 0
    fs.rename(p, fslib.join(base, "meta2.json"))
    assert not fs.exists(p) and fs.exists(fslib.join(base, "meta2.json"))
    fs.delete(base, recursive=True)
    assert not fs.exists(base)


def test_hadoopfs_commit_file_uri(spark, tmp_path):
    base = "file://" + str(tmp_path)
    fs = fslib.fs_for(base, spark)
    target = fslib.join(base, "ds")
    s1 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s1, "one")
    assert fslib.commit_staged(fs, s1, target) == s1
    s2 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s2, "two")
    fslib.commit_staged(fs, s2, target)
    cur = fslib.resolve_dataset(fs, target)
    assert cur == s2 and fs.read_text(fslib.join(cur, "part-0.txt")) == "two"
    assert sorted(os.listdir(tmp_path)) == ["ds"]


@pytest.mark.parametrize("store", ["localfs-bare-path", "hadoopfs-file-uri"])
def test_atomic_write_never_leaves_the_file_missing(store, request, tmp_path):
    """The sidecar is the warehouse's commit point, so its replacement
    must be atomic on every store: a reader racing 200 rewrites never
    finds it missing (a delete-then-rename replacement reads as ``{}``,
    every scheme unpartitioned) nor half-written (every read parses to
    one of the written documents), and no temp file is left beside it."""
    import threading

    base = str(tmp_path / "wh")
    if store == "hadoopfs-file-uri":
        base = "file://" + base
        fs = fslib.fs_for(base, request.getfixturevalue("spark"))
        assert isinstance(fs, fslib.HadoopFS)
    else:
        fs = fslib.fs_for(base)
        assert isinstance(fs, fslib.LocalFS)
    path = fslib.join(base, "meta.json")
    written = [{"n": -1}] + [{"n": i, "pad": "x" * (i % 7) * 100} for i in range(200)]
    fslib.write_json_atomic(fs, path, written[0])
    done, missing, seen, bad = threading.Event(), [], [], []

    def read_until_done():
        while not done.is_set():
            try:
                doc = fslib.read_json(fs, path, default={})
            except ValueError as e:  # a partial document
                bad.append(repr(e))
                continue
            if not doc:
                missing.append(1)
            seen.append(doc)

    reader = threading.Thread(target=read_until_done)
    reader.start()
    try:
        for doc in written[1:]:
            fslib.write_json_atomic(fs, path, doc)
    finally:
        done.set()
        reader.join()
    assert missing == [] and bad == []
    assert all(doc in written for doc in seen)
    assert len({doc["n"] for doc in seen}) > 1
    assert fslib.read_json(fs, path) == written[-1]
    assert sorted(os.listdir(tmp_path / "wh")) == ["meta.json"]


def test_hadoopfs_file_uri_lock_create_has_one_winner(spark, tmp_path):
    """``create_exclusive`` is the writer lock's primitive, so on a
    file:// warehouse it must be O_EXCL, not Hadoop's local
    check-then-create: 4 threads racing to create each of 100 fresh
    lock paths leave exactly one winner per path."""
    import threading

    base = "file://" + str(tmp_path / "wh")
    fs = fslib.fs_for(base, spark)
    fs.makedirs(base)
    paths = [fslib.join(base, f"lock-{i}") for i in range(100)]
    start = threading.Barrier(4)
    wins = [[] for _ in range(4)]

    def contend(k):
        for path in paths:
            start.wait()
            if fs.create_exclusive(path, f"writer-{k}"):
                wins[k].append(path)

    threads = [threading.Thread(target=contend, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    won = sorted(p for w in wins for p in w)
    assert won == sorted(paths)
    for k, w in enumerate(wins):
        for path in w:
            assert fs.read_text(path) == f"writer-{k}"


# ---------------------------------------------------------------------------
# Catalog + ledger through the shim
# ---------------------------------------------------------------------------

def test_catalog_over_hadoopfs_file_uri(spark, tmp_path):
    wh = "file://" + str(tmp_path / "wh")
    cat = FragmentCatalog(wh, spark=spark)
    assert isinstance(cat._fs, fslib.HadoopFS)
    cat.update_range(n=5, min_value=0.0, max_value=5.0, interval=1.0)
    cat.update_round_robin(n=3, last_inserted=7)
    # a FRESH catalog instance (new session semantics) sees the state
    cat2 = FragmentCatalog(wh, spark=spark)
    assert cat2.range_meta().n == 5 and cat2.range_meta().interval == 1.0
    assert cat2.round_robin_meta().last_inserted == 7
    # ...and so does a plain LocalFS catalog on the same directory
    cat3 = FragmentCatalog(str(tmp_path / "wh"))
    assert cat3.range_meta().n == 5
    cat2.clear()
    assert FragmentCatalog(wh, spark=spark).range_meta().n == 0


def test_catalog_update_reads_sidecar_once(tmp_path):
    """Each partial update is one locked read-modify-write: it reads the
    sidecar once, and keeps the fields it does not touch."""

    class CountingFS(fslib.LocalFS):
        def __init__(self):
            super().__init__()
            self.reads: list[str] = []

        def read_text(self, path):
            self.reads.append(path)
            return super().read_text(path)

    fs = CountingFS()
    cat = FragmentCatalog(str(tmp_path / "wh"), fs=fs)
    cat.update_range(n=5, min_value=0.0, max_value=5.0, interval=1.0)
    for update in (
        lambda: cat.update_range(n=4),
        lambda: cat.update_round_robin(n=3, last_inserted=-1),
        lambda: cat.update_hash(n=6, key="userid"),
    ):
        fs.reads.clear()
        update()
        assert fs.reads.count(cat.path) == 1
    assert cat.range_meta() == RangeMetadata(n=4, min_value=0.0, max_value=5.0, interval=1.0)
    assert cat.round_robin_meta() == RoundRobinMetadata(n=3, last_inserted=-1)
    assert cat.hash_meta() == HashMetadata(n=6, key="userid")


def test_incremental_ledger_over_shim(spark, tmp_path):
    from database_fragmentation_and_query_processor_spark.sources import (
        incremental as inc,
    )

    data = tmp_path / "drops"
    data.mkdir()
    ledger = str(tmp_path / "ledger")
    spark.range(3).write.mode("overwrite").parquet(str(data / "a.parquet"))
    spark.range(5).write.mode("overwrite").parquet(str(data / "b.parquet"))
    # the drop dir contains parquet DIRECTORIES (Spark layout) — this
    # ledger tracks file drops, so write two plain files too
    (data / "c.parquet").write_bytes(b"")
    # file:// URI → HadoopFS listing path
    uri = "file://" + str(data)
    idents = inc.new_files(uri, "file://" + ledger, spark=spark)
    names = sorted(i.path.rsplit("/", 1)[-1] for i in idents)
    assert names == ["c.parquet"]  # dirs are skipped, files tracked
    inc.commit_ingest("file://" + ledger, idents, spark=spark)
    assert inc.new_files(uri, "file://" + ledger, spark=spark) == []
    # rewriting the file with new content re-ingests it
    (data / "c.parquet").write_bytes(b"xx")
    again = inc.new_files(uri, "file://" + ledger, spark=spark)
    assert [i.path.rsplit("/", 1)[-1] for i in again] == ["c.parquet"]


# ---------------------------------------------------------------------------
# No bare POSIX mutation on warehouse paths outside the shim
# ---------------------------------------------------------------------------

def test_no_bare_posix_io_in_shimmed_modules():
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "database_fragmentation_and_query_processor_spark",
    )
    flagged = [
        "catalog.py",
        "api.py",
        os.path.join("streaming", "events.py"),
        os.path.join("sources", "incremental.py"),
        os.path.join("operators", "timeseries.py"),
    ]
    banned = ("os.rename(", "os.replace(", "shutil.rmtree(", "shutil.move(")
    for rel in flagged:
        src = open(os.path.join(pkg, rel)).read()
        for tok in banned:
            assert tok not in src, f"{rel} still calls {tok} directly"


def test_writer_lock_contention(tmp_path):
    """Catalog mutations enforce the single-writer model: a live lock
    by another owner fails the mutation fast (with the holder named)
    and leaves the sidecar untouched; release unblocks."""
    import pytest

    from database_fragmentation_and_query_processor_spark import fs as fslib
    from database_fragmentation_and_query_processor_spark.catalog import (
        FragmentCatalog,
    )

    wh = str(tmp_path / "wh")
    cat = FragmentCatalog(wh)
    cat.update_range(n=3)
    shim = fslib.fs_for(wh)
    lock = fslib.acquire_writer_lock(shim, wh, owner="other-writer")
    with pytest.raises(fslib.LockHeldError, match="other-writer"):
        cat.update_range(n=5)
    assert cat.range_meta().n == 3  # losing writer changed nothing
    fslib.release_writer_lock(shim, lock)
    assert cat.update_range(n=5).n == 5


def test_writer_lock_breaks_stale_holder(tmp_path):
    """A lock whose holder exceeded its TTL (crashed client) is broken
    by the next acquirer instead of wedging the catalog forever."""
    import json as _json

    from database_fragmentation_and_query_processor_spark import fs as fslib
    from database_fragmentation_and_query_processor_spark.catalog import (
        FragmentCatalog,
    )

    wh = str(tmp_path / "wh")
    shim = fslib.fs_for(wh)
    shim.makedirs(wh)
    shim.write_text_atomic(
        fslib.join(wh, fslib.LOCK_FILENAME),
        _json.dumps({"owner": "dead", "acquired_ns": 0, "ttl_sec": 1}),
    )
    cat = FragmentCatalog(wh)
    assert cat.update_range(n=7).n == 7  # broke the stale lock
    # and the lock was released again afterwards
    assert not shim.exists(fslib.join(wh, fslib.LOCK_FILENAME))


def test_writer_lock_break_leaves_no_tombstone(tmp_path):
    """The stale break renames to a unique tombstone (atomic: one
    winner per break) and deletes it — nothing lingers beside the
    fresh lock."""
    import json as _json

    from database_fragmentation_and_query_processor_spark import fs as fslib

    wh = str(tmp_path / "wh")
    shim = fslib.fs_for(wh)
    shim.makedirs(wh)
    shim.write_text_atomic(
        fslib.join(wh, fslib.LOCK_FILENAME),
        _json.dumps({"owner": "dead", "acquired_ns": 0, "ttl_sec": 1}),
    )
    lock = fslib.acquire_writer_lock(shim, wh, owner="breaker")
    names = [p for p, _d, _s, _m in shim.list_status(wh)]
    assert not any(".broken-" in n for n in names)
    assert _json.loads(shim.read_text(lock.path))["owner"] == "breaker"
    fslib.release_writer_lock(shim, lock)


def test_writer_lock_release_keeps_a_successors_lock(tmp_path):
    """A holder that outlived its TTL had its lock broken and re-taken
    by a second writer; the first holder's late release must leave the
    second writer's live lock in place."""
    import time

    from database_fragmentation_and_query_processor_spark import fs as fslib

    wh = str(tmp_path / "wh")
    shim = fslib.fs_for(wh)
    shim.makedirs(wh)
    a = fslib.acquire_writer_lock(shim, wh, owner="A", ttl_sec=0)
    time.sleep(0.01)  # A's lock is now past its TTL
    b = fslib.acquire_writer_lock(shim, wh, owner="B")
    fslib.release_writer_lock(shim, a)
    assert shim.exists(b.path)
    with pytest.raises(fslib.LockHeldError, match="B"):
        fslib.acquire_writer_lock(shim, wh, owner="C")
    fslib.release_writer_lock(shim, b)
    assert not shim.exists(b.path)


def test_writer_lock_losing_breaker_does_not_steal(tmp_path):
    """Two contenders read the same stale lock; the one whose
    tombstone rename fails (the other won the atomic break) must NOT
    delete anything or claim the lock — it re-contends and fails
    loudly. Simulated by a shim whose rename always raises."""
    import json as _json

    import pytest

    from database_fragmentation_and_query_processor_spark import fs as fslib

    wh = str(tmp_path / "wh")
    real = fslib.fs_for(wh)
    real.makedirs(wh)
    stale = _json.dumps({"owner": "dead", "acquired_ns": 0, "ttl_sec": 1})
    real.write_text_atomic(fslib.join(wh, fslib.LOCK_FILENAME), stale)

    class LosesEveryRename:
        def __getattr__(self, name):
            return getattr(real, name)

        def rename(self, src, dst):
            raise OSError("another contender broke the lock first")

    with pytest.raises(fslib.LockHeldError):
        fslib.acquire_writer_lock(LosesEveryRename(), wh, owner="loser")
    # the existing lock file was never deleted by the loser
    assert real.read_text(fslib.join(wh, fslib.LOCK_FILENAME)) == stale


def test_writer_lock_readback_rejects_stolen_create(tmp_path):
    """On stores where create-if-absent is best-effort, two creates can
    both 'succeed' last-write-wins — the read-back verify means only
    the contender whose payload is actually on disk holds the lock."""
    import json as _json

    import pytest

    from database_fragmentation_and_query_processor_spark import fs as fslib

    wh = str(tmp_path / "wh")
    real = fslib.fs_for(wh)
    real.makedirs(wh)
    foreign = _json.dumps(
        {"owner": "rival", "acquired_ns": 10**30, "ttl_sec": 300}
    )

    class LyingCreate:
        lied = False

        def __getattr__(self, name):
            return getattr(real, name)

        def create_exclusive(self, path, text):
            if not self.lied:
                # first attempt: claims success but the rival's
                # concurrent PUT won (last-write-wins object store)
                self.lied = True
                real.write_text_atomic(path, foreign)
                return True
            return real.create_exclusive(path, text)

    with pytest.raises(fslib.LockHeldError, match="rival"):
        fslib.acquire_writer_lock(LyingCreate(), wh, owner="me")


# ---------------------------------------------------------------------------
# Commit gating and generation GC
# ---------------------------------------------------------------------------

def test_commit_refuses_unmarked_staged_dir_when_required(tmp_path):
    """require_marker gates the commit: a generation without the
    job-complete _SUCCESS (crashed or still-running write) must never
    be published over the live one."""
    import pytest

    fs = fslib.LocalFS()
    target = str(tmp_path / "ds")
    s0 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s0, "base")
    fs.write_text_atomic(fslib.join(s0, "_SUCCESS"), "")
    fslib.commit_staged(fs, s0, target, require_marker=True)
    s1 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s1, "half-written")  # no _SUCCESS
    with pytest.raises(IOError, match="_SUCCESS"):
        fslib.commit_staged(fs, s1, target, require_marker=True)
    # live dataset untouched by the refused commit
    live = fslib.resolve_dataset(fs, target)
    assert live == s0 and fs.read_text(fslib.join(live, "part-0.txt")) == "base"


def test_stage_gc_is_token_bounded(tmp_path):
    """The generation GC never eats a generation minted AFTER the
    committing writer's own (an in-flight successor), nor the live one:
    only generations older than the newest KEEP_GENERATIONS go."""
    fs = fslib.LocalFS()
    target = str(tmp_path / "ds")
    s0 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s0, "v0")
    fslib.commit_staged(fs, s0, target)
    s1 = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s1, "v1")
    # an in-flight successor stages AFTER s1 (newer token)
    s_next = fslib.stage_path(fs, target, "v")
    _write_marker_dir(fs, s_next, "v2-in-flight")
    fslib.commit_staged(fs, s1, target)
    assert fs.read_text(fslib.join(fslib.resolve_dataset(fs, target), "part-0.txt")) == "v1"
    assert fs.exists(s_next)  # newer stage untouched
    assert not fs.exists(s0)  # older than the newest two, not live
    # ...and the successor's own commit then lands normally
    fslib.commit_staged(fs, s_next, target)
    assert fs.read_text(fslib.join(fslib.resolve_dataset(fs, target), "part-0.txt")) == "v2-in-flight"
    assert fs.exists(s1)  # the previous generation stays for in-flight readers
