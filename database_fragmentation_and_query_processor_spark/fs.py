"""Warehouse filesystem shim: one small surface for every driver-side
metadata/commit IO the engine performs outside of Spark jobs.

Why this exists: the catalog sidecar, the dataset commits, the
streaming upsert/CDC commit step and the ingestion ledger must run
unchanged on a local directory, on HDFS and on an object store, where
``os.rename`` does not exist and, on S3-family stores, no atomic
directory rename exists at all.

- ``LocalFS``: plain POSIX, used for bare local paths (no JVM needed —
  the catalog must work before any SparkSession exists).
- ``HadoopFS``: the Hadoop ``FileSystem`` API reached through the
  session JVM (``spark._jvm``), resolved from the path URI scheme, so
  the same code drives ``file://``, ``hdfs://`` and ``s3a://``
  warehouses. (Public API: org.apache.hadoop.fs.FileSystem — shipped
  with Spark.)
- One commit rule for every store: data files are immutable. A writer
  writes the next version of a dataset into a new generation directory
  ``<dataset>/gen-<token>/`` that no reader looks at, then makes it
  live with ONE atomic metadata write. For the fragment warehouse that
  write is the catalog sidecar (``catalog.py``); for every other
  dataset (streaming sinks, near-dup segments) it is the dataset's
  ``_LATEST`` pointer (``stage_path``/``commit_staged``;
  ``resolve_dataset`` maps a dataset to its live generation). No
  directory is ever renamed over another, so a crash leaves at worst an
  unreferenced generation. Old generations are pruned after each
  commit, keeping ``KEEP_GENERATIONS`` so a reader that planned its
  scan against the previous one can finish it.

Small atomic writes (the catalog sidecar, ``_LATEST`` pointers, the
ingest ledger) replace a file by writing a temp file beside it and
renaming it over the target. On ext4 (``auto_da_alloc``, the default) a
rename over an existing file first flushes the new file's delayed-
allocation blocks to disk: 34-60 ms at p50 per replace of a small file
on the ext4 virtual disk of a 4-vCPU VM. ``LocalFS`` therefore reserves
the temp file's blocks with ``posix_fallocate`` before writing it; a
file with no delayed blocks renames without that flush (0.02 ms at p50
on the same disk). Such a commit stays atomic for readers and across a
process crash (a reader sees the old or the new file, whole). It is not
durable across an OS crash, and neither are the parquet generations and
staged inserts the sidecar names: nothing in the warehouse is fsynced.

Concurrency: warehouse writers hold the advisory writer lock below for
their whole write, and check that they still hold it right before
their commit write (:func:`check_writer_lock`). A write that runs
longer than ``LOCK_TTL_SEC`` can have its lock broken by the next
writer; it then aborts at that check instead of committing. The lock is
exclusive where create-if-absent is atomic (POSIX, HDFS) and advisory
on object stores; true multi-writer needs a table format
(Delta/Iceberg), which is out of scope here.
"""

from __future__ import annotations

import itertools
import json
import os
import posixpath
import random
import re
import shutil
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

POINTER_FILE = "_LATEST"
#: How many generations of a dataset survive a commit: the live one
#: plus the previous (still readable by in-flight scans).
KEEP_GENERATIONS = 2

#: URI schemes whose rename is a server-side O(1) metadata move.
_ATOMIC_RENAME_SCHEMES = {"file", "hdfs", "viewfs", "webhdfs", "har"}

#: What a failed store call raises: OSError from LocalFS, the wrapped
#: Java exception from HadoopFS.
FS_ERRORS = (OSError, Py4JJavaError)

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")

_gen_counter = itertools.count()


def _scheme(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def join(base: str, *parts: str) -> str:
    """Path join that is safe for both plain paths and URIs."""
    return posixpath.join(base, *parts)


class LocalFS:
    """POSIX implementation. Accepts bare paths and ``file://`` URIs."""

    #: POSIX rename (and O_EXCL create) is atomic.
    atomic_rename = True

    @staticmethod
    def _local(path: str) -> str:
        if path.startswith("file://"):
            return path[len("file://"):] or "/"
        return path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._local(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(self._local(path), exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(self._local(path), encoding="utf-8") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or overwrite ``path`` with ``data`` (not atomic: the
        callers write under a hidden name and rename into place)."""
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def write_text_atomic(self, path: str, text: str) -> None:
        """Replace ``path`` with ``text`` (UTF-8) by renaming a temp file
        over it, so a reader sees the old or the new content, whole.
        The temp file's blocks are reserved before the write, so the
        rename does not wait for ext4 to flush them (module docstring:
        the replace fell from 34-60 ms to 0.02 ms at p50). Atomic across
        a process crash, not durable across an OS crash."""
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        data = text.encode("utf-8")
        tmp = f"{p}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            if data:  # a zero-length posix_fallocate raises EINVAL
                os.posix_fallocate(f.fileno(), 0, len(data))
            f.write(data)
        os.replace(tmp, p)

    def rename(self, src: str, dst: str) -> None:
        os.rename(self._local(src), self._local(dst))

    def delete(self, path: str, recursive: bool = False) -> None:
        p = self._local(path)
        if not os.path.exists(p):
            return
        if os.path.isdir(p):
            if recursive:
                shutil.rmtree(p)
            else:
                os.rmdir(p)
        else:
            os.remove(p)

    def list_status(self, path: str) -> list[tuple[str, bool, int, int]]:
        """[(child_path, is_dir, size, mtime_ns)] — non-recursive."""
        p = self._local(path)
        out = []
        for name in sorted(os.listdir(p)):
            full = os.path.join(p, name)
            st = os.stat(full)
            out.append(
                (join(path, name), os.path.isdir(full), st.st_size, st.st_mtime_ns)
            )
        return out

    def create_exclusive(self, path: str, text: str) -> bool:
        """Create-if-absent (O_CREAT|O_EXCL — atomic on POSIX); False
        when the file already exists. The writer-lock primitive."""
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
        return True


class HadoopFS:
    """Hadoop ``FileSystem`` implementation via the session JVM.

    Resolved per base URI: ``HadoopFS(spark, "s3a://bucket/wh")`` talks
    to the S3A connector, ``HadoopFS(spark, "file:///tmp/wh")`` to the
    raw local filesystem — same call sites either way.
    """

    def __init__(self, spark, base: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base).getFileSystem(self._conf)
        scheme = self._fs.getUri().getScheme() or "file"
        #: Is rename (and create-if-absent) atomic on this store?
        self.atomic_rename = scheme in _ATOMIC_RENAME_SCHEMES
        self._local = scheme == "file"
        if self._local:
            # The local connector's checksum layer keeps a .crc file
            # beside each file and replaces the pair in several steps (a
            # reader can meet a new file with an old checksum); the raw
            # local filesystem under it renames with one rename(2).
            self._fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(self._conf).getRaw()

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def is_dir(self, path: str) -> bool:
        p = self._Path(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        # copyBytes(in, out, bufSize, close=True) — public Hadoop util
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
        return baos.toString("UTF-8")

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._Path(path), True)
        out.write(bytearray(data))
        out.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """Replace ``path`` with ``text`` so a reader sees the old or the
        new content, never no file. On the local filesystem this is
        ``LocalFS.write_text_atomic`` (one rename(2) of a preallocated
        temp file). On other rename-capable stores a temp file is
        renamed over ``path`` by ``FileContext.rename`` with
        ``Options.Rename.OVERWRITE`` (``FileSystem.rename`` will not
        clobber). On object stores, one PUT."""
        if self._local:
            LocalFS().write_text_atomic(path, text)
            return
        if not self.atomic_rename:
            self.write_bytes(path, text.encode("utf-8"))
            return
        tmp = f"{path}.tmp-{os.getpid()}"
        self.write_bytes(tmp, text.encode("utf-8"))
        hfs = self._jvm.org.apache.hadoop.fs
        rename_opt = getattr(hfs, "Options$Rename")
        overwrite = self._gateway.new_array(rename_opt, 1)
        overwrite[0] = rename_opt.OVERWRITE
        ctx = hfs.FileContext.getFileContext(self._fs.getUri(), self._conf)
        ctx.rename(self._Path(tmp), self._Path(path), overwrite)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._Path(path), recursive)

    def list_status(self, path: str) -> list[tuple[str, bool, int, int]]:
        out = []
        for st in self._fs.listStatus(self._Path(path)):
            out.append(
                (
                    st.getPath().toString(),
                    bool(st.isDirectory()),
                    int(st.getLen()),
                    int(st.getModificationTime()) * 1_000_000,
                )
            )
        out.sort(key=lambda t: t[0])
        return out

    def create_exclusive(self, path: str, text: str) -> bool:
        """Create-if-absent. On the local filesystem this is
        ``LocalFS.create_exclusive`` (O_EXCL): Hadoop's local
        ``create(path, overwrite=False)`` checks, then creates, so two
        contenders could both win. Elsewhere Hadoop ``create(path,
        overwrite=False)`` — atomic on HDFS (namenode-arbitrated);
        best-effort on object stores without conditional PUT, which is
        why the lock built on it is ADVISORY (see
        :func:`acquire_writer_lock`)."""
        if self._local:
            return LocalFS().create_exclusive(path, text)
        try:
            out = self._fs.create(self._Path(path), False)
        except Py4JJavaError as e:
            if e.java_exception.getClass().getSimpleName() == "FileAlreadyExistsException":
                return False
            raise
        out.write(bytearray(text.encode("utf-8")))
        out.close()
        return True


def fs_for(path: str, spark=None):
    """Pick the implementation for ``path``.

    Bare paths → ``LocalFS`` (no JVM dependency — catalog reads happen
    before/without a session). ``file://`` without a session → LocalFS
    (same bytes, no JVM hop). Any URI with a session → ``HadoopFS``
    resolved from the scheme. A non-file URI without a session is an
    error rather than a silent local fallback.
    """
    scheme = _scheme(path)
    if scheme is None:
        return LocalFS()
    if spark is not None:
        return HadoopFS(spark, path)
    if scheme == "file":
        return LocalFS()
    raise ValueError(
        f"need an active SparkSession to reach {scheme}:// paths: {path}"
    )


# ---------------------------------------------------------------------------
# Dataset commit protocol: a new generation, made live by one metadata write
# ---------------------------------------------------------------------------

def new_token(tag: str) -> str:
    return f"{tag}-{time.time_ns()}-{next(_gen_counter)}"


def stage_path(fs, target: str, tag: str) -> str:
    """Where a writer stages the next version of dataset ``target``: a
    new generation directory ``target/gen-<tag>-<token>``, which no
    reader looks at until a commit names it."""
    return join(target, f"gen-{new_token(tag)}")


def commit_staged(
    fs, staged: str, target: str, require_marker: bool = False
) -> str:
    """Make the generation ``staged`` the current content of ``target``
    by one atomic write of its ``_LATEST`` pointer, then prune old
    generations. Returns ``staged``, the directory readers now scan.

    ``require_marker=True`` refuses a generation without the
    job-complete ``_SUCCESS`` marker that Spark's committer writes, so
    a half-written generation (crashed or still-running write) is never
    published. The Spark-writing callers pass True; callers staging
    non-Spark content keep the unchecked default."""
    if require_marker and not fs.exists(join(staged, "_SUCCESS")):
        raise IOError(
            f"commit_staged: {staged!r} has no _SUCCESS marker — the "
            f"staging write is incomplete (crashed, or still running); "
            f"refusing to publish it over {target!r}"
        )
    gen_name = posixpath.basename(staged)
    fs.write_text_atomic(join(target, POINTER_FILE), gen_name)
    prune_generations(fs, target, gen_name)
    return staged


def prune_generations(fs, target: str, current: str) -> None:
    """Delete the generations of ``target`` older than the newest
    ``KEEP_GENERATIONS``, never ``current`` (the live one's name)."""
    gens = [
        p
        for p, is_dir, _, _ in fs.list_status(target)
        if is_dir and posixpath.basename(p).startswith("gen-")
    ]
    # token embeds time_ns + a counter → lexicographic sort of the
    # zero-unpadded timestamp is not reliable; sort numerically
    def _key(p: str):
        parts = posixpath.basename(p).split("-")
        try:
            return (int(parts[-2]), int(parts[-1]))
        except (ValueError, IndexError):
            return (0, 0)

    gens.sort(key=_key)
    for p in gens[:-KEEP_GENERATIONS]:
        if posixpath.basename(p) != current:
            fs.delete(p, recursive=True)


def resolve_dataset(fs, target: str) -> str:
    """The directory readers of dataset ``target`` scan: the generation
    its ``_LATEST`` pointer names, or, with no pointer, ``target``
    itself (a dataset written straight there, such as a sink's seed)."""
    ptr = join(target, POINTER_FILE)
    if fs.exists(ptr):
        return join(target, fs.read_text(ptr).strip())
    return target


def committed(fs, target: str) -> str | None:
    """:func:`resolve_dataset` when ``target`` holds a committed
    generation or a seed (a Spark write straight to ``target``, its
    ``_SUCCESS`` marker present); None when it holds neither."""
    if dataset_exists(fs, target) or fs.exists(join(target, "_SUCCESS")):
        return resolve_dataset(fs, target)
    return None


def dataset_exists(fs, target: str) -> bool:
    """Has a generation of the dataset been committed (its pointer
    exists)?"""
    return fs.exists(join(target, POINTER_FILE))


# ---------------------------------------------------------------------------
# Advisory single-writer lock
# ---------------------------------------------------------------------------
#
# The engine's documented concurrency model is single-writer (the
# reference's one psycopg2 session). This lock turns that assumption
# from hoped-for into enforced: every catalog mutation holds it for its
# whole write, so a second concurrent writer fails fast with a clear
# owner message instead of interleaving with it, and the holder checks
# it still holds the lock just before it commits. It is ADVISORY —
# atomic where create-if-absent is (POSIX O_EXCL, HDFS create) and
# best-effort on object stores without conditional PUT; true
# multi-writer needs a table format (Delta/Iceberg), which stays out of
# scope.

LOCK_FILENAME = "_WRITER_LOCK"
#: A holder that has not renewed within this window is presumed dead
#: (crashed client) and its lock is broken by the next acquirer.
LOCK_TTL_SEC = 300


#: Upper bound (seconds) of the randomized second read-back delay paid
#: on stores WITHOUT atomic create-if-absent (see acquire_writer_lock's
#: verify comment).
LOCK_VERIFY_DELAY_SEC = 0.05


class LockHeldError(RuntimeError):
    """Another writer currently holds the warehouse lock."""


@dataclass(frozen=True)
class WriterLock:
    """A held writer lock: its path and the payload its holder wrote."""

    path: str
    owner: str
    acquired_ns: int


def acquire_writer_lock(
    fs, dir_path: str, owner: str | None = None, ttl_sec: int = LOCK_TTL_SEC
) -> WriterLock:
    """Acquire the advisory writer lock for ``dir_path``; returns the
    held lock (pass to :func:`release_writer_lock`). A live lock by
    another owner raises :class:`LockHeldError`; a stale one (older
    than its TTL) is broken and re-acquired."""
    lock = join(dir_path, LOCK_FILENAME)
    owner = owner or f"pid-{os.getpid()}"
    for _attempt in range(2):
        acquired_ns = time.time_ns()
        payload = json.dumps(
            {"owner": owner, "acquired_ns": acquired_ns, "ttl_sec": ttl_sec}
        )
        if fs.create_exclusive(lock, payload):
            # Read-back verify: on stores where create-if-absent is
            # best-effort (no conditional PUT) two contenders' creates
            # can both "succeed" last-write-wins. The verify REDUCES —
            # it cannot eliminate — the double-acquire window: the
            # interleaving A-create, A-verify(sees own payload),
            # B-overwrite, B-verify(sees own payload) still admits two
            # holders. On such stores a second read-back after a short
            # randomized delay shrinks the race further; true mutual
            # exclusion needs an atomic conditional PUT, so the lock
            # stays ADVISORY there (it IS exclusive where
            # create_exclusive is atomic: O_EXCL locally, the namenode
            # on HDFS — both atomic_rename stores, no delay paid).
            try:
                held = fs.read_text(lock) == payload
                if held and not fs.atomic_rename:
                    time.sleep(
                        random.uniform(
                            LOCK_VERIFY_DELAY_SEC / 5, LOCK_VERIFY_DELAY_SEC
                        )
                    )
                    held = fs.read_text(lock) == payload
            except FS_ERRORS:  # a rival broke or released it meanwhile
                held = False
            if held:
                return WriterLock(lock, owner, acquired_ns)
            continue
        doc = _lock_doc(fs, lock)
        age_sec = (time.time_ns() - int(doc.get("acquired_ns", 0))) / 1e9
        if age_sec > float(doc.get("ttl_sec", ttl_sec)):
            # Break the stale lock by ATOMIC RENAME to a unique
            # tombstone, never delete-in-place: exactly one of N racing
            # contenders wins the rename (the losers raise on the
            # now-missing source), so a slow loser can never remove the
            # winner's freshly created lock — the race a bare
            # delete-then-create leaves open.
            tomb = f"{lock}.broken-{time.time_ns()}-{os.getpid()}"
            try:
                fs.rename(lock, tomb)
            except FS_ERRORS:
                continue  # another contender broke it first; re-contend
            fs.delete(tomb)
            continue
        raise LockHeldError(
            f"writer lock on {dir_path} held by "
            f"{doc.get('owner', '<unknown>')} "
            f"({age_sec:.0f}s old, ttl {doc.get('ttl_sec', ttl_sec)}s)"
        )
    raise LockHeldError(f"could not acquire writer lock on {dir_path}")


def _lock_doc(fs, lock: str) -> dict:
    """The lock file's payload. An empty or partial one belongs to a
    contender between its create and its write (or one that died
    there): it is dated by the file's mtime, so a live contender's lock
    is not broken as stale while a dead one's still ages out. A lock
    gone by now was just released; it reads as fresh, and the caller
    fails fast as for any live lock."""
    doc = _payload(fs, lock)
    if doc is not None:
        return doc
    name = posixpath.basename(lock)
    try:
        for path, _is_dir, _size, mtime_ns in fs.list_status(posixpath.dirname(lock)):
            if posixpath.basename(path) == name:
                return {"acquired_ns": mtime_ns}
    except FS_ERRORS:
        pass
    return {"acquired_ns": time.time_ns()}


def _payload(fs, lock: str) -> dict | None:
    """The lock file's JSON payload; None when it is gone, or empty or
    partial (a contender between its create and its write)."""
    try:
        return json.loads(fs.read_text(lock))
    except (*FS_ERRORS, ValueError):
        return None


def _holds(fs, lock: WriterLock) -> bool:
    doc = _payload(fs, lock.path) or {}
    return (doc.get("owner"), doc.get("acquired_ns")) == (lock.owner, lock.acquired_ns)


def check_writer_lock(fs, lock: WriterLock) -> None:
    """The fence before a commit write: raise :class:`LockHeldError`
    unless ``lock``'s file still carries its holder's payload. A write
    that outlived ``LOCK_TTL_SEC`` may have had its lock broken and
    re-taken by another writer; it must then abort, not commit."""
    if not _holds(fs, lock):
        doc = _payload(fs, lock.path) or {}
        raise LockHeldError(
            f"writer lock on {posixpath.dirname(lock.path)} was lost by "
            f"{lock.owner} (now held by {doc.get('owner', '<nobody>')}); "
            f"the write ran past the lock's ttl and is not committed"
        )


def release_writer_lock(fs, lock: WriterLock) -> None:
    """Delete ``lock`` if its file still holds the caller's payload. A
    holder that outlived its TTL may have had the lock broken and
    re-taken by another writer; that writer's live lock stays."""
    if _holds(fs, lock):
        fs.delete(lock.path)


# ---------------------------------------------------------------------------
# Small JSON/text helpers used by the catalog and the ingest ledger
# ---------------------------------------------------------------------------

def read_json(fs, path: str, default=None):
    if not fs.exists(path):
        return default
    return json.loads(fs.read_text(path))


def write_json_atomic(fs, path: str, doc) -> None:
    fs.write_text_atomic(path, json.dumps(doc, indent=1))
