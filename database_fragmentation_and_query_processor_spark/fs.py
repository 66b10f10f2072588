"""Warehouse filesystem shim: one small surface for every driver-side
metadata/commit IO the engine performs outside of Spark jobs.

Why this exists: the catalog sidecar, the compaction swap, the
streaming upsert/CDC commit step and the ingestion ledger were written
against POSIX (``open``/``os.replace``/``os.rename``). On the
100 TB deployment the warehouse is HDFS or an object store, where
``os.rename`` does not exist — and on S3-family stores no atomic
directory rename exists AT ALL. This module abstracts both problems:

- ``LocalFS``: plain POSIX, used for bare local paths (no JVM needed —
  the catalog must work before any SparkSession exists).
- ``HadoopFS``: the Hadoop ``FileSystem`` API reached through the
  session JVM (``spark._jvm``), resolved from the path URI scheme, so
  the same code drives ``file://``, ``hdfs://`` and ``s3a://``
  warehouses. (Public API: org.apache.hadoop.fs.FileSystem — shipped
  with Spark.)
- Commit protocol: ``stage_path``/``commit_staged`` re-express
  write-then-swap. On rename-capable stores (local, HDFS) the commit
  IS the classic rename swap, so on-disk layout is unchanged. On
  stores without atomic rename (``s3/s3a/s3n/gs/oss/wasb``) data is
  staged into a generation subdirectory and the commit is a single
  atomic pointer-object PUT (``_LATEST``); ``resolve_dataset`` maps a
  logical dataset path to its current generation for readers. Old
  generations are pruned lazily, keeping ``KEEP_GENERATIONS`` so
  in-flight readers on eventually-consistent stores never lose their
  files mid-scan.

Single-writer semantics throughout (the reference's model: one client
connection, Interface1.py's psycopg2 session); concurrent writers need
an external lock or a table format (Delta/Iceberg), which is out of
scope here.
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

POINTER_FILE = "_LATEST"
#: How many committed generations to retain in pointer mode. 2 = the
#: live one plus the previous (still readable by in-flight scans).
KEEP_GENERATIONS = 2

#: URI schemes whose rename is a server-side O(1) metadata move.
_ATOMIC_RENAME_SCHEMES = {"file", "hdfs", "viewfs", "webhdfs", "har"}

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")

_gen_counter = itertools.count()


def _scheme(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


def join(base: str, *parts: str) -> str:
    """Path join that is safe for both plain paths and URIs."""
    return posixpath.join(base, *parts)


class LocalFS:
    """POSIX implementation. Accepts bare paths and ``file://`` URIs.

    ``atomic_rename=False`` turns on the pointer-commit protocol on top
    of the local filesystem — used by tests to exercise the object-store
    code path without an object store.
    """

    def __init__(self, atomic_rename: bool = True):
        self.atomic_rename = atomic_rename

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
        with open(self._local(path)) as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or overwrite ``path`` with ``data`` (not atomic: the
        callers write under a hidden name and rename into place)."""
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def write_text_atomic(self, path: str, text: str) -> None:
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(text)
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
        with os.fdopen(fd, "w") as f:
            f.write(text)
        return True


class HadoopFS:
    """Hadoop ``FileSystem`` implementation via the session JVM.

    Resolved per base URI: ``HadoopFS(spark, "s3a://bucket/wh")`` talks
    to the S3A connector, ``HadoopFS(spark, "file:///tmp/wh")`` to the
    local connector — same call sites either way.
    """

    def __init__(self, spark, base: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._jvm = jvm
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base).getFileSystem(conf)
        scheme = self._fs.getUri().getScheme()
        self.atomic_rename = (scheme or "file") in _ATOMIC_RENAME_SCHEMES

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
        if self.atomic_rename:
            tmp = f"{path}.tmp-{os.getpid()}"
            self.write_bytes(tmp, text.encode("utf-8"))
            # overwrite-rename: Hadoop rename won't clobber, delete first
            dst = self._Path(path)
            if self._fs.exists(dst):
                self._fs.delete(dst, False)
            if not self._fs.rename(self._Path(tmp), dst):
                raise OSError(f"rename failed: {tmp} -> {path}")
        else:
            # object stores: a single PUT is atomic per object
            self.write_bytes(path, text.encode("utf-8"))

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
        """Create-if-absent via Hadoop ``create(path, overwrite=False)``
        — atomic on HDFS (namenode-arbitrated); best-effort on object
        stores without conditional PUT, which is why the lock built on
        it is ADVISORY (see :func:`acquire_writer_lock`)."""
        try:
            out = self._fs.create(self._Path(path), False)
        except Exception:
            return False
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
# Dataset commit protocol (write-then-swap, object-store safe)
# ---------------------------------------------------------------------------

def new_token(tag: str) -> str:
    return f"{tag}-{time.time_ns()}-{next(_gen_counter)}"


def stage_path(fs, target: str, tag: str) -> str:
    """Where a writer should stage the NEW version of dataset ``target``.

    Rename-capable stores: a sibling directory (the classic pattern —
    target layout stays exactly as before). Pointer stores: a
    generation subdirectory under ``target``.
    """
    token = new_token(tag)
    if fs.atomic_rename:
        return f"{target}.{token}"
    return join(target, f"gen-{token}")


def commit_staged(
    fs, staged: str, target: str, require_marker: bool = False
) -> str:
    """Atomically make ``staged`` the current content of ``target``.

    Returns the path readers should scan (== ``target`` on
    rename-capable stores; the generation dir in pointer mode).

    ``require_marker=True`` makes the commit marker-gated: the staged
    directory must contain a job-complete ``_SUCCESS`` marker (Spark's
    Hadoop committer writes one) or the commit is refused — a
    half-written staged directory (crashed or still-running write job)
    can then never be published. The compaction and streaming
    write-then-swap callers all write via Spark and pass True; generic
    shim users staging non-Spark content keep the unchecked default.

    On rename stores the swap itself is two renames (current → old,
    staged → current) — there is no atomic directory replace — so a
    crash between them leaves ``target`` missing with the versions
    parked in sibling dirs. That window is healed, not hidden:
    :func:`recover_interrupted_commit` runs first (repairing any
    interrupted PREDECESSOR commit), and the same function is exported
    for readers that find the dataset missing."""
    if require_marker and not fs.exists(join(staged, "_SUCCESS")):
        raise IOError(
            f"commit_staged: {staged!r} has no _SUCCESS marker — the "
            f"staging write is incomplete (crashed, or still running); "
            f"refusing to publish it over {target!r}"
        )
    if fs.atomic_rename:
        recover_interrupted_commit(fs, target, exclude=staged)
        committed_key = _token_key(posixpath.basename(staged.rstrip("/")))
        if fs.exists(target):
            old = begin_swap(fs, staged, target)
            fs.rename(staged, target)
            fs.delete(old, recursive=True)
        else:
            fs.rename(staged, target)
        # the breadcrumb travelled into target with the rename; and a
        # live target means every remaining old- sibling is a
        # superseded version some earlier crash left behind, while any
        # staged sibling OLDER than the stage that just landed is an
        # abandoned write that must not outlive the data superseding
        # it — GC both (single-writer model, the lock is held on this
        # path)
        try:
            fs.delete(join(target, INTENT_FILE))
        except Exception:
            pass
        _prune_old_siblings(fs, target, staged_older_than=committed_key)
        return target
    gen_name = posixpath.basename(staged)
    fs.write_text_atomic(join(target, POINTER_FILE), gen_name)
    _prune_generations(fs, target, keep=KEEP_GENERATIONS)
    return join(target, gen_name)


def _token_key(name: str) -> tuple[int, int]:
    """Numeric (time_ns, counter) ordering of a ``new_token`` suffix."""
    parts = name.split("-")
    try:
        return (int(parts[-2]), int(parts[-1]))
    except (ValueError, IndexError):
        return (0, 0)


#: Breadcrumb a committing writer drops INTO its staged directory just
#: before parking the current version: the file names the exact old-
#: sibling this commit is about to create. Recovery uses it to tell
#: "the staged dir of THIS interrupted commit" (safe to promote —
#: finishing the commit) from "a staged dir some earlier writer
#: abandoned before ever calling commit_staged" (never safe to promote
#: over a parked committed version — doing so silently reverts the
#: dataset, the failure ADVICE r10 flagged).
INTENT_FILE = "_COMMIT_INTENT"


def begin_swap(fs, staged: str, target: str) -> str:
    """First half of the two-rename swap: mint the old- sibling name,
    record it as ``staged``'s :data:`INTENT_FILE` breadcrumb, and park
    the current version there. Returns the old- path. Factored out so
    crash-recovery tests can leave the world exactly as a writer dying
    between the two renames would."""
    old = f"{target}.{new_token('old')}"
    base = posixpath.basename(target.rstrip("/"))
    fs.write_text_atomic(
        join(staged, INTENT_FILE),
        posixpath.basename(old)[len(base) + 1:],
    )
    fs.rename(target, old)
    return old


def _read_intent(fs, staged: str) -> str | None:
    try:
        p = join(staged, INTENT_FILE)
        if fs.exists(p):
            return fs.read_text(p).strip()
    except Exception:
        return None
    return None


def _prune_old_siblings(
    fs, target: str, staged_older_than: tuple[int, int] | None = None
) -> None:
    """GC parked ``target.old-*`` siblings once ``target`` is live
    again. A crash between the swap's second rename and the delete
    leaves one behind forever otherwise, and every survivor enlarges
    the candidate set future recoveries must reason about. Safe under
    the documented single-writer model: with the dataset present, any
    old- sibling is a superseded version (only commit_staged creates
    them, and its own delete runs before this).

    ``staged_older_than`` (the :func:`_token_key` of the stage that
    just committed) additionally GCs ABANDONED STAGED siblings with a
    strictly older token — the ADVICE r10-medium closure: a marked
    stage whose writer died before ever calling commit_staged must not
    linger past the next successful commit, or a later
    target-missing-no-old recovery (external loss, drop that missed
    siblings) would resurrect its stale content over data that
    superseded it. Token-bounded so a hypothetical in-flight stage
    minted after this commit's own stage is never touched; a slow
    pre-dating stager loses its dir and fails its eventual commit
    LOUDLY (rename of a missing source), never silently."""
    base = posixpath.basename(target.rstrip("/"))
    parent = posixpath.dirname(target.rstrip("/"))
    try:
        listing = list(fs.list_status(parent))
    except Exception:
        return
    for p, is_dir, _sz, _mt in listing:
        name = posixpath.basename(p)
        if not is_dir or not name.startswith(base + "."):
            continue
        token = name[len(base) + 1:]
        stale = token.startswith("old-") or (
            staged_older_than is not None
            and _token_key(name) < staged_older_than
        )
        if stale:
            try:
                fs.delete(p, recursive=True)
            except Exception:
                pass


def purge_siblings(fs, target: str) -> None:
    """Delete EVERY ``target.*`` sibling dir — old- parks and staged
    dirs alike. The drop path must call this alongside deleting the
    dataset itself: a dropped dataset with a surviving marked stage is
    exactly the target-missing-no-old state in which
    :func:`recover_interrupted_commit`'s first-commit-liveness branch
    would resurrect the stale stage for the next reader."""
    base = posixpath.basename(target.rstrip("/"))
    parent = posixpath.dirname(target.rstrip("/"))
    try:
        listing = list(fs.list_status(parent))
    except Exception:
        return
    for p, is_dir, _sz, _mt in listing:
        if is_dir and posixpath.basename(p).startswith(base + "."):
            try:
                fs.delete(p, recursive=True)
            except Exception:
                pass


def recover_interrupted_commit(
    fs, target: str, exclude: str | None = None
) -> str | None:
    """Heal a rename-store commit that crashed between its two renames.

    Such a crash leaves ``target`` MISSING while the versions sit in
    sibling dirs: ``target.old-<tok>`` (the pre-commit version, parked
    by the first rename) and/or the staged ``target.<tag>-<tok>`` (the
    new version that never landed). Recovery restores, in preference
    order: the staged sibling that carries BOTH a job-complete
    ``_SUCCESS`` marker AND a :data:`INTENT_FILE` breadcrumb naming the
    newest parked ``old-`` sibling — i.e. the staged dir of exactly the
    commit that parked it (finishing that interrupted commit) — else
    the newest ``old-`` sibling (rolling back to the pre-commit
    version). A marked staged dir WITHOUT a matching breadcrumb is a
    stage some writer abandoned before ever calling commit_staged; it
    is never promoted over a parked version (that would silently
    revert the dataset to stale data — ADVICE r10). When no ``old-``
    sibling exists at all there is no committed version to shadow, so
    the newest marked staged dir is promoted (first-commit liveness).
    No-op when ``target`` exists (nothing was interrupted — stray
    siblings there belong to in-flight writers and are not touched) or
    in pointer mode (that commit is a single atomic pointer write).
    Returns the restored path, or None if nothing needed recovery.
    Races are benign: rename is atomic, so of N concurrent recoverers
    exactly one wins and the losers see the target present on
    re-check. ``exclude`` names a staged dir that must not be promoted
    (commit_staged passes its own staged input — the commit about to
    land is not an interrupted predecessor)."""
    if not getattr(fs, "atomic_rename", True):
        return None
    if fs.exists(target):
        return None
    base = posixpath.basename(target.rstrip("/"))
    parent = posixpath.dirname(target.rstrip("/"))
    try:
        listing = list(fs.list_status(parent))
    except Exception:
        return None
    staged_sibs: list[str] = []
    old_sibs: list[str] = []
    excl = posixpath.basename(exclude.rstrip("/")) if exclude else None
    for p, is_dir, _sz, _mt in listing:
        if not is_dir:
            continue
        name = posixpath.basename(p)
        if not name.startswith(base + ".") or name == excl:
            continue
        token = name[len(base) + 1:]
        (old_sibs if token.startswith("old-") else staged_sibs).append(p)

    def newest_first(paths: list[str]) -> list[str]:
        return sorted(
            paths, key=lambda p: _token_key(posixpath.basename(p)),
            reverse=True,
        )

    ordered_old = newest_first(old_sibs)
    newest_old_token = (
        posixpath.basename(ordered_old[0])[len(base) + 1:]
        if ordered_old
        else None
    )

    def _promote(cand: str) -> str | None:
        try:
            fs.rename(cand, target)
        except Exception:
            if fs.exists(target):  # lost a benign recovery race
                return target
            raise
        try:  # the breadcrumb travelled into target with the rename
            fs.delete(join(target, INTENT_FILE))
        except Exception:
            pass
        return target

    for cand in newest_first(staged_sibs):
        if not fs.exists(join(cand, "_SUCCESS")):
            continue
        if newest_old_token is not None:
            # promotable only as the completion of the exact commit
            # that parked the newest old- sibling
            if _read_intent(fs, cand) != newest_old_token:
                continue
        got = _promote(cand)
        if got:
            if ordered_old and fs.exists(target):
                # the completed commit's parked predecessor is now
                # superseded, exactly as its own delete would have done
                try:
                    fs.delete(ordered_old[0], recursive=True)
                except Exception:
                    pass
            return got
    for cand in ordered_old:
        got = _promote(cand)
        if got:
            return got
    return None


def _prune_generations(fs, target: str, keep: int) -> None:
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
    current = None
    ptr = join(target, POINTER_FILE)
    if fs.exists(ptr):
        current = join(target, fs.read_text(ptr).strip())
    for p in gens[:-keep] if len(gens) > keep else []:
        if p != current:
            fs.delete(p, recursive=True)


def resolve_dataset(fs, target: str) -> str:
    """Map a logical dataset path to the directory readers should scan
    (the current generation in pointer mode; ``target`` itself
    otherwise)."""
    ptr = join(target, POINTER_FILE)
    if fs.exists(ptr):
        return join(target, fs.read_text(ptr).strip())
    return target


def dataset_exists(fs, target: str) -> bool:
    """Has any version of the dataset been committed?"""
    if fs.exists(join(target, POINTER_FILE)):
        return True
    if fs.atomic_rename:
        return fs.is_dir(target)
    return False


# ---------------------------------------------------------------------------
# Advisory single-writer lock
# ---------------------------------------------------------------------------
#
# The engine's documented concurrency model is single-writer (the
# reference's one psycopg2 session). This lock turns that assumption
# from hoped-for into enforced: catalog mutations acquire it, a second
# concurrent writer fails fast with a clear owner message instead of
# silently interleaving read-modify-writes. It is ADVISORY — atomic
# where create-if-absent is (POSIX O_EXCL, HDFS create) and best-effort
# on object stores without conditional PUT; true multi-writer needs a
# table format (Delta/Iceberg), which stays out of scope.

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
                if held and not getattr(fs, "atomic_rename", True):
                    time.sleep(
                        random.uniform(
                            LOCK_VERIFY_DELAY_SEC / 5, LOCK_VERIFY_DELAY_SEC
                        )
                    )
                    held = fs.read_text(lock) == payload
            except Exception:
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
            except Exception:
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
    try:
        return json.loads(fs.read_text(lock))
    except Exception:
        pass
    name = posixpath.basename(lock)
    try:
        for path, _is_dir, _size, mtime_ns in fs.list_status(posixpath.dirname(lock)):
            if posixpath.basename(path) == name:
                return {"acquired_ns": mtime_ns}
    except Exception:
        pass
    return {"acquired_ns": time.time_ns()}


def release_writer_lock(fs, lock: WriterLock) -> None:
    """Delete ``lock`` if its file still holds the caller's payload. A
    holder that outlived its TTL may have had the lock broken and
    re-taken by another writer; that writer's live lock stays."""
    try:
        doc = json.loads(fs.read_text(lock.path))
    except Exception:
        return  # already gone, or a contender's between create and write
    if (doc.get("owner"), doc.get("acquired_ns")) == (lock.owner, lock.acquired_ns):
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
