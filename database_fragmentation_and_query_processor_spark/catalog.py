"""Fragment-catalog metadata sidecar.

The reference keeps two singleton PostgreSQL tables:
``RANGE_METADATA(range_total_partitions, min_value, max_value, interval)``
(Interface1.py:77-81, defaults ``(0, 0.0, 5.0, 0)``) and
``ROUND_ROBIN_METADATA(round_robin_total_partitions,
round_robin_last_inserted)`` (Interface1.py:52-58, defaults ``(0, -1)``).
Partial updates use ``>= 0`` sentinel guards (Interface1.py:61-69,
Interface1.py:84-95).

Here the same state lives in one JSON sidecar per warehouse
(``_frag_metadata.json``). It must survive across sessions exactly like
the Postgres singleton rows.

The sidecar is also the warehouse's one commit point. Data files are
immutable: each dataset of a table (``<table>/base``,
``<table>_range``, ``<table>_rr``, ``<table>_hash``) lives in
generation directories ``<dataset>/gen-<token>/``, and the sidecar's
``generations`` map names the live one of each. A writer
(:meth:`FragmentCatalog.mutation`) holds the warehouse writer lock for
its whole write: it writes a new generation that no reader looks at
(:meth:`FragmentCatalog.new_generation`), then flips the generation
together with the scheme's metadata in ONE atomic sidecar write
(:meth:`FragmentCatalog.publish`) and prunes old generations
(``fs.KEEP_GENERATIONS`` survive). A reader reads the sidecar once
(:meth:`FragmentCatalog.read`) and takes ``n``, the bounds and the
generation from that one document, so it sees the whole old layout or
the whole new one, and its ``n`` matches the layout it reads. A writer
that fails before its flip leaves its generation unpublished, and it is
deleted.

At 100 TB scale this sidecar stays O(1): it holds the partitioning
functions' parameters (scheme, n, domain bounds, RR cursor) and one
generation name per dataset, never any per-row or per-file state —
fragment membership is a computed column and file layout, both handled
by Spark's partitioned-dataset machinery. The one exception is
bounded: while a routed insert commits, the sidecar also carries that
insert's intent (``insert_intent``: its stage → final renames, at most
two), and at most one intent exists at a time.

Routed inserts (:meth:`FragmentCatalog.stage`,
:meth:`FragmentCatalog.commit_insert`) add files to the live
generations they read under the lock: the insert stages its files in
the hidden ``{warehouse}/_staging/`` directory, writes the sidecar once
with the intent (and, for round-robin, the advanced cursor), renames
each staged file into place and writes the sidecar again without the
intent. Every mutation first rolls a left-over intent forward (renaming
each staged file whose final name is absent) and deletes staged files
no intent names (a writer that died before its intent write). So an
insert is all or nothing once the next writer has run: a crash leaves
either no visible file or a torn insert that the next mutation
completes.

Every sidecar write that publishes something (a generation flip, an
insert intent) is fenced: it first checks that the writer still holds
its lock (``fs.check_writer_lock``). A write that ran past
``fs.LOCK_TTL_SEC`` and lost its lock raises ``LockHeldError``; the
sidecar is left unchanged and the unpublished generation deleted.

Every sidecar write (publish, insert intent, insert clear, recover,
drop, clear) stamps the document with ``commit``: one more than the
stamp it read. ``clear()`` keeps the stamp, so it never goes down while
the sidecar exists. Readers key on it: ``api.live_fragments`` prepares
the relation of a live generation once per Spark session and commit,
and reuses it while the generation and the commit stamp of the sidecar
read for the call both match. A file added to a live generation outside
the catalog (without a sidecar write) therefore stays unseen by a
session that already read that generation, until the next commit.
"""

from __future__ import annotations

import posixpath
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from . import fs as fslib

METADATA_FILENAME = "_frag_metadata.json"
#: Hidden warehouse directory where routed inserts stage their files.
STAGING_DIR = "_staging"
#: Sidecar key of the one pending insert: ``[[stage, final], ...]``.
INTENT_KEY = "insert_intent"
#: Sidecar key naming each dataset's live generation:
#: ``{dataset: "gen-<token>"}``, datasets relative to the warehouse.
GENERATIONS_KEY = "generations"
#: Sidecar key of the commit stamp: an integer every sidecar write adds
#: 1 to, so it never goes down while the sidecar exists.
COMMIT_KEY = "commit"


@dataclass
class RangeMetadata:
    """Mirrors RANGE_METADATA defaults (Interface1.py:81)."""

    n: int = 0
    min_value: float = 0.0
    max_value: float = 5.0
    interval: float = 0.0


@dataclass
class RoundRobinMetadata:
    """Mirrors ROUND_ROBIN_METADATA defaults (Interface1.py:58)."""

    n: int = 0
    last_inserted: int = -1


@dataclass
class HashMetadata:
    """[EXT] hash-scheme parameters (no reference counterpart): the
    routing key column and fragment count fully determine membership."""

    n: int = 0
    key: str = ""


class FragmentCatalog:
    """Read-modify-write access to the per-warehouse metadata sidecar."""

    def __init__(self, warehouse: str, spark=None, fs=None):
        """``warehouse`` may be a bare local path (LocalFS, no JVM
        needed) or any Hadoop-resolvable URI when ``spark`` is passed
        (HadoopFS: hdfs://, s3a://, file://...). An explicit ``fs``
        overrides both."""
        self.warehouse = warehouse
        self.path = fslib.join(warehouse, METADATA_FILENAME)
        self.staging = fslib.join(warehouse, STAGING_DIR)
        self._fs = fs if fs is not None else fslib.fs_for(warehouse, spark)
        self._lock: fslib.WriterLock | None = None
        #: generations made in the current mutation and not yet published
        self._minted: list[str] = []

    # -- raw IO (all through the warehouse FS shim) ---------------------
    def read(self) -> dict:
        """The sidecar document; a reader takes everything it needs from
        one read (module docstring)."""
        return fslib.read_json(self._fs, self.path, default={})

    def _write(self, doc: dict) -> None:
        """(Under :meth:`mutation`.) The fenced sidecar write: raises
        ``LockHeldError``, writing nothing, once the lock is lost.
        Stamps ``doc`` with the next commit number."""
        fslib.check_writer_lock(self._fs, self._lock)
        doc[COMMIT_KEY] = doc.get(COMMIT_KEY, 0) + 1
        fslib.write_json_atomic(self._fs, self.path, doc)
        live = set(doc.get(GENERATIONS_KEY, {}).values())
        self._minted = [p for p in self._minted if posixpath.basename(p) not in live]

    def _update(self, scheme: str, **changes):
        """One locked read-modify-write of ``scheme``'s section: read
        the sidecar once, set every field whose change is not None,
        write it back."""
        with self.mutation() as doc:
            meta = section(doc, scheme)
            for field, value in changes.items():
                if value is not None:
                    setattr(meta, field, value)
            doc[scheme] = asdict(meta)
            self._write(doc)
        return meta

    @contextmanager
    def mutation(self):
        """The writer lock, held for the whole block and entered with any
        interrupted insert finished (:meth:`_recover`); yields the
        sidecar document read under it. A block that raises deletes the
        generations it made and did not publish."""
        self._fs.makedirs(self.warehouse)
        self._lock = fslib.acquire_writer_lock(self._fs, self.warehouse)
        try:
            yield self._recover()
        except BaseException:
            for path in self._minted:
                self._fs.delete(path, recursive=True)
            raise
        finally:
            self._minted.clear()
            lock, self._lock = self._lock, None
            fslib.release_writer_lock(self._fs, lock)

    def recover(self) -> None:
        """Finish or clean up an interrupted insert; a no-op otherwise."""
        with self.mutation():
            pass

    def _recover(self) -> dict:
        """(Lock held.) Roll a left-over intent forward, then delete the
        staged files that no intent names. Returns the sidecar."""
        doc = self.read()
        renames = doc.pop(INTENT_KEY, None)
        if renames:
            self._publish(renames)
            self._write(doc)
        if self._fs.exists(self.staging):
            for path, _is_dir, _size, _mtime in self._fs.list_status(self.staging):
                self._fs.delete(path, recursive=True)
        return doc

    # -- generations (module docstring) ---------------------------------
    def live(self, dataset: str, doc: dict | None = None) -> str | None:
        """Path of the live generation of ``dataset`` (relative to the
        warehouse, e.g. ``ratings_range``) that ``doc`` names (the
        sidecar read now when ``doc`` is None); None when it has none."""
        doc = self.read() if doc is None else doc
        name = doc.get(GENERATIONS_KEY, {}).get(dataset)
        return fslib.join(self.warehouse, dataset, name) if name else None

    def new_generation(self, dataset: str, tag: str) -> str:
        """(Under :meth:`mutation`.) Path of a new, unpublished
        generation of ``dataset`` to write."""
        path = fslib.stage_path(self._fs, fslib.join(self.warehouse, dataset), tag)
        self._minted.append(path)
        return path

    def publish(self, doc: dict, generations: dict[str, str], **sections) -> None:
        """(Under :meth:`mutation`.) Make each ``generations`` entry
        (dataset → written generation) live, and set each scheme
        section (``range=RangeMetadata(...)``, ...), in one sidecar
        write; then prune each dataset's old generations."""
        for scheme, meta in sections.items():
            doc[scheme] = asdict(meta)
        live = doc.setdefault(GENERATIONS_KEY, {})
        for dataset, path in generations.items():
            live[dataset] = posixpath.basename(path)
        self._write(doc)
        for dataset in generations:
            fslib.prune_generations(
                self._fs, fslib.join(self.warehouse, dataset), live[dataset]
            )

    def drop(self, doc: dict, dirs) -> None:
        """(Under :meth:`mutation`.) Unpublish every dataset in or under
        the warehouse directories ``dirs`` in one sidecar write, then
        delete the directories."""
        live = doc.get(GENERATIONS_KEY, {})
        for dataset in [d for d in live if any(d == x or d.startswith(x + "/") for x in dirs)]:
            del live[dataset]
        self._write(doc)
        for d in dirs:
            self._fs.delete(fslib.join(self.warehouse, d), recursive=True)

    # -- routed-insert commit (module docstring) ------------------------
    def insert_target(self, doc: dict, dataset: str) -> str:
        """(Under :meth:`mutation`.) The live generation of ``dataset``
        an insert adds to; a new empty one, named in ``doc`` and so
        published by the insert's intent write, when it has none."""
        path = self.live(dataset, doc)
        if path is None:
            path = self.new_generation(dataset, "insert")
            self._fs.makedirs(path)
            doc.setdefault(GENERATIONS_KEY, {})[dataset] = posixpath.basename(path)
        return path

    def _publish(self, renames) -> None:
        for stage, final in renames:
            if not self._fs.exists(final):
                self._fs.makedirs(posixpath.dirname(final))
                self._fs.rename(stage, final)

    def stage(self, data: bytes, final_dir: str) -> tuple[str, str]:
        """(Under :meth:`mutation`.) Write ``data`` as a staged parquet
        file bound for ``final_dir``; returns ``(stage, final)`` paths.
        The final name is Spark-visible (``part-<uuid>-c000.parquet``);
        the staged one is not, being under ``_staging/``."""
        name = f"part-{uuid.uuid4()}-c000.parquet"
        stage = fslib.join(self.staging, name)
        self._fs.write_bytes(stage, data)
        return stage, fslib.join(final_dir, name)

    def commit_insert(self, doc: dict, staged: list[tuple[str, str]]) -> None:
        """(Under :meth:`mutation`.) Publish ``staged`` files: write the
        sidecar ``doc`` with the intent, rename each file into place in
        order, write the sidecar again without the intent. A reader sees
        the files appear one rename at a time."""
        doc[INTENT_KEY] = [list(pair) for pair in staged]
        self._write(doc)
        del doc[INTENT_KEY]
        self._publish(staged)
        self._write(doc)

    # -- range ----------------------------------------------------------
    def range_meta(self) -> RangeMetadata:
        return section(self.read(), "range")

    def update_range(
        self,
        n: int = -1,
        min_value: float = -1.0,
        max_value: float = -1.0,
        interval: float = -1.0,
    ) -> RangeMetadata:
        """Partial update with the reference's ``>= 0`` sentinel semantics
        (Interface1.py:84-95): a negative argument means "don't touch"."""
        return self._update(
            "range",
            n=int(n) if n >= 0 else None,
            min_value=float(min_value) if min_value >= 0 else None,
            max_value=float(max_value) if max_value >= 0 else None,
            interval=float(interval) if interval >= 0 else None,
        )

    # -- round robin ----------------------------------------------------
    def round_robin_meta(self) -> RoundRobinMetadata:
        return section(self.read(), "round_robin")

    def update_round_robin(self, n: int = -1, last_inserted: int = -2) -> RoundRobinMetadata:
        """Partial update; ``last_inserted`` uses ``>= -1`` because -1 is a
        legal cursor value (reference guard at Interface1.py:66 is ``>= 0``
        but its init path writes -1 directly, Interface1.py:58)."""
        return self._update(
            "round_robin",
            n=int(n) if n >= 0 else None,
            last_inserted=int(last_inserted) if last_inserted >= -1 else None,
        )

    # -- hash [EXT] -----------------------------------------------------
    def hash_meta(self) -> HashMetadata:
        return section(self.read(), "hash")

    def update_hash(self, n: int = -1, key: str | None = None) -> HashMetadata:
        return self._update("hash", n=int(n) if n >= 0 else None, key=key)

    def clear(self, scheme: str | None = None) -> None:
        """Reset ``scheme``'s section, or the whole sidecar (generation
        names included, the commit stamp kept) when ``scheme`` is None."""
        with self.mutation() as doc:
            if scheme is None:
                commit = doc.get(COMMIT_KEY, 0)
                doc.clear()
                doc[COMMIT_KEY] = commit
            else:
                doc.pop(scheme, None)
            self._write(doc)


_SECTIONS = {"range": RangeMetadata, "round_robin": RoundRobinMetadata, "hash": HashMetadata}


def section(doc: dict, scheme: str):
    """``scheme``'s metadata from a sidecar document, or its defaults
    when the scheme has none."""
    cls, fields = _SECTIONS[scheme], doc.get(scheme)
    return cls(**fields) if fields else cls()
