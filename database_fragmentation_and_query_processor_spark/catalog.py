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
the Postgres singleton rows; writes are single-writer read-modify-write,
the same concurrency model as the reference (one client connection).

At 100 TB scale this sidecar stays O(1): it holds only the partitioning
function's parameters (scheme, n, domain bounds, RR cursor), never any
per-row or per-file state — fragment membership is a computed column and
file layout, both handled by Spark's partitioned-dataset machinery. The
one exception is bounded: while a routed insert commits, the sidecar
also carries that insert's intent (``insert_intent``: its stage → final
renames, at most two), and at most one intent exists at a time.

Routed inserts commit through it (:meth:`FragmentCatalog.mutation`,
:meth:`FragmentCatalog.stage`, :meth:`FragmentCatalog.commit_insert`):
under the writer lock the insert stages its files in the hidden
``{warehouse}/_staging/`` directory, writes the sidecar once with the
intent (and, for round-robin, the advanced cursor), renames each staged
file into place and writes the sidecar again without the intent. Every
mutation enters the lock through :meth:`FragmentCatalog.mutation`, which
first rolls a left-over intent forward (renaming each staged file whose
final name is absent) and deletes staged files no intent names (a
writer that died before its intent write). So an insert is all or
nothing once the next writer has run: a crash leaves either no visible
file or a torn insert that the next mutation completes.
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

    # -- raw IO (all through the warehouse FS shim) ---------------------
    def _read(self) -> dict:
        return fslib.read_json(self._fs, self.path, default={})

    def _write(self, doc: dict) -> None:
        self._fs.makedirs(self.warehouse)
        fslib.write_json_atomic(self._fs, self.path, doc)

    @contextmanager
    def _locked(self):
        """Advisory writer lock around every read-modify-write: the
        single-writer assumption (module docstring) enforced rather
        than hoped — a concurrent mutator fails fast with the holder's
        identity instead of silently losing an update."""
        self._fs.makedirs(self.warehouse)
        lock = fslib.acquire_writer_lock(self._fs, self.warehouse)
        try:
            yield
        finally:
            fslib.release_writer_lock(self._fs, lock)

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

    # -- routed-insert commit (module docstring) ------------------------
    @contextmanager
    def mutation(self):
        """The writer lock, entered with any interrupted insert finished
        (:meth:`_recover`); yields the sidecar document read under it."""
        with self._locked():
            yield self._recover()

    def recover(self) -> None:
        """Finish or clean up an interrupted insert; a no-op otherwise."""
        with self.mutation():
            pass

    def _recover(self) -> dict:
        """(Lock held.) Roll a left-over intent forward, then delete the
        staged files that no intent names. Returns the sidecar."""
        doc = self._read()
        renames = doc.pop(INTENT_KEY, None)
        if renames:
            self._publish(renames)
            self._write(doc)
        if self._fs.exists(self.staging):
            for path, _is_dir, _size, _mtime in self._fs.list_status(self.staging):
                self._fs.delete(path, recursive=True)
        return doc

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
        return section(self._read(), "range")

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
        return section(self._read(), "round_robin")

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
        return section(self._read(), "hash")

    def update_hash(self, n: int = -1, key: str | None = None) -> HashMetadata:
        return self._update("hash", n=int(n) if n >= 0 else None, key=key)

    def clear(self, scheme: str | None = None) -> None:
        with self.mutation() as doc:
            if scheme is None:
                self._fs.delete(self.path)
                return
            doc.pop(scheme, None)
            self._write(doc)


_SECTIONS = {"range": RangeMetadata, "round_robin": RoundRobinMetadata, "hash": HashMetadata}


def section(doc: dict, scheme: str):
    """``scheme``'s metadata from a sidecar document, or its defaults
    when the scheme has none."""
    cls, fields = _SECTIONS[scheme], doc.get(scheme)
    return cls(**fields) if fields else cls()
