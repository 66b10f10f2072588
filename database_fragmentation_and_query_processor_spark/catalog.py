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
file layout, both handled by Spark's partitioned-dataset machinery.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import asdict, dataclass

from . import fs as fslib

METADATA_FILENAME = "_frag_metadata.json"


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

    def _update(self, scheme: str, cls, **changes):
        """One locked read-modify-write of ``scheme``'s section: read
        the sidecar once, set every field whose change is not None,
        write it back."""
        with self._locked():
            doc = self._read()
            meta = _section(doc, scheme, cls)
            for field, value in changes.items():
                if value is not None:
                    setattr(meta, field, value)
            doc[scheme] = asdict(meta)
            self._write(doc)
        return meta

    # -- range ----------------------------------------------------------
    def range_meta(self) -> RangeMetadata:
        return _section(self._read(), "range", RangeMetadata)

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
            RangeMetadata,
            n=int(n) if n >= 0 else None,
            min_value=float(min_value) if min_value >= 0 else None,
            max_value=float(max_value) if max_value >= 0 else None,
            interval=float(interval) if interval >= 0 else None,
        )

    # -- round robin ----------------------------------------------------
    def round_robin_meta(self) -> RoundRobinMetadata:
        return _section(self._read(), "round_robin", RoundRobinMetadata)

    def update_round_robin(self, n: int = -1, last_inserted: int = -2) -> RoundRobinMetadata:
        """Partial update; ``last_inserted`` uses ``>= -1`` because -1 is a
        legal cursor value (reference guard at Interface1.py:66 is ``>= 0``
        but its init path writes -1 directly, Interface1.py:58)."""
        return self._update(
            "round_robin",
            RoundRobinMetadata,
            n=int(n) if n >= 0 else None,
            last_inserted=int(last_inserted) if last_inserted >= -1 else None,
        )

    # -- hash [EXT] -----------------------------------------------------
    def hash_meta(self) -> HashMetadata:
        return _section(self._read(), "hash", HashMetadata)

    def update_hash(self, n: int = -1, key: str | None = None) -> HashMetadata:
        return self._update("hash", HashMetadata, n=int(n) if n >= 0 else None, key=key)

    def clear(self, scheme: str | None = None) -> None:
        with self._locked():
            if scheme is None:
                self._fs.delete(self.path)
                return
            doc = self._read()
            doc.pop(scheme, None)
            self._write(doc)


def _section(doc: dict, scheme: str, cls):
    """``scheme``'s metadata from a sidecar document, or ``cls``'s
    defaults when the scheme has none."""
    fields = doc.get(scheme)
    return cls(**fields) if fields else cls()
