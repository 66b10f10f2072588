"""The build-once artifact store for derived data.

Some registry queries serve from a copy of a fixture table derived
once per corpus: an ANN index, day-partitioned events, a fragmented
warehouse, a stream's input files. Like the reference's fragments
(PAPER.md §1.2), each is a pure function of its source tables and of
the code that builds it, so both are in its key.

- Key: :func:`artifact_path` digests ``sf_dir``, each source parquet's
  ``(size, mtime_ns)`` and :func:`code_fingerprint` of this package's
  ``.py`` files (hashed once per process, on first use). A regenerated
  fixture or an edited builder lands on a new path.
- Publish: :func:`build_once` runs ``build(stage)`` on an empty
  sibling stage dir, then renames it onto the final path. The final
  dir's existence is the completion record; there are no markers. A
  build that raises is deleted unpublished, so the next call rebuilds.
  If a concurrent builder published first, our stage is dropped.
- Trace: each call logs one INFO line on this module's logger,
  ``artifact hit: <tag> at <path>`` or ``artifact miss: <tag> built
  in <seconds> s at <path>``.
- Clearing: everything, stray stages included, lives under
  ``<tempfile.gettempdir()>/dfqp_artifacts/``; remove that directory.
"""

from __future__ import annotations

import functools
import hashlib
import logging
import os
import tempfile
import time
from collections.abc import Callable, Iterable

from . import fs as fslib

logger = logging.getLogger(__name__)

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


@functools.cache
def code_fingerprint(package_dir: str = _PACKAGE_DIR) -> str:
    """Digest of every ``.py`` file under ``package_dir`` (relative
    path and bytes, in sorted order)."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def artifact_path(sf_dir: str, tag: str, *sources: str) -> str:
    """Store path of artifact ``tag`` derived from the ``sources``
    tables of ``sf_dir`` by the current code (see the module doc)."""
    h = hashlib.md5(sf_dir.encode())
    for name in sources:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        h.update(f"|{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    h.update(f"|code:{code_fingerprint()}".encode())
    root = os.path.join(tempfile.gettempdir(), "dfqp_artifacts")
    return os.path.join(root, f"{tag}_{h.hexdigest()[:16]}")


def build_once(
    sf_dir: str,
    tag: str,
    sources: Iterable[str],
    build: Callable[[str], None],
) -> str:
    """Published path of artifact ``tag``; on a miss, ``build(stage)``
    fills a stage that is then published (see the module doc)."""
    path = artifact_path(sf_dir, tag, *sources)
    if os.path.isdir(path):
        logger.info("artifact hit: %s at %s", tag, path)
        return path
    fs = fslib.LocalFS()
    stage = f"{path}.{fslib.new_token('stage')}"
    t0 = time.perf_counter()
    try:
        fs.makedirs(stage)
        build(stage)
        try:
            fs.rename(stage, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            fs.delete(stage, recursive=True)  # a racer published first
    except BaseException:
        fs.delete(stage, recursive=True)
        raise
    logger.info(
        "artifact miss: %s built in %.3f s at %s",
        tag, time.perf_counter() - t0, path,
    )
    return path
