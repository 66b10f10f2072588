"""Registry for intermediates the operators persist.

Several operators persist a shared intermediate that the RETURNED lazy
plan consumes more than once (the shingle-set table under a MinHash
near-dup join, the brute-force side of the ANN recall audit, the gram
stream of benchmark decontamination). The operator cannot unpersist it
before returning — the caller's action hasn't run yet — so a plain
``.persist()`` would leak cached partitions in a long-lived session
composing many queries (a per-query ``spark.catalog.clearCache()``,
as bench.py does, hides the leak but composition inside ONE session
does not).

Every such persist is routed through :func:`track`; a session that
composes operators calls :func:`release_all` after its consuming
action. At 100 TB this matters more, not less: a leaked corpus-sized
shingle table pins executor storage memory for the life of the app.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later :func:`release_all`."""
    _TRACKED.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked DataFrame (blocking=False); returns how
    many were released. Safe to call repeatedly — already-unpersisted
    frames are a no-op in Spark. A frame whose session is already
    stopped cannot be unpersisted (the JVM call fails); that is logged
    as a WARNING and the registry is still emptied."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Py4JError as exc:
            logger.warning("release_all: could not unpersist a frame: %s", exc)
    return n
