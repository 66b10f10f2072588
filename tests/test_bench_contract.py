"""bench.py output-contract tripwires (no Spark).

The driver records only the LAST 2000 characters of bench stdout; the
round-4 verdict's task 8 exists because the full per-query JSON line
outgrew that window in rounds 2-4. The compact final line must stay
recoverable at any plausible registry size, and the headline list must
remain a subset of the registry so the bench can't KeyError mid-run.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])

import bench  # noqa: E402
from database_fragmentation_and_query_processor_spark.queries import registry  # noqa: E402

#: Queries added in rounds 13 and 14, after the last bench run that
#: wrote QUIET_LINES.json.
UNBENCHED_ADDITIONS = [
    "streaming_near_dup_compaction",
    "multimodal_real_resize",
    "multimodal_real_audio",
    "ann_index_balance_audit",
    "sequence_packing_audit",
    "ann_sq8_topk",
    "mcv_stats_audit",
    "sprt_ab_monitor",
    "multimodal_real_frames",
    "phrase_search_positional",
    "frag_consistent_hash_ring",
    "bitmap_index_intersection",
    "neyman_allocation_audit",
    "soft_dedup_weights",
]


def _fake_out(n_queries: int) -> dict:
    qs = {f"some_quite_long_query_name_number_{i:04d}": float(i % 37) / 3
          for i in range(n_queries)}
    qs["a_failed_one"] = "ERR AnalysisException"
    slow10 = sorted((k for k, v in qs.items() if isinstance(v, float)),
                    key=lambda k: -qs[k])[:10]
    return {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "queries": qs,
        "errors": 1,
        "sf": 0.1,
        "cpus": 32,
        "retimed": {k: qs[k] / 7 for k in slow10},
        "r1_subset_total": 55.5,
        "r1_subset_n": 53,
    }


def test_compact_line_fits_tail_window_at_400_queries():
    line = json.dumps(bench.compact_summary(_fake_out(400)))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["n_queries"] == 401
    assert len(parsed["slowest"]) == 10
    # each slowest entry is a [first, retimed] pair
    for first, retimed in parsed["slowest"].values():
        assert isinstance(first, float) and retimed == first / 7
    assert parsed["full_results"] == "BENCH_FULL.json"


def test_compact_line_survives_all_error_run():
    out = _fake_out(0)
    line = json.dumps(bench.compact_summary(out))
    assert json.loads(line)["slowest"] == {}


def test_headline_is_subset_of_registry():
    missing = set(bench.HEADLINE) - set(registry.QUERIES)
    assert not missing, missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_every_registry_query_is_benched():
    """Reverse containment: a registry addition that forgets the
    HEADLINE append runs un-timed — exactly how the r14 second wave
    initially missed its first full-bench pass. Keep both sets equal."""
    unbenched = set(registry.QUERIES) - set(bench.HEADLINE)
    assert not unbenched, unbenched


def test_retime_candidates_adds_per_line_quiet_trigger():
    """R10: the retime set = global slowest-10 ∪ any line >3x its own
    historical quiet value (≥ the absolute floor) — the per-line
    trigger catches a fast-in-absolute-terms query sitting in a
    contended window, which the global top-10 misses (the r8/r9
    demonstrated failure mode)."""
    timings = {f"q{i:02d}": 10.0 + i for i in range(10)}  # the top 10
    timings["spiked"] = 2.0      # > 3x its 0.5 quiet -> retimed
    timings["steady"] = 2.0      # at its own quiet -> not retimed
    timings["tiny_spike"] = 0.3  # 3x of 0.1 but under floor -> skipped
    timings["broken"] = "ERR AnalysisException"
    quiet = {"spiked": 0.5, "steady": 2.0, "tiny_spike": 0.1}
    cand = bench.retime_candidates(timings, quiet)
    assert len([c for c in cand if c.startswith("q")]) == 10
    assert "spiked" in cand
    assert "steady" not in cand
    assert "tiny_spike" not in cand
    assert "broken" not in cand


def test_retime_candidates_cap_bounds_contended_runs():
    timings = {f"s{i:03d}": 5.0 for i in range(100)}
    quiet = {k: 0.1 for k in timings}
    cand = bench.retime_candidates(timings, quiet)
    assert len(cand) == 10 + bench.RETIME_EXTRA_CAP


def test_quiet_record_covers_the_registry():
    """QUIET_LINES.json must know every registered query at sf0.1 —
    a registry addition without a quiet line silently opts out of the
    per-line trigger (bench.py folds each run in, so the file stays
    current once seeded; new queries gain their line on first bench)."""
    quiet = bench.load_quiet(0.1)
    known = set(quiet)
    registered = set(registry.QUERIES)
    # newest additions gain their quiet line on the first bench run
    # after registration; exclude only the round-13/14 additions, which
    # no bench run has recorded yet
    missing = registered - known - set(UNBENCHED_ADDITIONS)
    assert not missing, missing


def test_release_all_logs_a_failed_unpersist_and_empties_registry(caplog):
    """A frame whose session is gone cannot be unpersisted: release_all
    logs that as a WARNING, keeps going, and still empties the
    registry."""
    from py4j.protocol import Py4JError

    from database_fragmentation_and_query_processor_spark import cache

    class Frame:
        def __init__(self, fails: bool):
            self.fails = fails

        def unpersist(self):
            if self.fails:
                raise Py4JError("SparkContext was shut down")

    cache.track(Frame(False))
    cache.track(Frame(True))
    with caplog.at_level("WARNING", logger=cache.__name__):
        assert cache.release_all() == 1
    assert cache._TRACKED == []
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    assert "SparkContext was shut down" in caplog.records[0].getMessage()


def test_artifact_use_reads_hit_and_miss_records(tmp_path, monkeypatch):
    """The bench's per-query artifact map reads the store's own log
    lines: ``miss:<tag>:<seconds>`` on a build, ``hit:<tag>`` after."""
    import logging
    import re
    import tempfile

    from database_fragmentation_and_query_processor_spark import artifacts

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    (tmp_path / "events.parquet").write_bytes(b"payload")
    use = bench.ArtifactUse()
    log = logging.getLogger(artifacts.__name__)
    log.addHandler(use)
    log.setLevel(logging.INFO)
    try:
        for _ in range(2):
            artifacts.build_once(str(tmp_path), "t", ["events"], lambda stage: None)
    finally:
        log.removeHandler(use)
        log.setLevel(logging.NOTSET)
    assert len(use.uses) == 2
    assert re.fullmatch(r"miss:t:[0-9]+\.[0-9]{3}", use.uses[0])
    assert use.uses[1] == "hit:t"
