"""The build-once artifact store: its key (data stat plus code
fingerprint), its rename publish, and its hit/miss trace."""

from __future__ import annotations

import logging
import os
import shutil
import tempfile

import pytest

from database_fragmentation_and_query_processor_spark import artifacts


@pytest.fixture()
def store(tmp_path, monkeypatch):
    """A fake ``sf_dir`` holding one source table, with the store
    rooted under ``tmp_path`` so every test starts cold."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"payload")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    return str(sf)


def _store_entries() -> list[str]:
    root = os.path.join(tempfile.gettempdir(), "dfqp_artifacts")
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def _counting_build(calls: list[str]):
    def build(stage):
        calls.append(stage)
        with open(os.path.join(stage, "data.txt"), "w") as f:
            f.write("built")

    return build


def test_artifact_cache_invalidates_on_fixture_regen(tmp_path):
    """Build-once artifacts (LSH index, day-partitioned events,
    z-ordered lineitem) must re-key when the source parquet changes:
    fixtures are regenerated IN PLACE between rounds, and a path keyed
    on sf_dir alone would serve stale derived data against a fresh
    oracle."""
    import os

    from database_fragmentation_and_query_processor_spark.artifacts import artifact_path

    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1-payload")
    p1 = artifact_path(str(tmp_path), "t", "events")
    assert p1 == artifact_path(str(tmp_path), "t", "events")

    src.write_bytes(b"v2-payload-longer")  # size change
    p2 = artifact_path(str(tmp_path), "t", "events")
    assert p2 != p1

    os.utime(src, ns=(1, 1))  # same bytes, new generation timestamp
    p3 = artifact_path(str(tmp_path), "t", "events")
    assert p3 != p2


def test_code_fingerprint_covers_every_package_source(tmp_path):
    """Editing any module of a package copy changes its fingerprint;
    bytecode caches do not count."""
    pkg = tmp_path / "pkg"
    shutil.copytree(
        os.path.dirname(artifacts.__file__), pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    fingerprint = artifacts.code_fingerprint.__wrapped__
    before = fingerprint(str(pkg))
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "x.pyc").write_bytes(b"\0")
    assert fingerprint(str(pkg)) == before
    builder = pkg / "queries" / "docops.py"
    builder.write_text(builder.read_text() + "\n# edited\n")
    assert fingerprint(str(pkg)) != before
    assert artifacts.code_fingerprint() == fingerprint(
        os.path.dirname(artifacts.__file__)
    )


def test_code_change_gives_a_new_path_and_rebuilds(store, monkeypatch):
    calls: list[str] = []
    first = artifacts.build_once(store, "t", ["events"], _counting_build(calls))
    assert artifacts.build_once(store, "t", ["events"], _counting_build(calls)) == first
    assert len(calls) == 1

    monkeypatch.setattr(artifacts, "code_fingerprint", lambda: "edited-builder")
    second = artifacts.build_once(store, "t", ["events"], _counting_build(calls))
    assert second != first
    assert len(calls) == 2
    with open(os.path.join(second, "data.txt")) as f:
        assert f.read() == "built"


def test_failed_build_publishes_nothing_and_next_call_rebuilds(store):
    def broken(stage):
        with open(os.path.join(stage, "half.txt"), "w") as f:
            f.write("half")
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        artifacts.build_once(store, "t", ["events"], broken)
    assert not os.path.exists(artifacts.artifact_path(store, "t", "events"))
    assert _store_entries() == []  # no published dir, no stage left behind

    calls: list[str] = []
    path = artifacts.build_once(store, "t", ["events"], _counting_build(calls))
    assert len(calls) == 1
    assert _store_entries() == [os.path.basename(path)]


def test_back_to_back_calls_log_one_miss_then_one_hit(store, caplog):
    calls: list[str] = []
    with caplog.at_level(logging.INFO, logger=artifacts.__name__):
        path = artifacts.build_once(store, "t", ["events"], _counting_build(calls))
        assert artifacts.build_once(store, "t", ["events"], _counting_build(calls)) == path
    assert len(calls) == 1
    msgs = [r.getMessage() for r in caplog.records if r.name == artifacts.__name__]
    assert len(msgs) == 2
    assert msgs[0].startswith("artifact miss: t built in ")
    assert msgs[0].endswith(f" s at {path}")
    assert msgs[1] == f"artifact hit: t at {path}"
    assert all(r.levelno == logging.INFO for r in caplog.records)


def test_racer_published_first_keeps_theirs(store):
    """A build whose publish finds the final dir already there (another
    process won the race) drops its own stage and serves the winner."""
    path = artifacts.artifact_path(store, "t", "events")

    def loser(stage):
        with open(os.path.join(stage, "data.txt"), "w") as f:
            f.write("mine")
        os.makedirs(path)
        with open(os.path.join(path, "data.txt"), "w") as f:
            f.write("theirs")

    assert artifacts.build_once(store, "t", ["events"], loser) == path
    with open(os.path.join(path, "data.txt")) as f:
        assert f.read() == "theirs"
    assert _store_entries() == [os.path.basename(path)]


def test_csv_quarantine_artifact_holds_its_corrupt_lines(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The published csv_quarantine artifact always carries
    part-corrupt.csv: a build that dies after the Spark CSV write (which
    leaves Spark's own _SUCCESS) publishes nothing."""
    from database_fragmentation_and_query_processor_spark.queries import docops

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    art = artifacts.artifact_path(sf_dir, "csv_quarantine", "documents")

    monkeypatch.setattr(docops, "CSV_CORRUPT_LINES", None)  # crash mid-build
    with pytest.raises(TypeError):
        docops.q_csv_quarantine_audit(spark, sf_dir)
    assert not os.path.exists(art)
    assert _store_entries() == []

    monkeypatch.undo()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert docops.q_csv_quarantine_audit(spark, sf_dir).count() > 0
    assert os.path.isfile(os.path.join(art, "part-corrupt.csv"))
