"""Fragmentation-property tests ported from the reference's hand-rolled
driver (testHelper1.py styles 2-5 per SURVEY.md §5): row-count oracle,
completeness/disjointness/reconstruction triple, independent
re-implementation oracles, insert-routing expectations."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark import api
from database_fragmentation_and_query_processor_spark import fs as fslib
from database_fragmentation_and_query_processor_spark.catalog import (
    COMMIT_KEY,
    INTENT_KEY,
    FragmentCatalog,
)
from database_fragmentation_and_query_processor_spark.operators.fragmentation import (
    hash_fragment_expr,
    range_fragment_expr,
    read_fragmented,
)
from database_fragmentation_and_query_processor_spark.operators.query import (
    hash_owner_fragment,
    sql_literal,
)
from database_fragmentation_and_query_processor_spark.schema import (
    FRAGMENT_COL,
    FRAGMENTED_SCHEMA,
    RATINGS_SCHEMA,
)

from .conftest import RATINGS_FIXTURE

N = 5  # fragment count used throughout the reference tests (tester1.py)


def _live(warehouse, dataset):
    """The generation of ``dataset`` the warehouse's catalog names live."""
    return FragmentCatalog(warehouse).live(dataset)


@pytest.fixture()
def loaded(spark, ratings_file, warehouse):
    df = api.load_ratings(spark, "ratings", ratings_file, warehouse)
    return df, warehouse


def test_load_row_count_and_schema(loaded):
    df, _ = loaded
    assert df.count() == len(RATINGS_FIXTURE)  # ACTUAL_ROWS_IN_INPUT_FILE
    assert [f.name for f in df.schema.fields] == ["userid", "movieid", "rating"]
    rows = {(r.userid, r.movieid, r.rating) for r in df.collect()}
    assert rows == set(RATINGS_FIXTURE)


def test_native_reader_splits_losslessly(spark, tmp_path):
    """The ``::`` reader is a byte-range-splittable scan: a dump read
    as many small splits yields exactly the rows of an unsplit read,
    with the timestamp dropped."""
    from collections import Counter

    from database_fragmentation_and_query_processor_spark.sources.ratings import (
        read_ratings_text,
    )

    written = [(1 + i % 97, 10 * i, (i % 11) / 2) for i in range(2000)]
    path = tmp_path / "ratings.dat"
    path.write_text(
        "".join(f"{u}::{m}::{r}::{838983000 + m}\n" for u, m, r in written)
    )

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    whole = rows(read_ratings_text(spark, str(path)))
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "64")
        spark.conf.set(keys[1], "0")
        split = read_ratings_text(spark, str(path))
        assert split.rdd.getNumPartitions() > 5
        assert rows(split) == whole == Counter(written)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _expected_range_fragment(rating: float, n: int = N) -> int:
    interval = 5.0 / n
    if rating <= interval:
        return 0
    return min(math.ceil(rating / interval) - 1, n - 1)


def test_range_partition_counts_match_independent_oracle(spark, loaded):
    df, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    frags = spark.read.parquet(_live(warehouse, "ratings_range"))
    got = {
        r[FRAGMENT_COL]: r["cnt"]
        for r in frags.groupBy(FRAGMENT_COL).agg(F.count("*").alias("cnt")).collect()
    }
    expected: dict[int, int] = {}
    for _, _, rating in RATINGS_FIXTURE:
        k = _expected_range_fragment(rating)
        expected[k] = expected.get(k, 0) + 1
    assert got == expected


def test_range_partition_property_triple(spark, loaded):
    df, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    frags = spark.read.parquet(_live(warehouse, "ratings_range"))
    n_base = df.count()
    # completeness + disjointness + reconstruction == exact count match
    assert frags.count() == n_base
    # reconstruction: same multiset of tuples
    assert (
        frags.select("userid", "movieid", "rating")
        .exceptAll(df)
        .count() == 0
    )
    # every fragment id within [0, N)
    ids = {r[0] for r in frags.select(FRAGMENT_COL).distinct().collect()}
    assert ids <= set(range(N))


def test_round_robin_partition_matches_rownum_mod_oracle(spark, loaded):
    df, warehouse = loaded
    api.round_robin_partition(spark, "ratings", N, warehouse)
    frags = spark.read.parquet(_live(warehouse, "ratings_rr"))
    assert frags.count() == len(RATINGS_FIXTURE)
    # counts per fragment must be exactly (rownum-1) % N of 20 rows → 4 each
    got = {
        r[FRAGMENT_COL]: r["cnt"]
        for r in frags.groupBy(FRAGMENT_COL).agg(F.count("*").alias("cnt")).collect()
    }
    assert got == {i: len(RATINGS_FIXTURE) // N for i in range(N)}
    # cursor persisted: 20 rows → last index 19 → 19 % 5 = 4
    assert FragmentCatalog(warehouse).round_robin_meta().last_inserted == (
        len(RATINGS_FIXTURE) - 1
    ) % N


def test_invalid_partition_count_is_noop(spark, loaded):
    df, warehouse = loaded
    for bad in (0, -1, 1.5, "5", None, True):
        api.range_partition(spark, "ratings", bad, warehouse)
        api.round_robin_partition(spark, "ratings", bad, warehouse)
    assert FragmentCatalog(warehouse).range_meta().n == 0
    assert FragmentCatalog(warehouse).round_robin_meta().n == 0


def test_range_insert_routing(spark, loaded):
    """tester1.py:39 — rating 3 routes to range fragment 2 (of 5)."""
    df, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    api.range_insert(spark, "ratings", 100, 2, 3.0, warehouse)
    frags = spark.read.parquet(_live(warehouse, "ratings_range"))
    hit = frags.where(
        (F.col("userid") == 100) & (F.col("movieid") == 2) & (F.col("rating") == 3.0)
    ).collect()
    assert len(hit) == 1 and hit[0][FRAGMENT_COL] == 2
    base = spark.read.parquet(_live(warehouse, "ratings/base"))
    assert base.count() == len(RATINGS_FIXTURE) + 1


def test_round_robin_insert_routing_and_cursor(spark, loaded):
    """tester1.py:51 — first RR insert after a 20-row/5-part partition
    goes to fragment 0; cursor advances."""
    df, warehouse = loaded
    api.round_robin_partition(spark, "ratings", N, warehouse)
    api.round_robin_insert(spark, "ratings", 100, 1, 3.0, warehouse)
    frags = spark.read.parquet(_live(warehouse, "ratings_rr"))
    hit = frags.where((F.col("userid") == 100) & (F.col("movieid") == 1)).collect()
    assert len(hit) == 1 and hit[0][FRAGMENT_COL] == 0
    api.round_robin_insert(spark, "ratings", 101, 1, 3.0, warehouse)
    hit2 = (
        spark.read.parquet(_live(warehouse, "ratings_rr"))
        .where(F.col("userid") == 101)
        .collect()
    )
    assert len(hit2) == 1 and hit2[0][FRAGMENT_COL] == 1
    assert FragmentCatalog(warehouse).round_robin_meta().last_inserted == 1


#: scheme -> (partitioning, insert, fragment dir under the warehouse)
_SCHEMES = {
    "range": (api.range_partition, api.range_insert, "ratings_range"),
    "round_robin": (api.round_robin_partition, api.round_robin_insert, "ratings_rr"),
    "hash": (api.hash_partition, api.hash_insert, "ratings_hash"),
}


def _visible_files(warehouse):
    """Data files a Spark reader of the warehouse sees."""
    out = set()
    for dirpath, dirs, names in os.walk(warehouse):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out |= {os.path.join(dirpath, n) for n in names if not n.startswith(("_", "."))}
    return out


def _staged_files(warehouse):
    staging = os.path.join(warehouse, "_staging")
    return os.listdir(staging) if os.path.isdir(staging) else []


def _stored_rows(spark, warehouse, fragments):
    """(base rows, fragment rows) as a reader sees them now."""
    base = spark.read.schema(RATINGS_SCHEMA).parquet(_live(warehouse, "ratings/base"))
    frags = read_fragmented(spark, _live(warehouse, fragments))
    return base.collect(), frags.collect()


def test_inserts_take_the_writer_lock_before_reading(spark, loaded):
    """With the writer lock held by another owner, every routed insert
    fails fast and changes nothing: no visible file, nothing staged,
    the round-robin cursor where it was."""
    _, warehouse = loaded
    for partition, _, _ in _SCHEMES.values():
        partition(spark, "ratings", N, warehouse)
    before = _visible_files(warehouse)
    cursor = FragmentCatalog(warehouse).round_robin_meta()
    shim = fslib.fs_for(warehouse)
    lock = fslib.acquire_writer_lock(shim, warehouse, owner="other")
    try:
        for _, insert, _ in _SCHEMES.values():
            with pytest.raises(fslib.LockHeldError, match="other"):
                insert(spark, "ratings", 100, 7, 3.0, warehouse)
    finally:
        fslib.release_writer_lock(shim, lock)
    assert _visible_files(warehouse) == before
    assert _staged_files(warehouse) == []
    assert FragmentCatalog(warehouse).round_robin_meta() == cursor


def test_racing_round_robin_inserts_each_take_their_own_cursor(tmp_path):
    """Inserters racing on one warehouse (more threads than cores, a
    short switch interval) serialize on the writer lock: every insert
    lands once in base and once in the rotation, which hands each
    cursor value out once."""
    import sys
    import threading
    import time

    warehouse = str(tmp_path / "warehouse")
    FragmentCatalog(warehouse).update_round_robin(n=N, last_inserted=N - 1)
    n_threads, per_thread, failures = 8, 5, []

    def insert_all(t):
        try:
            for i in range(per_thread):
                while True:
                    try:
                        api.round_robin_insert(None, "ratings", t, i, 1.0, warehouse)
                        break
                    except fslib.LockHeldError:
                        time.sleep(0.001)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            failures.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=insert_all, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads) and not failures, failures
    total = n_threads * per_thread
    per_fragment = {
        k: len(os.listdir(f"{_live(warehouse, 'ratings_rr')}/{FRAGMENT_COL}={k}"))
        for k in range(N)
    }
    assert per_fragment == dict.fromkeys(range(N), total // N)
    assert len(os.listdir(_live(warehouse, "ratings/base"))) == total
    assert FragmentCatalog(warehouse).round_robin_meta().last_inserted == (total - 1) % N


def _routed_owner(scheme, warehouse, userid, rating):
    """Where the reference semantics put a row inserted now."""
    cat = FragmentCatalog(warehouse)
    if scheme == "range":
        return _expected_range_fragment(rating)
    if scheme == "round_robin":
        return (cat.round_robin_meta().last_inserted + 1) % N
    return hash_owner_fragment(userid, N)


@pytest.mark.parametrize("scheme", list(_SCHEMES))
def test_insert_torn_by_a_failed_rename_is_rolled_forward(
    spark, loaded, monkeypatch, scheme
):
    """A rename that fails after the base file is published leaves
    base ≠ ∪ fragments on disk; the next insert first rolls that
    insert's intent forward, so both rows end up in base and in their
    routed fragments, and the cursor moved once per insert."""
    _, warehouse = loaded
    partition, insert, fragments = _SCHEMES[scheme]
    partition(spark, "ratings", N, warehouse)
    owner = _routed_owner(scheme, warehouse, 100, 3.0)
    cursor = FragmentCatalog(warehouse).round_robin_meta().last_inserted

    rename, published = fslib.LocalFS.rename, []

    def fail_second(self, src, dst):
        if published:
            raise OSError("injected rename failure")
        rename(self, src, dst)
        published.append(dst)

    monkeypatch.setattr(fslib.LocalFS, "rename", fail_second)
    with pytest.raises(OSError, match="injected"):
        insert(spark, "ratings", 100, 7, 3.0, warehouse)
    monkeypatch.setattr(fslib.LocalFS, "rename", rename)
    base, frags = _stored_rows(spark, warehouse, fragments)
    assert (len(base), len(frags)) == (len(RATINGS_FIXTURE) + 1, len(RATINGS_FIXTURE))

    insert(spark, "ratings", 101, 8, 1.0, warehouse)
    base, frags = _stored_rows(spark, warehouse, fragments)
    assert len(base) == len(frags) == len(RATINGS_FIXTURE) + 2
    assert [r[FRAGMENT_COL] for r in frags if r.userid == 100] == [owner]
    assert _staged_files(warehouse) == []
    want_cursor = (cursor + 2) % N if scheme == "round_robin" else cursor
    assert FragmentCatalog(warehouse).round_robin_meta().last_inserted == want_cursor


@pytest.mark.parametrize("scheme", list(_SCHEMES))
def test_insert_failing_before_its_intent_leaves_nothing_visible(
    spark, loaded, monkeypatch, scheme
):
    """An insert that dies after staging its files but before the
    sidecar records its intent publishes nothing; the next writer
    deletes the staged orphans."""
    _, warehouse = loaded
    partition, insert, fragments = _SCHEMES[scheme]
    partition(spark, "ratings", N, warehouse)
    before = _visible_files(warehouse)
    cursor = FragmentCatalog(warehouse).round_robin_meta()

    def fail(*_):
        raise OSError("injected sidecar failure")

    with monkeypatch.context() as m:
        m.setattr(fslib, "write_json_atomic", fail)
        with pytest.raises(OSError, match="injected"):
            insert(spark, "ratings", 100, 7, 3.0, warehouse)
    assert _visible_files(warehouse) == before
    assert len(_staged_files(warehouse)) == 2
    assert FragmentCatalog(warehouse).round_robin_meta() == cursor

    insert(spark, "ratings", 101, 8, 1.0, warehouse)
    assert _staged_files(warehouse) == []
    base, frags = _stored_rows(spark, warehouse, fragments)
    assert len(base) == len(frags) == len(RATINGS_FIXTURE) + 1
    assert not [r for r in base + frags if r.userid == 100]


def _copies(spark, warehouse, fragments, userid):
    """How many rows of ``userid`` a reader sees now in the base and in
    the scheme's fragments."""
    base, frags = _stored_rows(spark, warehouse, fragments)
    return sum(r.userid == userid for r in base), sum(r.userid == userid for r in frags)


def _insert_refused(spark, warehouse) -> bool:
    """Run a range insert of userid 100; True if the writer lock refused it."""
    try:
        api.range_insert(spark, "ratings", 100, 7, 3.0, warehouse)
    except fslib.LockHeldError:
        return True
    return False


def test_insert_during_a_partitioning_is_refused_not_lost(spark, loaded, monkeypatch):
    """An insert that arrives while ``range_partition`` rewrites the
    range fragments (here: just before their write) used to land in
    base and in the fragments being replaced, so the rewrite dropped it
    from the scheme: (in base, in fragment) = (1, 0). The partitioning
    now holds the writer lock for its whole write, so the insert fails
    fast with ``LockHeldError`` and changes nothing."""
    from database_fragmentation_and_query_processor_spark.operators import fragmentation as frag

    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    write, refused = frag.write_fragmented, []

    def insert_then_write(*args, **kwargs):
        refused.append(_insert_refused(spark, warehouse))
        write(*args, **kwargs)

    monkeypatch.setattr(frag, "write_fragmented", insert_then_write)
    api.range_partition(spark, "ratings", N, warehouse)
    monkeypatch.undo()
    assert refused == [True]
    assert _copies(spark, warehouse, "ratings_range", 100) == (0, 0)


def test_insert_during_a_compaction_is_refused_not_lost(spark, loaded, monkeypatch):
    """The same race against ``compact_fragments``: an insert arriving
    after the compaction listed the fragments, before its commit, used
    to end (in base, in fragment) = (1, 0), with no intent left for a
    later ``recover()``. The compaction holds the writer lock for its
    whole rewrite, so the insert is refused instead."""
    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    stage, refused = fslib.stage_path, []

    def insert_then_stage(*args, **kwargs):
        refused.append(_insert_refused(spark, warehouse))
        return stage(*args, **kwargs)

    monkeypatch.setattr(fslib, "stage_path", insert_then_stage)
    api.compact_fragments(spark, warehouse, "ratings", "range")
    monkeypatch.undo()
    assert refused == [True]
    assert _copies(spark, warehouse, "ratings_range", 100) == (0, 0)
    FragmentCatalog(warehouse).recover()
    assert _copies(spark, warehouse, "ratings_range", 100) == (0, 0)


class _ObjectStoreFS(fslib.LocalFS):
    """A local store that reports no atomic rename, as every s3a:// store does."""

    def __init__(self):
        super().__init__()
        self.atomic_rename = False


def test_compaction_on_an_object_store_keeps_key_lookups_readable(
    spark, ratings_file, warehouse, monkeypatch
):
    """On a store without atomic rename the compaction once committed a
    generation directory next to the old ``fragment_id=i/`` ones, which
    readers did not resolve: the next ``hash_key_lookup`` failed with
    CONFLICTING_DIRECTORY_STRUCTURES. Every store now commits through
    the catalog, and the lookup returns the pre-compaction rows."""
    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    api.hash_partition(spark, "ratings", 4, warehouse)
    api.hash_insert(spark, "ratings", 1, 999, 2.5, warehouse)
    want = sorted(map(tuple, api.hash_key_lookup(spark, 1, warehouse).collect()))
    assert len(want) == len(RATINGS_FIXTURE) + 1
    monkeypatch.setattr(fslib, "fs_for", lambda path, spark=None: _ObjectStoreFS())
    api.compact_fragments(spark, warehouse, "ratings", "hash")
    assert sorted(map(tuple, api.hash_key_lookup(spark, 1, warehouse).collect())) == want


def test_a_query_planned_before_a_repartition_reads_the_old_layout_whole(spark, loaded):
    """A point query planned against 5 fragments per scheme and executed
    after both schemes were repartitioned 3 ways returns exactly the old
    layout's rows: its ``n`` and its generations came from one catalog
    read, and the replaced generation outlives the flip. A query planned
    after the flip reads the new layout."""
    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    api.round_robin_partition(spark, "ratings", N, warehouse)
    planned = api.point_query(spark, 3.0, warehouse)
    old = sorted(map(tuple, api.point_query(spark, 3.0, warehouse).collect()))
    assert {r[0] for r in old} == {"range_ratings_part2", "round_robin_ratings_part4"}
    api.range_partition(spark, "ratings", 3, warehouse)
    api.round_robin_partition(spark, "ratings", 3, warehouse)
    assert sorted(map(tuple, planned.collect())) == old
    new = api.point_query(spark, 3.0, warehouse).collect()
    assert {r[0] for r in new} == {"range_ratings_part1", "round_robin_ratings_part1"}
    assert len(new) == len(old)


def _partition_all(spark, warehouse):
    for partition, _, _ in _SCHEMES.values():
        partition(spark, "ratings", N, warehouse)


def _inserted(spark, warehouse, scheme):
    """How many rows of userid 100 the scheme's reader returns now: the
    point query's side for range and round-robin, the key lookup for
    hash."""
    if scheme == "hash":
        return len(api.hash_key_lookup(spark, 100, warehouse).collect())
    prefix = "range_" if scheme == "range" else "round_robin_"
    return sum(
        r.userid == 100 and r.fragment_name.startswith(prefix)
        for r in api.point_query(spark, 3.0, warehouse).collect()
    )


@pytest.mark.parametrize("scheme", list(_SCHEMES))
def test_a_routed_insert_is_seen_by_the_next_read(spark, loaded, scheme):
    """Readers keep one relation per live generation and commit. A
    routed insert adds a file to the live generation and commits, so the
    next read, after reads that prepared the relation, returns the row."""
    _, warehouse = loaded
    _partition_all(spark, warehouse)
    assert _inserted(spark, warehouse, scheme) == 0
    _SCHEMES[scheme][1](spark, "ratings", 100, 7, 3.0, warehouse)
    assert _inserted(spark, warehouse, scheme) == 1


def test_the_next_read_sees_a_new_layout_or_raises(spark, loaded):
    """After a repartition the next read scans the new fragments, after
    a compaction the new generation, and after ``delete_tables`` it
    raises: each is a commit, and a kept relation is reused only at the
    commit it was read at."""
    _, warehouse = loaded
    _partition_all(spark, warehouse)

    def names():
        return {r[0] for r in api.point_query(spark, 3.0, warehouse).collect()}

    assert names() == {"range_ratings_part2", "round_robin_ratings_part4"}
    api.range_partition(spark, "ratings", 3, warehouse)
    assert names() == {"range_ratings_part1", "round_robin_ratings_part4"}

    want = sorted(map(tuple, api.hash_key_lookup(spark, 1, warehouse).collect()))
    api.compact_fragments(spark, warehouse, "ratings", "hash")
    after = api.hash_key_lookup(spark, 1, warehouse)
    live = _live(warehouse, "ratings_hash")
    assert after.inputFiles() and all(live in f for f in after.inputFiles())
    assert sorted(map(tuple, after.collect())) == want

    api.delete_tables(spark, "ratings", warehouse)
    for read in (names, lambda: api.hash_key_lookup(spark, 1, warehouse)):
        with pytest.raises(FileNotFoundError, match="no committed data"):
            read()


def test_a_read_during_an_insert_intent_is_not_kept(spark, loaded, monkeypatch):
    """A read taken after an insert wrote its intent and before its
    renames lists the fragment without the row. That relation is not
    kept: when the insert then dies before clearing its intent (so the
    commit stamp stays where the intent put it), the next read still
    sees the renamed row, as a reader that keeps nothing does."""
    _, warehouse = loaded
    _partition_all(spark, warehouse)
    assert _inserted(spark, warehouse, "range") == 0
    during, rename = [], fslib.LocalFS.rename

    def read_then_rename(self, src, dst):
        if not during:
            during.append(_inserted(spark, warehouse, "range"))
        rename(self, src, dst)

    writes, write_json_atomic = [], fslib.write_json_atomic

    def fail_the_clear(fs, path, doc):
        writes.append(path)
        if len(writes) == 2:
            raise OSError("injected clear failure")
        write_json_atomic(fs, path, doc)

    monkeypatch.setattr(fslib.LocalFS, "rename", read_then_rename)
    monkeypatch.setattr(fslib, "write_json_atomic", fail_the_clear)
    with pytest.raises(OSError, match="injected"):
        api.range_insert(spark, "ratings", 100, 7, 3.0, warehouse)
    monkeypatch.undo()
    assert INTENT_KEY in FragmentCatalog(warehouse).read()
    assert during == [0]
    assert _inserted(spark, warehouse, "range") == 1


def test_a_new_session_reads_through_its_own_session(spark, loaded):
    """Kept relations belong to the session that read them: a read in
    ``spark.newSession()`` returns a DataFrame of that session, JVM side
    included, with the rows the first session reads."""
    _, warehouse = loaded
    _partition_all(spark, warehouse)
    want = sorted(map(tuple, api.point_query(spark, 3.0, warehouse).collect()))
    other = spark.newSession()
    for session in (other, spark):
        for df in (api.point_query(session, 3.0, warehouse),
                   api.hash_key_lookup(session, 1, warehouse)):
            assert df.sparkSession is session
            assert df._jdf.sparkSession().equals(session._jsparkSession)
    assert sorted(map(tuple, api.point_query(other, 3.0, warehouse).collect())) == want


def test_the_commit_stamp_rises_by_one_with_every_sidecar_write(
    spark, loaded, monkeypatch
):
    """Readers key their relations on the sidecar's commit stamp, so
    every sidecar write (publish, insert intent and clear, recovery,
    clear, drop) raises it by one, and none lowers it, clearing the
    whole sidecar included."""
    _, warehouse = loaded
    stamps, write_json_atomic = [], fslib.write_json_atomic

    def recording(fs, path, doc):
        write_json_atomic(fs, path, doc)
        stamps.append(doc[COMMIT_KEY])

    monkeypatch.setattr(fslib, "write_json_atomic", recording)
    cat = FragmentCatalog(warehouse)
    api.range_partition(spark, "ratings", N, warehouse)
    api.range_insert(spark, "ratings", 100, 7, 3.0, warehouse)

    def fail(*_):
        raise OSError("injected rename failure")

    with monkeypatch.context() as m:
        m.setattr(fslib.LocalFS, "rename", fail)
        with pytest.raises(OSError, match="injected"):
            api.range_insert(spark, "ratings", 101, 7, 3.0, warehouse)
    cat.recover()
    cat.clear("range")
    cat.clear()
    api.load_ratings(spark, "ratings", os.path.join(os.path.dirname(warehouse), "ratings.txt"), warehouse)
    api.delete_tables(spark, "ratings", warehouse)
    # load 1, partition 2, insert 3-4, torn intent 5, recovery 6,
    # clears 7-8, load 9, drop 10
    assert stamps == list(range(2, 11))
    assert cat.read() == {COMMIT_KEY: 10, "generations": {}}


def test_hash_key_lookup_on_a_non_integer_key_raises(spark, loaded):
    """A scheme keyed on rating hashes each row's rating text, but the
    driver hashes the text of an integer, so a lookup of 2.5 read the
    fragment owning "2" and silently returned no rows. It now raises,
    like ``hash_insert``, before reading anything."""
    _, warehouse = loaded
    api.hash_partition(spark, "ratings", N, warehouse, key="rating")
    for call in (
        lambda: api.hash_key_lookup(spark, 2.5, warehouse),
        lambda: api.hash_insert(spark, "ratings", 100, 7, 2.5, warehouse),
    ):
        with pytest.raises(ValueError, match="keyed on 'rating'"):
            call()


def test_query_literals_keep_their_type_and_special_values(spark, tmp_path):
    """Query predicates reach the JVM as SQL text. A float is a double
    literal (1/3 and 1e-300 match exactly, -0.0 equals 0.0), an int
    stays an int, and NaN and ±inf select what a Column literal does:
    the rows holding them on a round-robin-only warehouse, while on a
    range-partitioned one NaN and +inf have no owning fragment and raise
    as they always have."""
    types = spark.range(1).selectExpr(
        *(f"{sql_literal(v)} AS c{i}" for i, v in enumerate((3, 3_000_000_000, 2.5, math.nan)))
    ).schema
    assert [f.dataType.simpleString() for f in types] == ["int", "bigint", "double", "double"]

    def warehouse(name, ratings, partitions):
        rows = [(1, i, r) for i, r in enumerate(ratings)]
        wh = str(tmp_path / name)
        api.write_base(spark, "ratings", spark.createDataFrame(rows, RATINGS_SCHEMA), wh)
        for partition in partitions:
            partition(spark, "ratings", N, wh)
        return wh

    def movies(call, *args):
        return sorted(r.movieid for r in call(spark, *args).collect())

    finite = warehouse("finite", [0.0, -0.0, 2.5, 5.0, 1 / 3, 1e-300],
                       (api.range_partition, api.round_robin_partition))
    assert movies(api.point_query, 0.0, finite) == movies(api.point_query, -0.0, finite) == [0, 0, 1, 1]
    assert movies(api.point_query, 1 / 3, finite) == [4, 4]
    assert movies(api.point_query, 1e-300, finite) == [5, 5]
    assert movies(api.point_query, 5, finite) == [3, 3]
    assert movies(api.point_query, -math.inf, finite) == []
    assert movies(api.range_query, -math.inf, 0.0, finite) == [0, 0, 1, 1]
    with pytest.raises(ValueError):
        api.point_query(spark, math.nan, finite)
    with pytest.raises(OverflowError):
        api.point_query(spark, math.inf, finite)

    special = warehouse("special", [0.0, 2.5, math.nan, math.inf, -math.inf],
                        (api.round_robin_partition,))
    assert [movies(api.point_query, v, special) for v in (math.nan, math.inf, -math.inf)] == [[2], [3], [4]]
    assert movies(api.range_query, -math.inf, 0.0, special) == [0, 4]
    assert movies(api.range_query, math.nan, 5.0, special) == []


def test_a_writer_that_lost_its_lock_does_not_commit(spark, loaded, monkeypatch):
    """A partitioning whose lock was broken and re-taken mid-write (its
    write outlived the lock's ttl) aborts at the fence before its
    sidecar write: ``LockHeldError``, the sidecar's bytes unchanged, its
    unpublished generation deleted, and readers still see the old
    layout."""
    import json
    import time

    from database_fragmentation_and_query_processor_spark.operators import fragmentation as frag

    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    sidecar = os.path.join(warehouse, "_frag_metadata.json")
    lock = os.path.join(warehouse, fslib.LOCK_FILENAME)
    with open(sidecar, "rb") as f:
        before = f.read()
    generations = sorted(os.listdir(f"{warehouse}/ratings_range"))
    want = sorted(map(tuple, api.point_query(spark, 3.0, warehouse).collect()))
    write = frag.write_fragmented

    def write_then_lose_the_lock(*args, **kwargs):
        write(*args, **kwargs)
        with open(lock, "w") as f:
            json.dump({"owner": "successor", "acquired_ns": time.time_ns(), "ttl_sec": 300}, f)

    monkeypatch.setattr(frag, "write_fragmented", write_then_lose_the_lock)
    with pytest.raises(fslib.LockHeldError, match="successor"):
        api.range_partition(spark, "ratings", 3, warehouse)
    monkeypatch.undo()
    with open(sidecar, "rb") as f:
        assert f.read() == before
    assert sorted(os.listdir(f"{warehouse}/ratings_range")) == generations
    with open(lock) as f:
        assert json.load(f)["owner"] == "successor"  # the successor's lock stays
    os.remove(lock)
    assert sorted(map(tuple, api.point_query(spark, 3.0, warehouse).collect())) == want


def test_api_over_a_hadoop_warehouse_matches_a_bare_path_run(spark, ratings_file, tmp_path):
    """A ``file://`` warehouse goes through HadoopFS (the code path of
    ``hdfs://`` and ``s3a://``) for the catalog, the publishes and the
    routed insert, and ends with the rows of a bare-path run."""

    def run(warehouse):
        api.load_ratings(spark, "ratings", ratings_file, warehouse)
        api.range_partition(spark, "ratings", N, warehouse)
        api.round_robin_partition(spark, "ratings", N, warehouse)
        api.range_insert(spark, "ratings", 100, 7, 3.0, warehouse)
        return sorted(map(tuple, api.point_query(spark, 3.0, warehouse).collect()))

    uri = "file://" + str(tmp_path / "hadoop")
    assert isinstance(FragmentCatalog(uri, spark)._fs, fslib.HadoopFS)
    bare = run(str(tmp_path / "bare"))
    assert ("range_ratings_part2", 100, 7, 3.0) in bare
    assert run(uri) == bare


def test_each_api_call_makes_its_known_number_of_sidecar_writes(
    spark, ratings_file, warehouse, monkeypatch
):
    """Each sidecar write is a commit on the write path, so the count per
    call is pinned: the load and each partitioning publish once, a
    routed insert writes its intent and then clears it, and the reads
    write nothing. A new write shows up here instead of only as time."""
    writes = []
    write_json_atomic = fslib.write_json_atomic

    def counting(fs, path, doc):
        writes.append(path)
        write_json_atomic(fs, path, doc)

    monkeypatch.setattr(fslib, "write_json_atomic", counting)

    def count(call, *args):
        del writes[:]
        out = call(spark, *args)
        if out is not None:
            out.collect()
        return len(writes)

    assert count(api.load_ratings, "ratings", ratings_file, warehouse) == 1
    for scheme, (partition, insert, _) in _SCHEMES.items():
        assert count(partition, "ratings", N, warehouse) == 1, scheme
        assert count(insert, "ratings", 100, 7, 3.0, warehouse) == 2, scheme
    assert count(api.point_query, 3.0, warehouse) == 0
    assert count(api.range_query, 1.5, 3.5, warehouse) == 0
    assert count(api.hash_key_lookup, 100, warehouse) == 0


def test_delete_tables_unpublishes_and_removes_one_table(spark, loaded):
    """Dropping one table takes its generations out of the sidecar in
    one locked write, then deletes its directories; other tables stay."""
    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    api.load_ratings(spark, "other", os.path.join(os.path.dirname(warehouse), "ratings.txt"), warehouse)
    api.delete_tables(spark, "ratings", warehouse)
    cat = FragmentCatalog(warehouse)
    assert cat.live("ratings/base") is None and cat.live("ratings_range") is None
    assert not os.path.exists(f"{warehouse}/ratings")
    assert not os.path.exists(f"{warehouse}/ratings_range")
    assert spark.read.parquet(cat.live("other/base")).count() == len(RATINGS_FIXTURE)


@pytest.mark.parametrize("key", ["userid", "movieid"])
def test_hash_insert_route_matches_column_expression(spark, loaded, key):
    """The driver routes a hash insert where ``hash_fragment_expr``
    (the bulk partitioning's rule) puts the same row."""
    _, warehouse = loaded
    api.hash_partition(spark, "ratings", N, warehouse, key=key)
    rows = [(900 + i, 7_000 + 13 * i, 2.5) for i in range(8)]
    for row in rows:
        api.hash_insert(spark, "ratings", *row, warehouse)
    want = {
        (r.userid, r.movieid): r.f
        for r in spark.createDataFrame(rows, RATINGS_SCHEMA)
        .select("userid", "movieid", hash_fragment_expr(F.col(key), N).alias("f"))
        .collect()
    }
    got = {
        (r.userid, r.movieid): r[FRAGMENT_COL]
        for r in read_fragmented(spark, _live(warehouse, "ratings_hash"))
        .where(F.col("userid") >= 900)
        .collect()
    }
    assert got == want


def test_bucket_expr_hits_every_boundary(spark):
    """Exhaustive check of the closed/open rule on all 11 half-step
    values (incl. rating==0 → fragment 0 and rating==5 → last-bucket
    absorb), for several n."""
    vals = [i / 2 for i in range(11)]
    df = spark.createDataFrame([(v,) for v in vals], "rating double")
    for n in (2, 3, 5, 7):
        got = {
            r["rating"]: r["frag"]
            for r in df.select(
                "rating", range_fragment_expr(F.col("rating"), n).alias("frag")
            ).collect()
        }
        exp = {v: _expected_range_fragment(v, n) for v in vals}
        assert got == exp, f"n={n}"


def test_hash_partition_complete_disjoint_and_routed(spark, ratings_file, warehouse):
    """[EXT] hash scheme: fragments are complete + disjoint, routing is
    the portable md5 arithmetic, and inserts land in the owning
    fragment."""
    from pyspark.sql import functions as F

    from database_fragmentation_and_query_processor_spark import api
    from database_fragmentation_and_query_processor_spark.schema import FRAGMENT_COL

    base = api.load_ratings(spark, "ratings", ratings_file, warehouse)
    total = base.count()
    api.hash_partition(spark, "ratings", 4, warehouse)
    fragged = spark.read.parquet(_live(warehouse, "ratings_hash"))
    assert fragged.count() == total
    # disjoint: every (userid, movieid) appears exactly once
    assert fragged.select("userid", "movieid").distinct().count() == total
    # all rows of one user share a fragment (routing is key-functional)
    per_user = fragged.groupBy("userid").agg(
        F.countDistinct(FRAGMENT_COL).alias("nf")
    )
    assert per_user.where(F.col("nf") > 1).count() == 0

    api.hash_insert(spark, "ratings", 999, 123, 2.5, warehouse)
    hit = api.hash_key_lookup(spark, 999, warehouse)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["movieid"] == 123


def test_hash_key_lookup_prunes_partitions(spark, ratings_file, warehouse):
    from database_fragmentation_and_query_processor_spark import api
    from database_fragmentation_and_query_processor_spark.plans import partition_filters

    api.load_ratings(spark, "ratings", ratings_file, warehouse)
    api.hash_partition(spark, "ratings", 4, warehouse)
    df = api.hash_key_lookup(spark, 1, warehouse)
    pf = " ".join(partition_filters(df))
    assert "fragment_id" in pf, pf


def test_hash_owner_fragment_matches_column_expression(spark):
    """The driver-side owner (hash_key_lookup's routing) and the column
    expression (hash_partition / hash_insert) are one rule: equal on
    every key of the fixture, on 0, on negative keys and at the int
    bounds, for several fragment counts."""
    keys = sorted(
        {u for u, _, _ in RATINGS_FIXTURE}
        | {m for _, m, _ in RATINGS_FIXTURE}
        | {0, -1, -7, -999, 2**31 - 1, -(2**31)}
    )
    ns = (1, 4, 5, 7)
    df = spark.createDataFrame([(k,) for k in keys], "k int")
    rows = df.select(
        "k", *[hash_fragment_expr(F.col("k"), n).alias(f"n{n}") for n in ns]
    ).collect()
    got = {r["k"]: tuple(r[f"n{n}"] for n in ns) for r in rows}
    assert got == {k: tuple(hash_owner_fragment(k, n) for n in ns) for k in keys}


_DECLARED = {
    "ratings/base": RATINGS_SCHEMA,
    "ratings_range": FRAGMENTED_SCHEMA,
    "ratings_rr": FRAGMENTED_SCHEMA,
    "ratings_hash": FRAGMENTED_SCHEMA,
}


def _assert_declared_schemas(spark, warehouse, subdirs=tuple(_DECLARED)):
    """Inferred from every file (mergeSchema), each dataset must carry
    the declared names and types that the package's reads assume."""

    def names_types(path):
        sch = spark.read.option("mergeSchema", "true").parquet(path).schema
        return [(f.name, f.dataType) for f in sch.fields]

    for sub in subdirs:
        want = [(f.name, f.dataType) for f in _DECLARED[sub].fields]
        assert names_types(_live(warehouse, sub)) == want, sub


def test_written_schema_matches_declared_schema(spark, loaded):
    """Warehouse reads use the declared schema instead of inferring it,
    so every writer must produce exactly that schema: the load, each
    scheme's bulk fragmentation and each routed insert."""
    _, warehouse = loaded
    api.range_partition(spark, "ratings", N, warehouse)
    api.round_robin_partition(spark, "ratings", N, warehouse)
    api.hash_partition(spark, "ratings", N, warehouse)
    for insert in (api.range_insert, api.round_robin_insert, api.hash_insert):
        insert(spark, "ratings", 100, 7, 3.0, warehouse)
    _assert_declared_schemas(spark, warehouse)


def test_insert_routing_warehouse_matches_declared_schema(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The registry's insert-routing warehouse writes its base from the
    lineitem-derived ratings relation (queries.common._ratings), not
    from load_ratings; it must carry the same declared schema."""
    import tempfile

    from database_fragmentation_and_query_processor_spark.artifacts import artifact_path
    from database_fragmentation_and_query_processor_spark.queries.registry import (
        _QUERIES_ALL,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    warehouse = artifact_path(sf_dir, "insert_routing", "lineitem")
    assert _QUERIES_ALL["frag_insert_routing"](spark, sf_dir).count() > 0
    _assert_declared_schemas(spark, warehouse)


def test_frag_warehouse_matches_declared_schema(spark, sf_dir, tmp_path, monkeypatch):
    """The registry's fragmentation queries read a warehouse fragmented
    from the lineitem-derived relation (queries.common._frag_warehouse);
    both schemes must carry the declared schema."""
    import tempfile

    from database_fragmentation_and_query_processor_spark.queries import common

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    warehouse = common._frag_warehouse(spark, sf_dir)
    _assert_declared_schemas(spark, warehouse, ("ratings_range", "ratings_rr"))


def _round_robin_partition_on_path(spark, warehouse, bucketed, caplog):
    """``api.round_robin_partition`` with the scan split left as it is
    (the base scans as one task: one window) or lowered to a third of
    the base's file bytes (three scan tasks: bucketed numbering);
    returns the per-fragment row multisets and the cursor."""
    from database_fragmentation_and_query_processor_spark.operators import scaling

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if bucketed:
        base_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(_live(warehouse, "ratings/base"))
            for f in files if f.endswith(".parquet")
        )
        spark.conf.set(key, str(max(-(-base_bytes // 3), 1)))
    caplog.clear()
    try:
        with caplog.at_level("INFO", logger=scaling.__name__):
            api.round_robin_partition(spark, "ratings", N, warehouse)
    finally:
        spark.conf.set(key, old)
    [msg] = [r.getMessage() for r in caplog.records if "row numbering" in r.getMessage()]
    assert ("buckets" in msg) == bucketed, msg
    return _round_robin_fragments(spark, warehouse)


def _round_robin_fragments(spark, warehouse):
    """The per-fragment row multisets (nulls first) and the cursor."""
    frags = {}
    for r in read_fragmented(spark, _live(warehouse, "ratings_rr")).collect():
        frags.setdefault(r[FRAGMENT_COL], []).append((r.userid, r.movieid, r.rating))
    cursor = FragmentCatalog(warehouse).round_robin_meta().last_inserted
    nulls_first = lambda row: tuple((v is not None, v) for v in row)  # noqa: E731
    return {f: sorted(rows, key=nulls_first) for f, rows in frags.items()}, cursor


def _load_unsorted_ratings(spark, tmp_path):
    """A base whose file order is not its key order, with one row whose
    malformed userid reads as null; returns the warehouse and the
    fragments numbering by ``(userid, movieid)``, nulls first, must give."""
    rows = [(u, m, (u * m) % 11 / 2) for u in range(1, 21) for m in range(u, u + 9)]
    text = tmp_path / "ratings.txt"
    text.write_text("x::3::1.5::0\n" + "".join(
        f"{u}::{m}::{r}::0\n" for u, m, r in sorted(rows, key=lambda t: (-t[1], t[0]))
    ))
    warehouse = str(tmp_path / "warehouse")
    api.load_ratings(spark, "ratings", str(text), warehouse)
    want = {}
    for k, row in enumerate([(None, 3, 1.5)] + sorted(rows)):
        want.setdefault(k % N, []).append(row)
    return warehouse, want, len(rows)


def test_round_robin_one_task_and_bucketed_numbering_agree(spark, tmp_path, caplog):
    """A base that scans as one task is numbered inside it; a lower split
    sends the same base through the bucketed numbering. Both put row k
    of the (userid, movieid) order, a null userid first, in fragment
    k mod N and leave the same cursor."""
    warehouse, want, n_rows = _load_unsorted_ratings(spark, tmp_path)
    one_task = _round_robin_partition_on_path(spark, warehouse, False, caplog)
    bucketed = _round_robin_partition_on_path(spark, warehouse, True, caplog)
    assert one_task == bucketed == (want, n_rows % N)


def test_round_robin_partition_of_a_multi_file_base_is_bucketed(spark, tmp_path, caplog):
    """Each file of a base is its own scan split, so a base of three
    small files scans as three tasks and is numbered in buckets, into
    the fragments the one-file base gets."""
    import shutil

    from database_fragmentation_and_query_processor_spark.operators import scaling

    warehouse, want, n_rows = _load_unsorted_ratings(spark, tmp_path)
    base = _live(warehouse, "ratings/base")
    spark.read.schema(RATINGS_SCHEMA).parquet(base).repartition(3).write.parquet(f"{base}.3")
    shutil.rmtree(base)
    os.rename(f"{base}.3", base)
    assert len([f for f in os.listdir(base) if f.endswith(".parquet")]) == 3

    caplog.clear()
    with caplog.at_level("INFO", logger=scaling.__name__):
        api.round_robin_partition(spark, "ratings", N, warehouse)
    [msg] = [r.getMessage() for r in caplog.records if "row numbering" in r.getMessage()]
    assert "3 scan tasks" in msg, msg
    assert _round_robin_fragments(spark, warehouse) == (want, n_rows % N)


@pytest.mark.parametrize("bucketed", [False, True], ids=["one_task", "bucketed"])
def test_round_robin_partition_of_an_empty_base(spark, tmp_path, caplog, bucketed):
    """An empty base writes no rows and leaves cursor -1; the observed
    row total arrives although no task saw a row."""
    import threading

    text = tmp_path / "ratings.txt"
    text.write_text("")
    warehouse = str(tmp_path / "warehouse")
    api.load_ratings(spark, "ratings", str(text), warehouse)
    got = []
    run = threading.Thread(target=lambda: got.append(
        _round_robin_partition_on_path(spark, warehouse, bucketed, caplog)), daemon=True)
    run.start()
    run.join(timeout=300)
    assert not run.is_alive(), "round_robin_partition did not return"
    assert got == [({}, -1)]
