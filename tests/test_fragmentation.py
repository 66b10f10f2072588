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
from database_fragmentation_and_query_processor_spark.catalog import FragmentCatalog
from database_fragmentation_and_query_processor_spark.operators.fragmentation import (
    hash_fragment_expr,
    range_fragment_expr,
    read_fragmented,
)
from database_fragmentation_and_query_processor_spark.operators.query import (
    hash_owner_fragment,
)
from database_fragmentation_and_query_processor_spark.schema import (
    FRAGMENT_COL,
    FRAGMENTED_SCHEMA,
    RATINGS_SCHEMA,
)

from .conftest import RATINGS_FIXTURE

N = 5  # fragment count used throughout the reference tests (tester1.py)


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
    frags = spark.read.parquet(f"{warehouse}/ratings_range")
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
    frags = spark.read.parquet(f"{warehouse}/ratings_range")
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
    frags = spark.read.parquet(f"{warehouse}/ratings_rr")
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
    frags = spark.read.parquet(f"{warehouse}/ratings_range")
    hit = frags.where(
        (F.col("userid") == 100) & (F.col("movieid") == 2) & (F.col("rating") == 3.0)
    ).collect()
    assert len(hit) == 1 and hit[0][FRAGMENT_COL] == 2
    base = spark.read.parquet(f"{warehouse}/ratings/base")
    assert base.count() == len(RATINGS_FIXTURE) + 1


def test_round_robin_insert_routing_and_cursor(spark, loaded):
    """tester1.py:51 — first RR insert after a 20-row/5-part partition
    goes to fragment 0; cursor advances."""
    df, warehouse = loaded
    api.round_robin_partition(spark, "ratings", N, warehouse)
    api.round_robin_insert(spark, "ratings", 100, 1, 3.0, warehouse)
    frags = spark.read.parquet(f"{warehouse}/ratings_rr")
    hit = frags.where((F.col("userid") == 100) & (F.col("movieid") == 1)).collect()
    assert len(hit) == 1 and hit[0][FRAGMENT_COL] == 0
    api.round_robin_insert(spark, "ratings", 101, 1, 3.0, warehouse)
    hit2 = (
        spark.read.parquet(f"{warehouse}/ratings_rr")
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
    base = spark.read.schema(RATINGS_SCHEMA).parquet(f"{warehouse}/ratings/base")
    frags = read_fragmented(spark, f"{warehouse}/{fragments}")
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
        k: len(os.listdir(f"{warehouse}/ratings_rr/{FRAGMENT_COL}={k}")) for k in range(N)
    }
    assert per_fragment == dict.fromkeys(range(N), total // N)
    assert len(os.listdir(f"{warehouse}/ratings/base")) == total
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
        for r in read_fragmented(spark, f"{warehouse}/ratings_hash")
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
    fragged = spark.read.parquet(f"{warehouse}/ratings_hash")
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
        assert names_types(f"{warehouse}/{sub}") == want, sub


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
