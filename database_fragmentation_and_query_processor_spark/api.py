"""Reference-shaped facade.

One function per reference entry point (Interface1.py), with
``SparkSession + warehouse dir`` replacing ``openconnection``:

==============================  =======================================
Reference (Interface1.py)       Here
==============================  =======================================
getOpenConnection / createDB    SparkSession (caller-provided)
loadRatings          :23-34     load_ratings
rangePartition       :101-148   range_partition
roundRobinPartition  :150-181   round_robin_partition
rangeInsert          :215-259   range_insert
roundRobinInsert     :183-213   round_robin_insert
rangeQuery           :261-308   range_query
pointQuery           :310-347   point_query
deleteTables         :372-393   delete_tables
delete_all_partitions :36-47    (implicit: overwrite of partition dirs)
update_*_metadata    :49-98     catalog.FragmentCatalog
==============================  =======================================

Warehouse layout (one directory per logical table)::

    {warehouse}/{table}/base/                      # unfragmented parquet
    {warehouse}/{table}_range/fragment_id=i/       # range scheme
    {warehouse}/{table}_rr/fragment_id=i/          # round-robin scheme
    {warehouse}/{table}_hash/fragment_id=i/        # hash scheme [EXT]
    {warehouse}/_frag_metadata.json                # catalogs + RR cursor
    {warehouse}/_staging/                          # inserts' staged files
    {warehouse}/_WRITER_LOCK                       # held while mutating

A routed insert (``range_insert``, ``round_robin_insert``,
``hash_insert``) runs no Spark job, like the reference's one-row
PostgreSQL transaction (Interface1.py:183-259). Under the catalog's
writer lock it reads the scheme's metadata (cursor included), routes
the row on the driver, writes one one-row parquet file for the base
and one for the owning fragment with pyarrow into ``_staging/``, and
commits them with an intent record in the catalog sidecar
(``catalog.FragmentCatalog.commit_insert``). Every mutation here (the
load, the partitionings, the inserts, ``delete_tables`` of one table)
first finishes an interrupted insert under the lock: it renames the
staged files of a left-over intent into place and deletes staged files
no intent names. So a crashed insert leaves either nothing visible or
a torn insert (in base but not yet in its fragment) that the next
mutation completes. Readers take no lock: between an insert's two
renames, and from a crash until the next mutation, a reader can see
the row in base but not in its fragment. Inserts, like the catalog,
reach local and ``file://`` warehouses.

Every read of a base or fragment dataset uses the declared schema
(``RATINGS_SCHEMA``, or ``FRAGMENTED_SCHEMA`` via
``fragmentation.read_fragmented``), never an inferred one. The
relation's schema is fixed (Interface1.py:17), and inferring it costs a
footer-reading Spark job per read before the DataFrame even exists; with
the declared schema, building a point, range or key-lookup plan starts
no job. A dataset written with other column types is not read under its
own schema: most mismatches fail at the scan (``read_fragmented`` lists
the exceptions). An existing but empty fragment directory reads as no
rows.

Invalid ``n`` (non-positive / non-int) is a no-op with a message, like
the reference (Interface1.py:103-105).
"""

from __future__ import annotations

import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs as fslib
from .catalog import FragmentCatalog, section
from .operators import fragmentation as frag
from .operators import query as q
from .schema import FRAGMENT_COL, RATINGS_SCHEMA
from .sources.ratings import read_ratings_text

RATING_DOMAIN = (0.0, 5.0)  # fixed regardless of data (Interface1.py:122-123)


def _base_path(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, table, "base")

def _range_path(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, f"{table}_range")

def _rr_path(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, f"{table}_rr")

def _hash_path(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, f"{table}_hash")


def _read_base(spark: SparkSession, warehouse: str, table: str) -> DataFrame:
    return spark.read.schema(RATINGS_SCHEMA).parquet(_base_path(warehouse, table))


def _valid_n(n) -> bool:
    return isinstance(n, int) and not isinstance(n, bool) and n > 0


def load_ratings(
    spark: SparkSession, table: str, filepath: str, warehouse: str
) -> DataFrame:
    """Distributed load of ``::`` text → parquet base table (op #1)."""
    FragmentCatalog(warehouse, spark).recover()
    df = read_ratings_text(spark, filepath)
    df.write.mode("overwrite").parquet(_base_path(warehouse, table))
    return _read_base(spark, warehouse, table)


def range_partition(spark: SparkSession, table: str, n, warehouse: str) -> None:
    """Fragment the base table by fixed-domain rating buckets (op #3)."""
    if not _valid_n(n):
        print("Invalid number of partitions:", n)
        return
    lo, hi = RATING_DOMAIN
    cat = FragmentCatalog(warehouse)
    cat.recover()
    df = _read_base(spark, warehouse, table)
    frag.write_fragmented(
        frag.assign_range_fragments(df, "rating", n, lo, hi),
        _range_path(warehouse, table),
    )
    cat.update_range(
        n=n, min_value=lo, max_value=hi, interval=(hi - lo) / n
    )


def round_robin_partition(spark: SparkSession, table: str, n, warehouse: str) -> None:
    """Fragment the base table row k → fragment k mod n (op #4)."""
    if not _valid_n(n):
        print("Invalid number of partitions:", n)
        return
    cat = FragmentCatalog(warehouse)
    cat.recover()
    df = _read_base(spark, warehouse, table)
    # (userid, movieid) is the ratings natural key: a MovieLens user rates
    # a movie once (the registry's lineitem-derived relation repeats pairs,
    # so queries.common._frag_warehouse numbers lineitem rows).
    # operators/scaling.stable_row_number numbers a base that scans as one
    # task by one row_number() window inside that task, so the write is
    # the only Spark job; a base of more scan splits by its buckets. The
    # row total is counted on the write itself (an Observation), not by a
    # second scan.
    assigned, rows = frag.assign_round_robin_fragments(
        df, n, order_cols=["userid", "movieid"]
    )
    frag.write_fragmented(assigned, _rr_path(warehouse, table))
    cat.update_round_robin(n=n, last_inserted=frag.round_robin_cursor(rows, n))


def _parquet_row(userid: int, itemid: int, rating: float) -> bytes:
    """One row of the relation as the bytes of a parquet file, typed by
    ``RATINGS_SCHEMA``. No Arrow schema is stored in the footer: the
    parquet schema alone is what every reader of the warehouse uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    row = dict(zip(RATINGS_SCHEMA.names, (int(userid), int(itemid), float(rating))))
    sink = pa.BufferOutputStream()
    pq.write_table(
        pa.Table.from_pylist([row], schema=to_arrow_schema(RATINGS_SCHEMA)),
        sink, store_schema=False,
    )
    return sink.getvalue().to_pybytes()


def _route(scheme: str, meta, userid: int, itemid: int, rating: float) -> int:
    """The fragment owning the row under ``scheme``'s metadata ``meta``,
    by the rule its bulk partitioning applied."""
    if scheme == "range":
        return q.range_owner_fragment(rating, meta.n, meta.min_value, meta.max_value)
    if scheme == "round_robin":
        return (meta.last_inserted + 1) % meta.n
    keys = {"userid": userid, "movieid": itemid}
    if meta.key not in keys:
        raise ValueError(
            f"hash_insert routes on an integer key (userid or movieid); "
            f"the hash scheme is keyed on {meta.key!r}"
        )
    return q.hash_owner_fragment(keys[meta.key], meta.n)


def _routed_insert(
    scheme: str, fragments: str, table: str, userid: int, itemid: int,
    rating: float, warehouse: str,
) -> None:
    """Append one row to the base and to its owning fragment of
    ``scheme`` (stored under ``fragments``) as one commit, with no Spark
    job; the protocol, recovery and reader window are in the module
    docstring. With no ``scheme`` partitions the row goes to base only,
    and a message says so, as in the reference."""
    data = _parquet_row(userid, itemid, rating)
    cat = FragmentCatalog(warehouse)
    with cat.mutation() as doc:
        meta = section(doc, scheme)
        owner = _route(scheme, meta, userid, itemid, rating) if meta.n > 0 else None
        staged = [cat.stage(data, _base_path(warehouse, table))]
        if owner is not None:
            staged.append(cat.stage(data, fslib.join(fragments, f"{FRAGMENT_COL}={owner}")))
            if scheme == "round_robin":
                meta.last_inserted = owner
                doc[scheme] = asdict(meta)
        cat.commit_insert(doc, staged)
    if owner is None:
        print(f"There are no {scheme.replace('_', ' ')} partitions to insert")


def range_insert(
    spark: SparkSession, table: str, userid: int, itemid: int, rating: float,
    warehouse: str,
) -> None:
    """Append to base AND to the owning range fragment (op #5,
    Interface1.py:215-259), routed on the driver by the catalog's
    domain bounds read under the writer lock. Starts no Spark job
    (``spark`` is unused); one all-or-nothing commit, completed by the
    next mutation after a crash (module docstring)."""
    _routed_insert("range", _range_path(warehouse, table), table,
                   userid, itemid, rating, warehouse)


def round_robin_insert(
    spark: SparkSession, table: str, userid: int, itemid: int, rating: float,
    warehouse: str,
) -> None:
    """Append to base AND to fragment ``(cursor + 1) % n`` (op #6,
    Interface1.py:183-213). The cursor is read and advanced under the
    writer lock, in the same sidecar write that records the insert's
    intent, so two inserters never pick the same owner and a torn
    insert has already advanced it once. Starts no Spark job (``spark``
    is unused); commit and recovery as in the module docstring."""
    _routed_insert("round_robin", _rr_path(warehouse, table), table,
                   userid, itemid, rating, warehouse)


def range_query(
    spark: SparkSession, min_rating: float, max_rating: float, warehouse: str,
    output_path: str | None = None, table: str = "ratings",
) -> DataFrame:
    df = q.range_query(
        spark, min_rating, max_rating, warehouse,
        _range_path(warehouse, table), _rr_path(warehouse, table),
    )
    if output_path:
        q.write_result_file(df, output_path)
    return df


def point_query(
    spark: SparkSession, rating_value: float, warehouse: str,
    output_path: str | None = None, table: str = "ratings",
) -> DataFrame:
    df = q.point_query(
        spark, rating_value, warehouse,
        _range_path(warehouse, table), _rr_path(warehouse, table),
    )
    if output_path:
        q.write_result_file(df, output_path)
    return df


def hash_partition(
    spark: SparkSession, table: str, n, warehouse: str, key: str = "userid"
) -> None:
    """[EXT] Fragment the base table by portable hash of ``key`` — the
    third classic scheme (no reference counterpart). Same warehouse
    layout and partition-pruned reads as the range/RR schemes."""
    if not _valid_n(n):
        print("Invalid number of partitions:", n)
        return
    cat = FragmentCatalog(warehouse)
    cat.recover()
    df = _read_base(spark, warehouse, table)
    frag.write_fragmented(
        frag.assign_hash_fragments(df, key, n), _hash_path(warehouse, table)
    )
    cat.update_hash(n=n, key=key)


def hash_insert(
    spark: SparkSession, table: str, userid: int, itemid: int, rating: float,
    warehouse: str,
) -> None:
    """[EXT] Append to base AND to the fragment owning the row's key
    under the catalog's hash scheme: ``query.hash_owner_fragment``, the
    driver-side twin of ``hash_fragment_expr``, so only an integer key
    (userid or movieid) routes; another key raises before anything is
    written. Starts no Spark job (``spark`` is unused); commit and
    recovery as in the module docstring."""
    _routed_insert("hash", _hash_path(warehouse, table), table,
                   userid, itemid, rating, warehouse)


def hash_key_lookup(
    spark: SparkSession, key_value: int, warehouse: str, table: str = "ratings"
) -> DataFrame:
    """[EXT] Point lookup by routing key: computes the owning fragment
    from the catalog (driver-side arithmetic on the key literal) and
    reads ONLY that fragment — partition pruning by construction, the
    1-of-n scan the reference's pointQuery does for the range scheme
    (Interface1.py:310-347), here for the hash scheme."""
    meta = FragmentCatalog(warehouse).hash_meta()
    if meta.n <= 0:
        raise ValueError("no hash partitions exist")
    owner = q.hash_owner_fragment(key_value, meta.n)
    df = frag.read_fragmented(spark, _hash_path(warehouse, table))
    return df.where(
        (F.col(FRAGMENT_COL) == owner) & (F.col(meta.key) == key_value)
    )


def catalog_report(
    spark: SparkSession, warehouse: str, table: str = "ratings"
) -> DataFrame:
    """[EXT] One-stop catalog/layout report: every materialized scheme
    with its catalog parameters and per-fragment row counts — the
    operational view the reference never had. Counts come from pruned
    per-scheme scans (one tiny agg per scheme)."""
    cat = FragmentCatalog(warehouse)
    rows = []
    for scheme, path, n in (
        ("range", _range_path(warehouse, table), cat.range_meta().n),
        ("round_robin", _rr_path(warehouse, table), cat.round_robin_meta().n),
        ("hash", _hash_path(warehouse, table), cat.hash_meta().n),
    ):
        if n <= 0 or not os.path.isdir(path):
            continue
        counts = (
            frag.read_fragmented(spark, path)
            .groupBy(FRAGMENT_COL)
            .count()
            .collect()
        )
        for r in counts:
            rows.append((scheme, n, int(r[FRAGMENT_COL]), int(r["count"])))
    return spark.createDataFrame(
        rows, "scheme string, n_fragments int, fragment_id int, n_rows long"
    )


def compact_fragments(
    spark: SparkSession, warehouse: str, table: str, scheme: str,
    target_files_per_fragment: int = 1,
) -> None:
    """[EXT] Small-file compaction: routed single-row inserts accumulate
    one parquet file each (the classic streaming/trickle-insert
    pathology — at scale, file-listing cost alone kills scans). Rewrite
    each fragment directory down to ``target_files_per_fragment`` files
    with a fragment-local repartition; fragment membership, row content
    and partition pruning are unchanged. The commit goes through the
    warehouse FS shim (fs.py): rename-swap on local/HDFS (old layout
    readable until the new one is complete), generation-pointer flip on
    object stores without atomic rename."""
    paths = {
        "range": _range_path(warehouse, table),
        "round_robin": _rr_path(warehouse, table),
        "hash": _hash_path(warehouse, table),
    }
    path = paths[scheme]
    wfs = fslib.fs_for(warehouse, spark)
    df = frag.read_fragmented(spark, fslib.resolve_dataset(wfs, path))
    staged = fslib.stage_path(wfs, path, "compact")
    if target_files_per_fragment <= 1:
        # hash-cluster by fragment: each fragment lands whole in one
        # task → exactly one file per fragment directory
        clustered = df.repartition(F.col(FRAGMENT_COL))
    else:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(target_files_per_fragment),
        )
        clustered = df.repartition(F.col(FRAGMENT_COL), salt)
    clustered.write.mode("overwrite").partitionBy(FRAGMENT_COL).parquet(staged)
    fslib.commit_staged(wfs, staged, path, require_marker=True)


def delete_tables(spark: SparkSession, table_or_all: str, warehouse: str) -> None:
    """Drop a named table's datasets, or everything (op #10).

    ``'ALL'`` is case-insensitive like the reference (Interface1.py:375).
    """
    wfs = fslib.fs_for(warehouse, spark)
    if table_or_all.upper() == "ALL":
        wfs.delete(warehouse, recursive=True)
        return
    if wfs.exists(warehouse):
        # an interrupted insert must not land in the table after its drop
        FragmentCatalog(warehouse, fs=wfs).recover()
    for p in (
        os.path.join(warehouse, table_or_all),
        _range_path(warehouse, table_or_all),
        _rr_path(warehouse, table_or_all),
        _hash_path(warehouse, table_or_all),
    ):
        wfs.delete(p, recursive=True)
        # also drop old-/staged siblings: a surviving marked stage
        # after a drop is the target-missing-no-old state in which
        # recovery would resurrect stale data for the next reader
        fslib.purge_siblings(wfs, p)
