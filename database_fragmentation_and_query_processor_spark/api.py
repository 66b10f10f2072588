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
delete_all_partitions :36-47    (implicit: a new generation replaces them)
update_*_metadata    :49-98     catalog.FragmentCatalog
==============================  =======================================

Warehouse layout (one directory per logical table)::

    {warehouse}/{table}/base/gen-<token>/                  # unfragmented parquet
    {warehouse}/{table}_range/gen-<token>/fragment_id=i/   # range scheme
    {warehouse}/{table}_rr/gen-<token>/fragment_id=i/      # round-robin scheme
    {warehouse}/{table}_hash/gen-<token>/fragment_id=i/    # hash scheme [EXT]
    {warehouse}/_frag_metadata.json   # catalogs, RR cursor, live generations
    {warehouse}/_staging/             # inserts' staged files
    {warehouse}/_WRITER_LOCK          # held while a writer mutates

Every writer here (``load_ratings``, the three partitionings,
``compact_fragments``) publishes through the catalog (``catalog.py``):
it holds the writer lock for its whole Spark write, writes a new
generation, and flips the generation and the scheme's metadata in one
atomic sidecar write; ``delete_tables`` of one table unpublishes the
table's generations the same way before deleting them. Readers (``point_query``,
``range_query``, ``hash_key_lookup``, ``catalog_report``) read the
sidecar once per call and scan the generations it names, so a reader
sees the whole old layout or the whole new one. Each call opens the
catalog with the caller's session, so a ``file://``, ``hdfs://`` or
``s3a://`` warehouse works like a local directory.

The reader rule: one relation per live generation and commit, per
session. Every reader gets a fragment relation from
:func:`live_fragments`, which reads a live generation (its directory
listing included) once per Spark session and catalog commit (the
sidecar's ``commit`` stamp, which every sidecar write raises) and
reuses it while the sidecar read for the call names the same
generation at the same commit. Any commit through the catalog (a
partitioning, compaction, routed insert, recovery or drop) makes the
next read resolve the generation again, so it sees the new files or the
new layout; a relation read while an insert's intent is in the sidecar
is never kept. The contract: a file added to a live generation outside
the catalog, with no sidecar write, stays unseen by a session that
already read that generation, until the next commit. Writers read fresh
under the writer lock.

A routed insert (``range_insert``, ``round_robin_insert``,
``hash_insert``) runs no Spark job, like the reference's one-row
PostgreSQL transaction (Interface1.py:183-259). Under the writer lock
it reads the scheme's metadata (cursor included) and the live
generations, routes the row on the driver, writes one one-row parquet
file for the base and one for the owning fragment with pyarrow into
``_staging/``, and commits them into those generations with an intent
record in the catalog sidecar (``catalog.FragmentCatalog.commit_insert``).
Every mutation first finishes an interrupted insert under the lock: it
renames the staged files of a left-over intent into place and deletes
staged files no intent names. So a crashed insert leaves either nothing
visible or a torn insert (in base but not yet in its fragment) that the
next mutation completes. Readers take no lock: between an insert's two
renames, and from a crash until the next mutation, a reader can see the
row in base but not in its fragment. Because a partitioning or
compaction holds the lock for its whole write, an insert that arrives
meanwhile fails fast with ``fs.LockHeldError`` and can be retried; it is
never lost under the rewrite.

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

import logging
import weakref
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs as fslib
from .catalog import (
    COMMIT_KEY,
    INTENT_KEY,
    FragmentCatalog,
    HashMetadata,
    RangeMetadata,
    RoundRobinMetadata,
    section,
)
from .operators import fragmentation as frag
from .operators import query as q
from .schema import FRAGMENT_COL, RATINGS_SCHEMA
from .sources.ratings import read_ratings_text

log = logging.getLogger(__name__)

RATING_DOMAIN = (0.0, 5.0)  # fixed regardless of data (Interface1.py:122-123)
#: The integer columns a hash scheme routes on the driver:
#: ``q.hash_owner_fragment`` hashes the text of an integer.
HASH_ROUTING_KEYS = ("userid", "movieid")

#: session → {(warehouse, dataset): (generation, commit, JVM DataFrame)},
#: the prepared relations of :func:`live_fragments`. The JVM handle, not
#: the Python DataFrame (which holds its session), is kept, so an entry
#: never keeps its session alive. No lock: an entry is reused only at
#: the generation and commit it was read at, so threads racing on one
#: key cost at most another resolve.
_RELATIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _datasets(table: str) -> dict[str, str]:
    """The table's datasets, relative to the warehouse, by catalog
    section (``base`` for the unfragmented relation)."""
    return {
        "base": f"{table}/base",
        "range": f"{table}_range",
        "round_robin": f"{table}_rr",
        "hash": f"{table}_hash",
    }


def _live(cat: FragmentCatalog, doc: dict, dataset: str) -> str:
    path = cat.live(dataset, doc)
    if path is None:
        raise FileNotFoundError(f"{dataset} has no committed data in {cat.warehouse}")
    return path


def live_fragments(
    spark: SparkSession, cat: FragmentCatalog, dataset: str, doc: dict | None = None
) -> DataFrame:
    """The live generation of the fragmented ``dataset`` that ``doc``
    (the sidecar read for this call; read now when None) names, read
    with the declared schema. Prepared once per ``spark`` session and
    catalog commit: reused while ``doc`` names the same generation at
    the same commit stamp, and never kept when read while ``doc``
    carries an insert's intent (module docstring)."""
    doc = cat.read() if doc is None else doc
    gen, commit = _live(cat, doc, dataset), doc.get(COMMIT_KEY, 0)
    relations = _RELATIONS.setdefault(spark, {})
    key = (cat.warehouse, dataset)
    kept = relations.get(key)
    if kept is not None and kept[:2] == (gen, commit):
        log.debug("reusing %s generation %s at commit %d", dataset, gen, commit)
        return DataFrame(kept[2], spark)
    log.info("resolving %s generation %s at commit %d", dataset, gen, commit)
    df = frag.read_fragmented(spark, gen)
    if INTENT_KEY not in doc:
        relations[key] = (gen, commit, df._jdf)
    return df


def _valid_n(n) -> bool:
    return isinstance(n, int) and not isinstance(n, bool) and n > 0


def load_ratings(
    spark: SparkSession, table: str, filepath: str, warehouse: str
) -> DataFrame:
    """Distributed load of ``::`` text → parquet base table (op #1)."""
    return write_base(spark, table, read_ratings_text(spark, filepath), warehouse)


def write_base(
    spark: SparkSession, table: str, df: DataFrame, warehouse: str
) -> DataFrame:
    """Publish ``df`` (``RATINGS_SCHEMA`` columns) as a new generation of
    the table's base; returns it read back with the declared schema."""
    dataset = _datasets(table)["base"]
    cat = FragmentCatalog(warehouse, spark)
    with cat.mutation() as doc:
        gen = cat.new_generation(dataset, "load")
        df.write.parquet(gen)
        cat.publish(doc, {dataset: gen})
    return spark.read.schema(RATINGS_SCHEMA).parquet(gen)


def _fragment(
    spark: SparkSession, table: str, warehouse: str, scheme: str, assign
) -> None:
    """Fragment the table's live base into a new generation of its
    ``scheme`` dataset and publish it with the scheme's metadata, all
    under the writer lock (module docstring). ``assign(base)`` returns
    the fragmented frame and a thunk giving the metadata once that
    frame is written."""
    datasets = _datasets(table)
    cat = FragmentCatalog(warehouse, spark)
    with cat.mutation() as doc:
        base = spark.read.schema(RATINGS_SCHEMA).parquet(_live(cat, doc, datasets["base"]))
        fragmented, meta = assign(base)
        gen = cat.new_generation(datasets[scheme], scheme)
        frag.write_fragmented(fragmented, gen)
        cat.publish(doc, {datasets[scheme]: gen}, **{scheme: meta()})


def range_partition(spark: SparkSession, table: str, n, warehouse: str) -> None:
    """Fragment the base table by fixed-domain rating buckets (op #3)."""
    if not _valid_n(n):
        print("Invalid number of partitions:", n)
        return
    lo, hi = RATING_DOMAIN
    _fragment(spark, table, warehouse, "range", lambda df: (
        frag.assign_range_fragments(df, "rating", n, lo, hi),
        lambda: RangeMetadata(n, lo, hi, (hi - lo) / n),
    ))


def round_robin_partition(spark: SparkSession, table: str, n, warehouse: str) -> None:
    """Fragment the base table row k → fragment k mod n (op #4)."""
    if not _valid_n(n):
        print("Invalid number of partitions:", n)
        return

    # (userid, movieid) is the ratings natural key: a MovieLens user rates
    # a movie once (the registry's lineitem-derived relation repeats pairs,
    # so queries.common._frag_warehouse numbers lineitem rows).
    # operators/scaling.stable_row_number numbers a base that scans as one
    # task by one row_number() window inside that task, so the write is
    # the only Spark job; a base of more scan splits by its buckets. The
    # row total is counted on the write itself (an Observation), not by a
    # second scan.
    def assign(df):
        assigned, rows = frag.assign_round_robin_fragments(
            df, n, order_cols=["userid", "movieid"]
        )
        return assigned, lambda: RoundRobinMetadata(n, frag.round_robin_cursor(rows, n))

    _fragment(spark, table, warehouse, "round_robin", assign)


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
    return q.hash_owner_fragment(keys[_routing_key(meta, "hash_insert")], meta.n)


def _routing_key(meta: HashMetadata, op: str) -> str:
    """The hash scheme's key column, checked for ``op``: ``ValueError``
    unless the driver can route on it (``HASH_ROUTING_KEYS``)."""
    if meta.key not in HASH_ROUTING_KEYS:
        raise ValueError(
            f"{op} routes on an integer key ({' or '.join(HASH_ROUTING_KEYS)}); "
            f"the hash scheme is keyed on {meta.key!r}"
        )
    return meta.key


def _routed_insert(
    spark: SparkSession, scheme: str, table: str, userid: int, itemid: int,
    rating: float, warehouse: str,
) -> None:
    """Append one row to the live base and to its owning fragment of
    ``scheme``'s live generation as one commit, with no Spark job; the
    protocol, recovery and reader window are in the module docstring.
    With no ``scheme`` partitions the row goes to base only, and a
    message says so, as in the reference."""
    data = _parquet_row(userid, itemid, rating)
    datasets = _datasets(table)
    cat = FragmentCatalog(warehouse, spark)
    with cat.mutation() as doc:
        meta = section(doc, scheme)
        owner = _route(scheme, meta, userid, itemid, rating) if meta.n > 0 else None
        staged = [cat.stage(data, cat.insert_target(doc, datasets["base"]))]
        if owner is not None:
            fragments = cat.insert_target(doc, datasets[scheme])
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
    domain bounds read under the writer lock. Starts no Spark job; one
    all-or-nothing commit, completed by the next mutation after a crash
    (module docstring)."""
    _routed_insert(spark, "range", table, userid, itemid, rating, warehouse)


def round_robin_insert(
    spark: SparkSession, table: str, userid: int, itemid: int, rating: float,
    warehouse: str,
) -> None:
    """Append to base AND to fragment ``(cursor + 1) % n`` (op #6,
    Interface1.py:183-213). The cursor is read and advanced under the
    writer lock, in the same sidecar write that records the insert's
    intent, so two inserters never pick the same owner and a torn
    insert has already advanced it once. Starts no Spark job; commit
    and recovery as in the module docstring."""
    _routed_insert(spark, "round_robin", table, userid, itemid, rating, warehouse)


def _query_sides(spark: SparkSession, warehouse: str, table: str) -> list:
    """``[range, round_robin]``: each scheme's ``(metadata, prepared
    relation of its live generation)`` from ONE sidecar read, or None
    for a scheme without partitions (the arguments of
    ``q.range_query``/``q.point_query``)."""
    cat = FragmentCatalog(warehouse, spark)
    doc = cat.read()
    sides = []
    for scheme in ("range", "round_robin"):
        meta = section(doc, scheme)
        sides.append(
            (meta, live_fragments(spark, cat, _datasets(table)[scheme], doc))
            if meta.n > 0 else None
        )
    return sides


def range_query(
    spark: SparkSession, min_rating: float, max_rating: float, warehouse: str,
    output_path: str | None = None, table: str = "ratings",
) -> DataFrame:
    df = q.range_query(
        spark, min_rating, max_rating, *_query_sides(spark, warehouse, table)
    )
    if output_path:
        q.write_result_file(df, output_path)
    return df


def point_query(
    spark: SparkSession, rating_value: float, warehouse: str,
    output_path: str | None = None, table: str = "ratings",
) -> DataFrame:
    df = q.point_query(spark, rating_value, *_query_sides(spark, warehouse, table))
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
    _fragment(spark, table, warehouse, "hash", lambda df: (
        frag.assign_hash_fragments(df, key, n), lambda: HashMetadata(n, key),
    ))


def hash_insert(
    spark: SparkSession, table: str, userid: int, itemid: int, rating: float,
    warehouse: str,
) -> None:
    """[EXT] Append to base AND to the fragment owning the row's key
    under the catalog's hash scheme: ``query.hash_owner_fragment``, the
    driver-side twin of ``hash_fragment_expr``, so only an integer key
    (userid or movieid) routes; another key raises before anything is
    written. Starts no Spark job; commit and recovery as in the module
    docstring."""
    _routed_insert(spark, "hash", table, userid, itemid, rating, warehouse)


def hash_key_lookup(
    spark: SparkSession, key_value: int, warehouse: str, table: str = "ratings"
) -> DataFrame:
    """[EXT] Point lookup by routing key: computes the owning fragment
    from the catalog (driver-side arithmetic on the key literal) and
    reads ONLY that fragment of the live generation named in the same
    sidecar read — partition pruning by construction, the 1-of-n scan
    the reference's pointQuery does for the range scheme
    (Interface1.py:310-347), here for the hash scheme. Like
    ``hash_insert``, it raises ``ValueError`` for a scheme keyed on a
    column other than userid or movieid, whose owner the driver cannot
    compute. The plan is one filter on the prepared relation."""
    cat = FragmentCatalog(warehouse, spark)
    doc = cat.read()
    meta = section(doc, "hash")
    if meta.n <= 0:
        raise ValueError("no hash partitions exist")
    key = q.quote_ident(_routing_key(meta, "hash_key_lookup"))
    owner = q.hash_owner_fragment(key_value, meta.n)
    df = live_fragments(spark, cat, _datasets(table)["hash"], doc)
    return df.where(f"{FRAGMENT_COL} = {owner} AND {key} = {q.sql_literal(key_value)}")


def catalog_report(
    spark: SparkSession, warehouse: str, table: str = "ratings"
) -> DataFrame:
    """[EXT] One-stop catalog/layout report: every materialized scheme
    with its catalog parameters and per-fragment row counts — the
    operational view the reference never had. Counts come from pruned
    per-scheme scans (one tiny agg per scheme) of the live generations
    named in one sidecar read."""
    cat = FragmentCatalog(warehouse, spark)
    doc = cat.read()
    rows = []
    for scheme in ("range", "round_robin", "hash"):
        n, dataset = section(doc, scheme).n, _datasets(table)[scheme]
        if n <= 0 or cat.live(dataset, doc) is None:
            continue
        counts = (
            live_fragments(spark, cat, dataset, doc)
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
    and partition pruning are unchanged. Like every writer here it holds
    the writer lock for the whole rewrite, writes a new generation and
    flips it in the catalog sidecar (module docstring): readers keep
    the old layout until the flip, and an insert arriving during the
    rewrite fails with ``fs.LockHeldError`` instead of being lost."""
    dataset = _datasets(table)[scheme]
    cat = FragmentCatalog(warehouse, spark)
    with cat.mutation() as doc:
        df = frag.read_fragmented(spark, _live(cat, doc, dataset))
        gen = cat.new_generation(dataset, "compact")
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
        clustered.write.partitionBy(FRAGMENT_COL).parquet(gen)
        cat.publish(doc, {dataset: gen})


def delete_tables(spark: SparkSession, table_or_all: str, warehouse: str) -> None:
    """Drop a named table's datasets, or everything (op #10).

    ``'ALL'`` is case-insensitive like the reference (Interface1.py:375).
    One table is dropped under the writer lock (after any interrupted
    insert is finished): its generation entries leave the sidecar in
    one write, then its directories are deleted.
    """
    wfs = fslib.fs_for(warehouse, spark)
    if table_or_all.upper() == "ALL":
        wfs.delete(warehouse, recursive=True)
        return
    if not wfs.exists(warehouse):
        return
    cat = FragmentCatalog(warehouse, fs=wfs)
    datasets = _datasets(table_or_all)
    with cat.mutation() as doc:
        cat.drop(doc, [table_or_all, *(datasets[s] for s in ("range", "round_robin", "hash"))])
