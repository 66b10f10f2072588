"""The driver-contract correctness surface.

Each entry pairs a Spark DataFrame builder (``QUERIES``) with an exact
ANSI-SQL mirror for DuckDB (``ORACLE_SQL``). Column names, types and
values are engineered to hash-match:

- **Money/measure aggregation is DECIMAL-exact**: cast to DECIMAL before
  SUM (both engines sum decimals exactly), cast the total to DOUBLE once
  at the end. This removes float-summation-order divergence entirely.
- **Counts are BIGINT** on both sides (DuckDB SUM(int)→HUGEINT is cast).
- **Hashes are md5-derived arithmetic**, never engine-native ``hash()``.
- **Top-k/window queries carry explicit unique tie-breaks.**
- Floating similarity scores are rounded to 6 digits on both sides.

The fragmentation queries run the reference engine's semantics
(fixed-domain range buckets, deterministic round-robin, provenance +
dual-scheme emission — Interface1.py:122-140, 169-174, 261-347) on the
driver's synthetic ``lineitem`` fragmented once (``_frag_warehouse``).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import api
from ..artifacts import artifact_path, build_once
from ..cache import track as _track_cached
from ..catalog import FragmentCatalog, RangeMetadata, RoundRobinMetadata
from ..functions import text as T
from ..functions.lattice import flr as _flr
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators import merge as MergeOp
from ..operators import sampling as SampleOp
from ..operators import similarity as S
from ..operators.fragmentation import (
    assign_range_fragments,
    assign_round_robin_fragments,
    hash_fragment_expr,
    range_fragment_expr,
    round_robin_cursor,
    write_fragmented,
)
from ..operators.query import range_owner_fragment
from ..operators.scaling import stable_row_number, widen
from ..schema import FRAGMENT_COL

# ---------------------------------------------------------------------------
# shared constants (embedded into BOTH the Spark plans and the oracle SQL)
# ---------------------------------------------------------------------------

def _flr_py(x: float, k: int = 6) -> float:
    """Driver-side mirror of functions.lattice.flr: half-up rounding
    via the pure-IEEE floor lattice, for Python-computed constants that
    pair with a latticed SQL expression (Python's builtin round() is
    half-EVEN on the exact binary and would diverge on boundaries)."""
    s = float(10**k)
    return math.floor(x * s + 0.5) / s


class EmptyInputError(ValueError):
    """A query's driver-side sizing/seed pre-pass found an empty
    corpus, and its degenerate output is a non-trivial row shape the
    oracle materializes from constants. Raised DELIBERATELY (r12
    empty-input sweep) so the failure mode is a named contract, never
    an accidental TypeError off a ``head()`` that returned None."""


def _empty_result(spark: SparkSession, schema: str) -> DataFrame:
    """Zero-row frame with the query's output column names — the
    degenerate result for queries whose oracle returns an empty set on
    empty input (top-k over nothing, GROUP BY over nothing). The
    driver's compare only needs names + zero rows to hash-match."""
    return spark.createDataFrame([], schema)


RANGE_N = 5
RANGE_MIN, RANGE_MAX = 0.0, 5.0
RQ_LO, RQ_HI = 1.5, 3.5
PQ_VALUE = 4.5
Q1_CUTOFF = "2000-12-01"
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"
Q5_REGION = "ASIA"
Q5_LO, Q5_HI = "1996-01-01", "1997-01-01"
MINHASH_K = 8
MINHASH_BANDS = 4
SHINGLE_N = 3
NEAR_DUP_THRESHOLD = 0.8
#: near_dup_audit's exact-ground-truth blocks are verified ≤ this many
#: docs before the quadratic within-block pair join may launch (the
#: audit's scale contract; see operators/dedup.py:blocked_jaccard_pairs)
AUDIT_MAX_BLOCK_DOCS = 4096
EMB_DIM = 64
KNN_K = 10
EMB_DUP_THRESHOLD = 0.99
DUP_SALT = 100_000  # synthesized duplicate doc_id offset


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # delegates so a single patch point covers every family module:
    # each module imports this function, whose body resolves _t_impl
    # here at call time — tests (test_partition_invariance) patch
    # common._t_impl and every query in every module sees the
    # scrambled reader
    return _t_impl(spark, sf_dir, name)


def _t_impl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delegate (see _t): tests patch common._docs_impl
    return _docs_impl(spark, sf_dir)


def _docs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, widened: the test file is a single parquet split, and
    the doc operators are CPU-bound per row (shingles, hashes) — one
    split would serialize them on one core. No-op on real clusters
    where the scan is already wide (operators/scaling.py)."""
    return widen(_t(spark, sf_dir, "documents"), key="doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delegate (see _t): tests patch common._emb_impl
    return _emb_impl(spark, sf_dir)


def _emb_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return widen(_t(spark, sf_dir, "embeddings"), key="vec_id")


def _json_artifact(sf_dir: str, tag: str, sources, compute: Callable):
    """Build-once JSON document: ``compute()`` runs only on a miss, and
    every call returns the stored document."""
    import json
    import os

    def build(stage):
        with open(os.path.join(stage, "doc.json"), "w") as fh:
            json.dump(compute(), fh)

    with open(os.path.join(build_once(sf_dir, tag, sources, build), "doc.json")) as fh:
        return json.load(fh)


def _ann_quantizers(spark: SparkSession, sf_dir: str):
    """Build-once quantizer artifacts shared by the whole ANN family:
    the IVF coarse centroids (kmeans_centroids, IVF_N_LISTS lists) and
    the PQ codebooks (pq_codebooks, PQ_M x PQ_CODES), trained once per
    embeddings corpus and stored as a JSON artifact (the same store
    that took crosslingual_mate_retrieval from 3.75s to 0.86s in r13).
    Both trainers are deterministic round-6 arithmetic, so the stored
    copy is bit-identical to a re-derivation — the five ANN queries
    keep their static-SQL oracles unchanged. This is also the honest
    100 TB serving shape: the quantizer is corpus metadata built at
    index time (n_lists·dim + m·n_codes·(dim/m) scalars), not
    something a probe re-trains."""

    def compute():
        emb = _emb(spark, sf_dir)
        return {
            "cents": S.kmeans_centroids(emb, n_lists=IVF_N_LISTS),
            "books": S.pq_codebooks(emb, m=PQ_M, n_codes=PQ_CODES, dim=EMB_DIM),
        }

    d = _json_artifact(sf_dir, "ann_quant", ["embeddings"], compute)
    return d["cents"], d["books"]


def _ann_ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build-once MATERIALIZED IVF-PQ index (similarity.
    write_ivfpq_index: vectors + coarse list assignment + PQ codes,
    partitioned by list) on top of the stored quantizers — the probe
    side of the whole ANN family reads this instead of re-running the
    literal-centroid assignment expressions per query. Returns
    ``(index_path, cents, books)``. Assignment is deterministic, so
    indexed probes are result-identical to the inline operators
    (pinned in tests/test_r14_additions.py)."""
    cents, books = _ann_quantizers(spark, sf_dir)
    path = build_once(
        sf_dir, "ivfpq_index", ["embeddings"],
        lambda stage: S.write_ivfpq_index(_emb(spark, sf_dir), stage, cents, books),
    )
    return path, cents, books


def _sq8_minmax(spark: SparkSession, sf_dir: str):
    """Build-once per-dimension (min, max) for SQ8 scalar quantization
    — the third quantizer family next to IVF (coarse) and PQ
    (subvector): each dimension is affinely mapped to a uint8 level,
    4x compression at full dimensionality. The min/max table is
    EMB_DIM pairs of corpus metadata built at index time (a JSON
    artifact like ``_ann_quantizers``); a probe never rescans the
    corpus for it. Returns ``(mins, maxs)`` as Python double lists —
    exact float32→double widenings, so the DuckDB oracle's
    MIN/MAX(CAST(embedding[j] AS DOUBLE)) reproduces them
    bit-for-bit."""

    def compute():
        rows = (
            _emb(spark, sf_dir)
            .select(F.posexplode("embedding").alias("j", "v"))
            .groupBy("j")
            .agg(
                F.min(F.col("v").cast("double")).alias("mn"),
                F.max(F.col("v").cast("double")).alias("mx"),
            )
            .collect()  # bounded: EMB_DIM rows
        )
        by_j = {int(r["j"]): (float(r["mn"]), float(r["mx"])) for r in rows}
        return {
            "mins": [by_j[j][0] for j in sorted(by_j)],
            "maxs": [by_j[j][1] for j in sorted(by_j)],
        }

    d = _json_artifact(sf_dir, "sq8_minmax", ["embeddings"], compute)
    return d["mins"], d["maxs"]


#: sign-LSH signature width, shared by the ANN family and the
#: materialized-index helpers (hoisted from the families module so
#: common's helpers never forward-reference)
ANN_PLANES = 16

#: prefix width of the materialized sign-LSH index: 6 bits (64 bucket
#: dirs; a radius-2 ball reads 22) fits the test corpus — at 100 TB
#: raise it so each bucket stays a few hundred MB
LSH_INDEX_PREFIX_BITS = 6


def _ann_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once materialized sign-LSH index (similarity.
    write_lsh_index → partitionBy(sig_prefix)), shared by
    ann_lsh_indexed and the recall/NDCG audits' probe methods.
    Signatures are deterministic, so indexed probes are
    result-identical to the on-the-fly lsh_topk at the same radius."""
    return build_once(
        sf_dir, "lsh_index", ["embeddings"],
        lambda stage: S.write_lsh_index(
            _emb(spark, sf_dir), stage, n_planes=ANN_PLANES,
            prefix_bits=LSH_INDEX_PREFIX_BITS, dim=EMB_DIM,
        ),
    )


def _store_merge_rows(sf_dir: str, algo: str, rows: list[dict]) -> None:
    """Publish a learner's K-row merge table as the build-once artifact
    (rows sorted by step, ready to chain); a no-op when the store
    already holds it."""
    _json_artifact(
        sf_dir, f"merges_{algo}", ["documents"],
        lambda: sorted(rows, key=lambda r: r["step"]),
    )


def _learned_merge_rows(spark: SparkSession, sf_dir: str, algo: str):
    """Build-once learned-tokenizer merge table: the K-row result of
    the registered deterministic learner (q_bpe_merge_learning /
    q_wordpiece_learning), stored as a JSON artifact keyed on
    documents.parquet — consumers like tokenizer_compare_audit apply
    the merges without re-paying the corpus-scanning training loop.
    The learners publish the artifact themselves (their merge rows are
    driver-held), so after a learner ran this is a file read; a cold
    audit-first call runs the learner, whose own publish wins the race
    against this build."""
    # call-time import: the learners live in later family modules
    # (original file order put them 18k lines below this helper)
    if algo == "bpe":
        from .tokenlearn import q_bpe_merge_learning as learner
    else:
        from .corpusops import q_wordpiece_learning as learner
    return _json_artifact(
        sf_dir, f"merges_{algo}", ["documents"],
        lambda: sorted(
            (r.asDict() for r in learner(spark, sf_dir).collect()),
            key=lambda r: r["step"],
        ),
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same delegate pattern as _t: one patchable implementation point
    # (common._events_impl) behind the binding every module imports
    return _events_impl(spark, sf_dir)


def _events_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events loader. The fixture's physical ``ts``
    encoding has drifted across generations (TIMESTAMP(NANOS) readable
    only as nanos-BIGINT via ``nanosAsLong``; currently timestamp[us] →
    Spark TIMESTAMP_NTZ). Normalize to two canonical columns so no query
    ever touches the physical encoding:

      ``event_time`` TIMESTAMP — micros precision (UTC session tz)
      ``tsn``        BIGINT    — micros since epoch

    Raw ``ts`` is dropped: any stale reference fails analysis loudly
    instead of silently reading a wrong scale. DuckDB mirrors use
    ``epoch_us(ts)`` for ``tsn`` (DuckDB reads the same parquet as a
    naive-UTC TIMESTAMP at micros precision on every encoding)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # harmless for micros files; required to even read TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":  # legacy: nanos since epoch as long
        tsn = F.expr("ts div 1000")
    elif ts_type.startswith("timestamp"):  # timestamp / timestamp_ntz
        tsn = F.unix_micros(F.col("ts").cast("timestamp"))
    else:
        raise TypeError(f"unsupported events.ts type: {ts_type}")
    return (
        ev.withColumn("tsn", tsn.cast("bigint"))
        .withColumn("event_time", F.timestamp_micros(F.col("tsn")))
        .drop("ts")
    )


US_PER_HOUR = 3_600_000_000
US_PER_DAY = 86_400_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in micros

#: ANN quantizer geometry — shared by the query family AND the
#: build-once artifact helper (_ann_quantizers), so defined with the
#: other cross-family constants.
IVF_N_LISTS = 16
IVF_NPROBE = 4
PQ_M = 4       # subspaces
PQ_CODES = 8   # codebook entries per subspace


# ---------------------------------------------------------------------------
# ratings derivation (FIXTURES.md §1): deterministic mapping of lineitem
# into the reference's ratings(userid, movieid, rating) relation. The
# oracle's row number ``rn`` is the round-robin assignment order.
# ---------------------------------------------------------------------------
RATINGS_CTE = """
ratings AS (
  SELECT CAST(l_orderkey AS INTEGER) AS userid,
         CAST(l_partkey AS INTEGER)  AS movieid,
         ROUND((l_quantity % 5.5) * 2) / 2.0 AS rating,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn
  FROM lineitem
)
"""


def _as_ratings(li: DataFrame, *keep: str) -> DataFrame:
    """RATINGS_CTE's columns but ``rn``, from ``lineitem`` rows, plus ``keep``."""
    return li.select(
        F.col("l_orderkey").cast("int").alias("userid"),
        F.col("l_partkey").cast("int").alias("movieid"),
        (F.round((F.col("l_quantity") % 5.5) * 2) / 2.0).alias("rating"),
        *keep,
    )


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_ratings(_t(spark, sf_dir, "lineitem"))


def _frag_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """``_ratings`` fragmented RANGE_N ways under both reference schemes
    in the ``api`` layout (``ratings_range/``, ``ratings_rr/``, catalog
    sidecar naming their generations), published the way
    ``api.range/round_robin_partition`` publish, built once per corpus
    and code. Round-robin numbers lineitem rows in the oracle's ``rn``
    order: ``(userid, movieid)`` is not unique here, nor is
    ``(l_orderkey, l_linenumber)`` (1,161 tied pairs at sf0.001), whose
    ties DuckDB meets in file order, so the file position breaks them
    (``_metadata`` survives a reshuffle)."""

    def build(wh):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_linenumber",
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_row"),
        )
        cat = FragmentCatalog(wh)
        with cat.mutation() as doc:
            rng_gen = cat.new_generation("ratings_range", "range")
            rng = assign_range_fragments(_as_ratings(li), "rating", RANGE_N, RANGE_MIN, RANGE_MAX)
            write_fragmented(rng, rng_gen)
            rr_gen = cat.new_generation("ratings_rr", "round_robin")
            rr, rows = assign_round_robin_fragments(li, RANGE_N, ["l_orderkey", "l_linenumber", "_file", "_row"])
            write_fragmented(_as_ratings(rr, FRAGMENT_COL), rr_gen)
            cat.publish(
                doc, {"ratings_range": rng_gen, "ratings_rr": rr_gen},
                range=RangeMetadata(RANGE_N, RANGE_MIN, RANGE_MAX, (RANGE_MAX - RANGE_MIN) / RANGE_N),
                round_robin=RoundRobinMetadata(RANGE_N, round_robin_cursor(rows, RANGE_N)),
            )

    return build_once(sf_dir, "frag_warehouse", ["lineitem"], build)


def _frag_scheme(spark: SparkSession, sf_dir: str, scheme: str) -> DataFrame:
    """The ``"range"`` or ``"rr"`` side of ``_frag_warehouse``: the
    prepared relation of its live generation (``api.live_fragments``)."""
    cat = FragmentCatalog(_frag_warehouse(spark, sf_dir))
    return api.live_fragments(spark, cat, f"ratings_{scheme}")


def _bucket_sql(col: str = "rating", n: int = RANGE_N) -> str:
    """SQL mirror of range_fragment_expr for the fixed [0,5] domain
    split into ``n`` fragments."""
    iv = (RANGE_MAX - RANGE_MIN) / n
    return (
        f"CAST(LEAST(GREATEST(CASE WHEN {col} - {RANGE_MIN} <= {iv} "
        f"THEN 0 ELSE CAST(CEIL(({col} - {RANGE_MIN}) / {iv}) AS INTEGER) - 1 END, "
        f"0), {n - 1}) AS INTEGER)"
    )


# ---------------------------------------------------------------------------
