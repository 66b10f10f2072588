"""Dedup clustering and contamination audits, fuzzy matching / gap fill / SCD-2, corpus curation II + III, runtime filters, cross-engine semantics batteries, fragmentation lifecycle, pipeline evaluation audits, hash fragmentation, the flagship curation pipeline."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..artifacts import build_once
from ..cache import track as _track_cached
from ..functions import text as T
from ..functions.lattice import flr as _flr
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators.fragmentation import hash_fragment_expr, range_fragment_expr
from .common import (
    ANN_PLANES, AUDIT_MAX_BLOCK_DOCS, EMB_DIM, IVF_NPROBE, KNN_K,
    LSH_INDEX_PREFIX_BITS, MINHASH_BANDS, MINHASH_K, NEAR_DUP_THRESHOLD,
    RANGE_MAX, RANGE_MIN, RANGE_N, RATINGS_CTE, SESSION_GAP_US, SHINGLE_N,
    US_PER_DAY, US_PER_HOUR, _ann_ivfpq_index, _ann_lsh_index, _bucket_sql,
    _docs, _emb, _events, _flr_py, _frag_scheme, _json_artifact, _ratings, _t,
)
from .families import (
    _QUALITY_SQL, ANN_PROBE_HAMMING, DOCS_WITH_DUPS_CTE, LEN_BUCKET,
    SQL_ANN_IVF_TOPK, SQL_KNN_BRUTEFORCE, SQL_MINHASH_NEAR_DUP_PAIRS,
    SQL_NGRAM_JACCARD_PAIRS, STREAM_STATE_SHARDS, TOKENS_SQL, _dec2,
    _docs_with_dups, _lsh_topk_sql, _near_dup_ctes, _stream_join_shards,
)
from .batteries import MERGE_UPD_MOD

# dedup clustering, contamination, repetition, histograms
# ---------------------------------------------------------------------------


def _word_grams(toks, n: int):
    """Array of n-token grams (space-joined) from a token array; docs
    shorter than n tokens → empty array.

    Built as a zip_with chain over n shifted slices of the token
    array, NOT a transform whose lambda slices `toks` per position:
    higher-order-function lambdas re-evaluate captured subtrees per
    element (interpreted, no CSE), so the old per-position
    slice-and-join re-ran the whole tokenize expression m times per
    document — O(m²) regex splits for an m-token doc. Here `toks`
    appears only as top-level arguments (n slices + the size guard),
    so tokenize runs a constant n+1 times per row regardless of
    document length. zip_with pads the shorter (shifted) side with
    nulls and `concat` propagates them, so the trailing n-1 partial
    windows drop in the final null filter — same grams, same order."""
    size = F.size(toks)
    gram = None
    for j in range(n):
        part = F.slice(toks, j + 1, F.greatest(size - j, F.lit(0)))
        gram = (
            part
            if gram is None
            else F.zip_with(
                gram, part, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        )
    return F.when(
        size >= n, F.filter(gram, lambda g: g.isNotNull())
    ).otherwise(F.array().cast("array<string>"))


def q_dedup_clusters(spark, sf_dir):
    """Dedup cluster assignment: MinHash-LSH near-dup pairs →
    connected components (operators/graph.py, min-label propagation,
    one shuffle per round, O(diameter) rounds) → per-cluster sizes.
    Cluster id = min doc_id in the component. The DuckDB oracle replays
    the transitive closure as a recursive CTE."""
    from ..operators.graph import cluster_sizes, connected_components

    docs = _docs_with_dups(spark, sf_dir)
    pairs = D.near_dup_pairs(
        docs, threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS
    ).select("id_a", "id_b")
    return cluster_sizes(connected_components(pairs)).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"), "n_docs"
    )


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({SQL_MINHASH_NEAR_DUP_PAIRS}) t
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst AS node, w.label
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.label < e.dst
),
labels AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM labels GROUP BY cluster_id
"""


CONTAM_N = 5
CONTAM_MIN_SHARED = 3


def q_contamination_pairs(spark, sf_dir):
    """Train/eval contamination check: document pairs from DIFFERENT
    sources sharing ≥ CONTAM_MIN_SHARED distinct word 5-grams. The join
    key is md5(gram) — fixed 32-char width, so the shuffle is bounded
    per-gram regardless of text length; per-doc grams are de-duplicated
    BEFORE the join (array_distinct) so hot documents don't fan out."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    grams = F.array_distinct(_word_grams(toks, CONTAM_N))
    g = docs.select(
        "doc_id", "source", F.explode(grams).alias("gram")
    ).select("doc_id", "source", F.md5("gram").alias("gh"))
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") != F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.countDistinct("a.gh").cast("bigint").alias("shared_grams"))
        .where(F.col("shared_grams") >= CONTAM_MIN_SHARED)
    )


SQL_CONTAMINATION_PAIRS = f"""
WITH toks AS (SELECT doc_id, source, {TOKENS_SQL} AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(
           range(1, greatest(len(t) - {CONTAM_N - 2}, 1)),
           j -> md5(array_to_string(t[j:j+{CONTAM_N - 1}], ' '))
         )) AS gh
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(DISTINCT a.gh) AS BIGINT) AS shared_grams
FROM grams a
JOIN grams b ON a.gh = b.gh AND a.source <> b.source AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(DISTINCT a.gh) >= {CONTAM_MIN_SHARED}
"""


DECON_BENCH_MOD = 17  # benchmark set = docs where doc_id % 17 == 0


def q_benchmark_decontamination(spark, sf_dir):
    """Operational benchmark decontamination (the GPT-style n-gram
    screen, as a removal op rather than pair detection): a deterministic
    slice of the corpus stands in for the benchmark/eval set; every
    training document sharing ANY distinct word 5-gram with it is
    flagged. The benchmark gram set reaches the training side through
    the dense-bitset Bloom runtime filter (operators/joins.py:
    bloom_semi_join) — the train-side gram stream is pruned MAP-SIDE
    before the join shuffle, which at 100 TB is the difference between
    shuffling the corpus and shuffling ~the contaminated sliver; an
    exact left-semi finish removes Bloom false positives. Output: per
    source, train-doc counts kept vs removed. Runs over the
    duplicate-synthesized corpus so the screen provably fires: every
    benchmark doc whose verbatim copy sits in the training slice drags
    that copy out."""
    from ..operators.joins import bloom_semi_join

    docs = _docs_with_dups(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    grams = F.array_distinct(_word_grams(toks, CONTAM_N))
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    # r14: only the BENCH slice's distinct gram set is persisted — it is
    # the side consumed twice (the eager Bloom build, then the exact
    # semi finish), and it tokenizes 1/DECON_BENCH_MOD of the corpus, so
    # the blocking build job no longer materializes the full corpus gram
    # stream (the pre-r14 shape persisted ALL grams and paid the whole
    # tokenize+md5 kernel, plus the cache write, inside the Bloom build
    # job). The train stream has exactly one consumer (the Bloom probe →
    # exact semi plan) and flows through it lazily, once, map-side.
    bench_grams = _track_cached(
        docs.where(is_bench)
        .select(F.explode(grams).alias("gram"))
        .select(F.md5("gram").alias("gh"))
        .distinct()
        .persist()
    )
    train_grams = docs.where(~is_bench).select(
        "doc_id", F.explode(grams).alias("gram")
    ).select("doc_id", F.md5("gram").alias("gh"))
    contaminated = (
        bloom_semi_join(train_grams, bench_grams, "gh", "gh")
        .select("doc_id").distinct().withColumn("_c", F.lit(1))
    )
    train_docs = docs.where(~is_bench).select("doc_id", "source")
    return (
        train_docs.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        )
    )


SQL_BENCHMARK_DECONTAMINATION = f"""
WITH {DOCS_WITH_DUPS_CTE},
toks AS (SELECT doc_id, source, {TOKENS_SQL} AS t FROM corpus),
grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(
           range(1, greatest(len(t) - {CONTAM_N - 2}, 1)),
           j -> md5(array_to_string(t[j:j+{CONTAM_N - 1}], ' '))
         )) AS gh
  FROM toks
),
bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0),
contam AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % {DECON_BENCH_MOD} <> 0 AND gh IN (SELECT gh FROM bench)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM corpus d LEFT JOIN contam c USING (doc_id)
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
GROUP BY d.source
"""


REP_N = 3


def q_doc_repetition(spark, sf_dir):
    """Repetition scoring: per document, the share of its most-repeated
    word trigram (boilerplate / template detector). Two aggregations —
    (doc, gram) counts then per-doc max/total — both shuffling on doc_id
    only; the gram strings never leave their partition."""
    docs = _docs(spark, sf_dir)
    grams = _word_grams(T.tokens(F.col("text")), REP_N)
    e = docs.select("doc_id", F.explode(grams).alias("gram"))
    per_gram = e.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_trigrams"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            _flr(F.col("top_cnt") / F.col("n_trigrams").cast("double"), 6).alias("top_share"),
        )
    )


SQL_DOC_REPETITION = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - {REP_N - 2}, 1)),
           j -> array_to_string(t[j:j+{REP_N - 1}], ' ')
         )) AS gram
  FROM toks
),
per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
       FLOOR(CAST((MAX(cnt) / CAST(SUM(cnt) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS top_share
FROM per_gram GROUP BY doc_id
"""


HIST_BUCKET_WIDTH = 25


def q_token_histogram(spark, sf_dir):
    """Token-count distribution: fixed-width histogram per language —
    the shape every corpus-curation dashboard needs. One shuffle on the
    (lang, bucket) pair; bucket arithmetic is integer-exact."""
    docs = _docs(spark, sf_dir)
    n = T.token_count(F.col("text"))
    bucket = (F.floor(n / HIST_BUCKET_WIDTH) * HIST_BUCKET_WIDTH).cast("bigint")
    return (
        docs.select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


SQL_TOKEN_HISTOGRAM = f"""
SELECT lang,
       CAST(FLOOR(len({TOKENS_SQL}) / {HIST_BUCKET_WIDTH}) * {HIST_BUCKET_WIDTH} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# fuzzy matching, gap fill, window battery, unpivot, SCD-2, multimodal
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 2


def q_fuzzy_name_pairs(spark, sf_dir):
    """Entity-resolution fuzzy self-join: distinct part names within
    Levenshtein 2 of each other, via the length-bucket-blocked
    fuzzy_join (operators/joins.py) — full recall, no cross join."""
    from ..operators.joins import fuzzy_join

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        fuzzy_join(a, b, "name_a", "name_b", max_distance=FUZZY_MAX_DIST)
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a", "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("distance"),
        )
    )


SQL_FUZZY_NAME_PAIRS = f"""
WITH n AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
FROM n a JOIN n b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""


def q_events_gap_fill(spark, sf_dir):
    """Time-series gap fill (resample): the (hour × event_type) grid is
    generated from the aggregated bounds (a 1-row agg → sequence →
    explode, never a driver loop), then left-joined against the actual
    hourly aggregate with zero-fill. At scale the spine is thousands of
    rows while events are billions — the join broadcasts the spine."""
    ev = _events(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("event_time"))
    hourly = ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sv"),
    )
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(types)
    return grid.join(hourly, ["hour", "event_type"], "left").select(
        "hour", "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )


SQL_EVENTS_GAP_FILL = """
WITH bounds AS (
  SELECT CAST(MIN(date_trunc('hour', ts)) AS TIMESTAMP) AS lo,
         CAST(MAX(date_trunc('hour', ts)) AS TIMESTAMP) AS hi
  FROM events
),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM events GROUP BY 1, 2
)
SELECT s.hour, t.event_type,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
       COALESCE(h.sv, 0.0) AS sum_value
FROM spine s CROSS JOIN types t
LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
"""


def q_customer_window_battery(spark, sf_dir):
    """Analytic-function battery: ntile / percent_rank / cume_dist /
    rank / dense_rank per market segment by account balance. The order
    key carries the unique c_custkey tie-break so every function is
    deterministic cross-engine."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        _flr(F.percent_rank().over(w), 6).alias("pct_rank"),
        _flr(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("bigint").alias("rk"),
        F.dense_rank().over(w).cast("bigint").alias("drk"),
    )


SQL_CUSTOMER_WINDOW_BATTERY = """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       FLOOR(CAST((percent_rank() OVER w) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pct_rank,
       FLOOR(CAST((cume_dist() OVER w) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cume,
       CAST(rank() OVER w AS BIGINT) AS rk,
       CAST(dense_rank() OVER w AS BIGINT) AS drk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def q_lineitem_unpivot(spark, sf_dir):
    """UNPIVOT (melt): the wide per-flag aggregate goes long —
    (flag, metric, value) — with the built-in unpivot operator (a
    zero-shuffle generate step over the already-aggregated rows)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(_dec2(F.col("l_extendedprice"))).cast("double").alias("sum_price"),
        F.count("*").cast("double").alias("n_items"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_items"], "metric", "value"
    )


SQL_LINEITEM_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_items
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'n_items', n_items FROM wide
"""


def q_scd2_order_history(spark, sf_dir):
    """SCD-2 validity intervals from a versioned changelog: base orders
    (version 0) + the re-priced update batch (version 1, same derivation
    as orders_merge_upsert) become per-key [valid_from, valid_to)
    rows with an is_current flag — operators/merge.py:scd2_history,
    one shuffle on the key."""
    from ..operators.merge import scd2_history

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    upd = orders.where(F.col("o_orderkey") % MERGE_UPD_MOD == 0).withColumn(
        "o_totalprice",
        (_dec2(F.col("o_totalprice")) * _dec2(F.lit(1.10))).cast("double"),
    )
    versions = orders.withColumn("version", F.lit(0)).unionByName(
        upd.withColumn("version", F.lit(1))
    )
    return scd2_history(versions, ["o_orderkey"], "version").select(
        "o_orderkey", "o_totalprice",
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
        "is_current",
    )


SQL_SCD2_ORDER_HISTORY = f"""
WITH upd AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % {MERGE_UPD_MOD} = 0
),
versions AS (
  SELECT o_orderkey, o_totalprice, 0 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice, 1 AS version FROM upd
)
SELECT o_orderkey, o_totalprice,
       CAST(version AS BIGINT) AS valid_from,
       CAST(LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS BIGINT) AS valid_to,
       LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) IS NULL AS is_current
FROM versions
"""


MM_RESIZE_W, MM_RESIZE_H = 8, 8
MM_N_FRAMES = 4


def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing (stubbed codec, but deterministic byte
    striding → exact DuckDB mirror): Arrow-batched mapInPandas resize,
    output projected to a lowercase-hex payload so both engines emit a
    comparable scalar."""
    from ..multimodal.binary_ops import documents_as_media, resize_images

    docs = _docs(spark, sf_dir)
    out = resize_images(documents_as_media(docs), width=MM_RESIZE_W, height=MM_RESIZE_H)
    return out.select(
        "media_id", "width", "height",
        F.lower(F.hex(F.col("resized"))).alias("resized_hex"),
    )


#: mirror of resize_images' stub: raw[::stride][:target] right-padded
#: with zero bytes, stride = max(n // target, 1), target = w*h.
_MM_TARGET = MM_RESIZE_W * MM_RESIZE_H
SQL_MULTIMODAL_RESIZE = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         hex(encode(text)) AS h
  FROM documents
),
r AS (SELECT media_id, n, h, greatest(n // {_MM_TARGET}, 1) AS stride FROM m)
SELECT media_id,
       CAST({MM_RESIZE_W} AS BIGINT) AS width,
       CAST({MM_RESIZE_H} AS BIGINT) AS height,
       lower(array_to_string(list_transform(range(0, {_MM_TARGET}),
         i -> CASE WHEN i * stride < n THEN substr(h, i*stride*2+1, 2)
                   ELSE '00' END), '')) AS resized_hex
FROM r
"""


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plumbing (stubbed codec, deterministic byte
    slicing → exact DuckDB mirror): 1→N mapInPandas fan-out, lowercase
    hex frames out."""
    from ..multimodal.binary_ops import documents_as_media, sample_frames

    docs = _docs(spark, sf_dir)
    out = sample_frames(documents_as_media(docs), n_frames=MM_N_FRAMES)
    return out.select(
        "media_id", "frame_idx", F.lower(F.hex(F.col("frame"))).alias("frame_hex")
    )


#: mirror of sample_frames' stub: frame i = raw[i*step:(i+1)*step] (or a
#: single zero byte when empty), step = max(n // n_frames, 1).
SQL_MULTIMODAL_FRAMES = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         hex(encode(text)) AS h
  FROM documents
),
f AS (
  SELECT media_id, n, h, greatest(n // {MM_N_FRAMES}, 1) AS step,
         unnest(range(0, {MM_N_FRAMES})) AS frame_idx
  FROM m
)
SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       lower(CASE WHEN substr(h, frame_idx*step*2+1, step*2) = '' THEN '00'
                  ELSE substr(h, frame_idx*step*2+1, step*2) END) AS frame_hex
FROM f
"""


#: real-pixel resize fixtures (r13 verdict task 7): RP_N_IMAGES
#: deterministic P6 PPM images whose (y, x, channel) byte is a pure
#: integer formula of the image id, at id-varied source dimensions so
#: the bilinear path exercises several scale ratios. Image ids are the
#: RP_N_IMAGES lowest doc_ids of the documents table (0..15 at every
#: shipped SF; a fixture drift turns the oracle row-count red LOUDLY).
RP_N_IMAGES = 16
RP_OUT_W, RP_OUT_H = 32, 20


def _rp_dims(i: int) -> tuple[int, int]:
    """(source_w, source_h) for image id i — varied up/down ratios."""
    return 24 + (i % 5) * 7, 16 + (i % 3) * 9


def _rp_pixels(i: int):
    import numpy as np

    w, h = _rp_dims(i)
    return np.fromfunction(
        lambda y, x, c: (i * 37 + y * 11 + x * 5 + c * 3) % 256,
        (h, w, 3),
        dtype=np.int64,
    ).astype("uint8")


def q_multimodal_real_resize(spark, sf_dir):
    """REAL decoded pixels end-to-end through the vendored codec — the
    registry's non-stub image path (r13 verdict task 7): deterministic
    P6 PPM payloads are generated per media id inside an Arrow batch
    (one mapInPandas stage, exactly how binary payloads arrive from a
    binaryFile scan), decoded and bilinearly resized by the
    dependency-free numpy codec (multimodal/codecs.py:decode_ppm/
    resize_rgb via resize_images(codec='builtin')), and checksummed
    JVM-side (crc32 + md5 on the raw RGB bytes). The oracle carries
    the expected checksums computed at import through the SAME codec
    functions on the driver — actual output pixels are pinned exactly,
    not just plumbing shapes.

    Scale shape: generation/decode/resize are per-row Arrow-batched
    work with no shuffle; the only shuffle is none at all (checksums
    are row-local). At 100 TB the identical plan reads payloads from a
    binary source instead of generating them."""
    from ..multimodal.binary_ops import resize_images
    from ..multimodal.codecs import encode_ppm

    ids = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"))
        .orderBy("media_id")
        .limit(RP_N_IMAGES)
    )

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "payload": [
                        encode_ppm(_rp_pixels(int(i))) for i in pdf["media_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_gen, "media_id bigint, payload binary")
    out = resize_images(
        media, width=RP_OUT_W, height=RP_OUT_H, codec="builtin"
    )
    return out.select(
        "media_id",
        "width",
        "height",
        F.length("resized").cast("bigint").alias("n_bytes"),
        F.crc32("resized").alias("crc"),
        F.md5("resized").alias("digest"),
    )


def _rp_expected_rows() -> list[tuple[int, int, int, str]]:
    """Driver-side replay of the full real-pixel path (generate →
    decode → bilinear resize → checksum) for the oracle literals; a
    few thousand pixels per image, microseconds at import."""
    import hashlib
    import zlib

    from ..multimodal.codecs import decode_ppm, encode_ppm, resize_rgb

    rows = []
    for i in range(RP_N_IMAGES):
        raw = resize_rgb(
            decode_ppm(encode_ppm(_rp_pixels(i))), RP_OUT_W, RP_OUT_H
        ).tobytes()
        rows.append(
            (i, len(raw), zlib.crc32(raw), hashlib.md5(raw).hexdigest())
        )
    return rows


SQL_MULTIMODAL_REAL_RESIZE = f"""
WITH sel AS (
  SELECT doc_id AS media_id FROM documents ORDER BY doc_id LIMIT {RP_N_IMAGES}
),
lit(media_id, n_bytes, crc, digest) AS (
  VALUES {', '.join(f"({i}, {n}, {c}, '{d}')" for i, n, c, d in _rp_expected_rows())}
)
SELECT sel.media_id,
       CAST({RP_OUT_W} AS BIGINT) AS width,
       CAST({RP_OUT_H} AS BIGINT) AS height,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(crc AS BIGINT) AS crc,
       digest
FROM sel JOIN lit USING (media_id)
"""


#: real-audio fixtures (r14, the audio twin of the real-pixel path):
#: RA_N_AUDIO deterministic 16-bit PCM RIFF/WAV payloads — id-varied
#: length and channel count, every sample a pure integer formula of
#: (id, t, channel) — decoded by the stdlib-wave REAL path and framed
#: by the prefix-sum overlapping-RMS operator.
RA_N_AUDIO = 12
RA_FRAME, RA_HOP = 256, 128
RA_RATE = 8000


def _ra_pcm(i: int):
    import numpy as np

    n = 600 + (i % 4) * 150
    n_ch = 1 + (i % 2)
    t = np.arange(n, dtype=np.int64)[:, None]
    c = np.arange(n_ch, dtype=np.int64)[None, :]
    return (((i * 7 + t * 13 + c * 5) % 4096) - 2048).astype("<i2")


def _ra_wav_bytes(i: int) -> bytes:
    import io
    import wave

    pcm = _ra_pcm(i)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(pcm.shape[1])
        w.setsampwidth(2)
        w.setframerate(RA_RATE)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def q_multimodal_real_audio(spark, sf_dir):
    """REAL decoded audio end-to-end — the registry's non-stub audio
    path (closes the r13 'real decode stays out of the registry' gap
    beside multimodal_real_resize): deterministic 16-bit PCM WAV
    payloads are generated per media id inside an Arrow batch, decoded
    by the stdlib-wave path (multimodal/binary_ops.py:decode_wav), and
    framed into overlapping RMS windows by the vectorized prefix-sum
    operator (wav_frame_rms — the STFT front-end shape on actual
    samples). The oracle carries frame RMS values replayed through the
    SAME decode + prefix-sum code at import: actual decoded samples
    are pinned, not plumbing shapes.

    Scale shape: decode + framing are row-local Arrow-batched work
    (one cumsum per payload, never one slice per frame); no shuffle.
    At 100 TB the identical plan reads payloads from a binary source
    instead of generating them."""
    from ..multimodal.binary_ops import wav_frame_rms

    ids = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"))
        .orderBy("media_id")
        .limit(RA_N_AUDIO)
    )

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "payload": [
                        _ra_wav_bytes(int(i)) for i in pdf["media_id"]
                    ],
                }
            )

    media = ids.mapInPandas(_gen, "media_id bigint, payload binary")
    out = wav_frame_rms(media, frame=RA_FRAME, hop=RA_HOP)
    return out.select(
        "media_id",
        "frame_idx",
        "start_frame",
        _flr(F.col("rms"), 6).alias("rms"),
    )


def _ra_expected_rows() -> list[tuple[int, int, int, float]]:
    """Driver-side replay of decode + prefix-sum framing for the oracle
    literals — the identical numpy arithmetic wav_frame_rms runs in its
    Arrow batches (bit-identical doubles, then the shared half-up
    lattice round)."""
    import numpy as np

    from ..multimodal.binary_ops import decode_wav

    rows = []
    for i in range(RA_N_AUDIO):
        _sr, _n_ch, pcm = decode_wav(_ra_wav_bytes(i))
        mono = pcm.astype(np.float64).mean(axis=1)
        n = mono.size
        n_f = max((max(n - RA_FRAME, 0) + RA_HOP - 1) // RA_HOP, 0) + 1
        sq = np.concatenate((np.zeros(1), np.cumsum(mono * mono)))
        s = np.arange(n_f, dtype=np.int64) * RA_HOP
        if s[-1] >= n:
            s = s[s < n]
            n_f = int(s.size)
        e = np.minimum(s + RA_FRAME, n)
        counts = np.maximum(e - s, 1)
        vals = np.sqrt((sq[e] - sq[np.minimum(s, n)]) / counts)
        for k in range(n_f):
            rows.append((i, k, int(s[k]), _flr_py(float(vals[k]), 6)))
    return rows


SQL_MULTIMODAL_REAL_AUDIO = f"""
WITH sel AS (
  SELECT doc_id AS media_id FROM documents ORDER BY doc_id LIMIT {RA_N_AUDIO}
),
lit(media_id, frame_idx, start_frame, rms) AS (
  VALUES {', '.join(f"({i}, {k}, {s}, {v!r})" for i, k, s, v in _ra_expected_rows())}
)
SELECT sel.media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(start_frame AS BIGINT) AS start_frame,
       CAST(rms AS DOUBLE) AS rms
FROM sel JOIN lit USING (media_id)
"""


# ---------------------------------------------------------------------------
# corpus curation II: centroids, chunk dedup, masking, profiling, gates
# ---------------------------------------------------------------------------

#: fixed-point quantization scale for cross-engine float aggregation:
#: FLOOR(CAST(x AS DOUBLE) * SCALE) is the identical IEEE op in Spark and
#: DuckDB, and the resulting bigints sum exactly in any order — the only
#: fully order-independent way to aggregate floats across a shuffle.
EMB_Q_SCALE = 1_000_000
VAL_Q_SCALE = 1_000


def _emb_qstats(spark, sf_dir) -> tuple[int, int, int]:
    """One bounded pre-pass over the element explode of ``embeddings``:
    (vector count, max |quantized element|, max array length). These
    are the scalars :func:`operators.scaling.exact_group_sums` needs to
    size its overflow-safe salt fan-out for the embedding-stats family
    — the sizing is derived from MEASURED term magnitudes, not an
    assumed value range, so the bigint budget holds for any corpus.
    The vector count upper-bounds EVERY key group the family
    aggregates (per-dim rows and per-(i,j)-cell rows are both one per
    vector). One column-pruned scan + a 3-scalar reduce (vectors are
    counted as dim==0 rows, so no second job), built once per
    embeddings corpus as a JSON artifact."""

    def compute():
        emb = _emb(spark, sf_dir)
        ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
        q = F.floor(F.col("x").cast("double") * EMB_Q_SCALE).cast("bigint")
        r = ex.agg(
            F.sum((F.col("dim") == 0).cast("bigint")).alias("nv"),
            F.max(F.abs(q)).alias("qmax"),
            F.max("dim").alias("dmax"),
        ).head()
        return [
            int(r["nv"] or 0),
            max(int(r["qmax"] or 1), 1),
            int(r["dmax"] or 0) + 1,
        ]

    nv, qmax, d = _json_artifact(sf_dir, "emb_qstats", ["embeddings"], compute)
    return nv, qmax, d


def q_embedding_centroids(spark, sf_dir):
    """Per-label centroid of the embedding corpus, dimension-wise — the
    class-prototype aggregate ANN/IVF training starts from. posexplode
    turns (label, vec[64]) into 64 (label, dim, x) rows; ONE shuffle on
    the (label, dim) composite — never a collect, never a driver-side
    vector sum. Elements are fixed-point-quantized so the distributed
    sum is order-exact (see EMB_Q_SCALE)."""
    emb = _emb(spark, sf_dir)
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    q = F.floor(F.col("x").cast("double") * EMB_Q_SCALE).cast("bigint")
    return (
        ex.select("label", F.col("dim").cast("bigint").alias("dim"), q.alias("q"))
        .groupBy("label", "dim")
        .agg(
            (F.sum("q").cast("double") / F.lit(float(EMB_Q_SCALE)) / F.count("*")
             ).alias("centroid"),
            F.count("*").cast("bigint").alias("n_vecs"),
        )
    )


SQL_EMBEDDING_CENTROIDS = f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT label, CAST(dim AS BIGINT) AS dim,
       CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT)) AS DOUBLE)
         / {EMB_Q_SCALE}.0 / COUNT(*) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM ex GROUP BY 1, 2
"""


CHUNK_TOKENS = 16


def q_chunk_dedup(spark, sf_dir):
    """Sub-document (chunk-level) dedup census: split every document
    into fixed 16-token chunks, hash each, count how many documents
    share each chunk, report the sharing histogram. The cross-corpus
    unit of work is the (chunk-hash, doc_id) pair — one shuffle, keys
    uniformly spread by md5. This is the paragraph-dedup shape
    (boilerplate detection) that document-level fingerprints miss."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_TOKENS))).cast("int")
    chunks = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)
            ),
        )
    )
    ex = docs.select("doc_id", F.explode(chunks).alias("chunk"))
    per_chunk = ex.groupBy(F.md5("chunk").alias("h")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        per_chunk.groupBy("n_docs")
        .agg(F.count("*").cast("bigint").alias("n_chunks"))
        .select(F.col("n_docs").cast("bigint").alias("n_docs"), "n_chunks")
    )


SQL_CHUNK_DEDUP = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(CEIL(len(t) / {CHUNK_TOKENS}.0) AS INT)),
                i -> array_to_string(t[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}], ' '))) AS chunk
  FROM toks
),
per_chunk AS (
  SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1
)
SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_chunks
FROM per_chunk GROUP BY 1
"""


MASK_TERMS = ("key", "join", "merge")


def q_term_masking(spark, sf_dir):
    """Redaction/term-masking audit (the PII-scrub shape): count tokens
    matching a deny-list per document, aggregate per source. The scrub
    itself is a pure JVM array filter — no UDF, no regex backtracking —
    so it rides inside codegen at full scan speed."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    terms = F.array(*[F.lit(t) for t in MASK_TERMS])
    n_masked = F.size(F.filter(toks, lambda t: F.array_contains(terms, t))).cast("bigint")
    d = docs.select(
        "source",
        n_masked.alias("n_masked"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_masked") > 0, 1).otherwise(0)).cast("bigint").alias("docs_affected"),
        F.sum("n_masked").cast("bigint").alias("masked_tokens"),
        (F.sum("n_masked").cast("double") / F.sum("n_tokens")).alias("masked_ratio"),
    )


_MASK_IN = ", ".join(f"'{t}'" for t in MASK_TERMS)
SQL_TERM_MASKING = f"""
WITH d AS (
  SELECT source,
         CAST(len(list_filter({TOKENS_SQL}, x -> x IN ({_MASK_IN}))) AS BIGINT) AS n_masked,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_masked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
       CAST(SUM(n_masked) AS BIGINT) AS masked_tokens,
       CAST(SUM(n_masked) AS DOUBLE) / SUM(n_tokens) AS masked_ratio
FROM d GROUP BY source
"""


PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_data_profile(spark, sf_dir):
    """Column-profiling operator (the data-quality sweep every ingest
    runs): count/nulls/exact-distinct/min/max/sum per measure column in
    ONE aggregate pass over the fact table, pivoted long. Distinct
    counts share the scan via Spark's Expand; the unpivot is a
    zero-shuffle generate over the 1-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.min(col).alias(f"{c}__min"),
            F.max(col).alias(f"{c}__max"),
            F.sum(col.cast("decimal(18,2)")).alias(f"{c}__sum"),
        ]
    wide = li.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__min").cast("double").alias("min_val"),
                F.col(f"{c}__max").cast("double").alias("max_val"),
                F.col(f"{c}__sum").cast("double").alias("sum_val"),
            )
            for c in PROFILE_COLS
        ]
    )
    metrics = wide.select(F.explode(structs).alias("p")).select("p.*")
    # exact distinct counts via ONE union-distinct pass over (col, value)
    # pairs — each branch is a single-column pruned scan, and the
    # distinct shuffles narrow 2-field rows, instead of an Expand that
    # multiplies every metric column by the number of distinct aggs
    pairs = None
    for c in PROFILE_COLS:
        p = li.select(F.lit(c).alias("col_name"), F.col(c).cast("double").alias("v"))
        pairs = p if pairs is None else pairs.unionByName(p)
    dist = (
        pairs.distinct()
        .groupBy("col_name")
        .agg(F.count("v").cast("bigint").alias("n_distinct"))
    )
    return metrics.join(dist, "col_name").select(
        "col_name", "n_rows", "n_nulls", "n_distinct",
        "min_val", "max_val", "sum_val",
    )


SQL_DATA_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_val,
       CAST(MAX({c}) AS DOUBLE) AS max_val,
       CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
FROM lineitem"""
    for c in PROFILE_COLS
)


HH_SALTS = 16


def q_heavy_hitters_salted(spark, sf_dir):
    """Per-event-type heavy-hitter stats with BOTH skew guards: counts
    and value sums via the salted two-phase aggregate
    (operators/scaling.py:salted_aggregate — hot keys fan across 16
    reducers), exact distinct users via two-phase distinct (dedup
    shuffles on the naturally-spread composite key, the count merge is
    tiny). Row-identical to the naive GROUP BY; only the shuffle
    distribution differs."""
    from ..operators.scaling import salted_aggregate

    ev = _events(spark, sf_dir)
    counts = salted_aggregate(
        ev,
        ["event_type"],
        {"sum_value": F.sum(F.col("value").cast("decimal(18,6)"))},
        n_salts=HH_SALTS,
    ).select(
        "event_type",
        F.col("n_rows").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )
    users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    return counts.join(users, "event_type")


SQL_HEAVY_HITTERS_SALTED = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


Z_THRESH = 3.0


def q_user_zscore_outliers(spark, sf_dir):
    """Per-user anomaly detection: events whose value is >3σ from that
    user's own mean. Moments (n, Σq, Σq²) come from ONE groupBy over
    fixed-point-quantized values — exact integer sums, order-free —
    then join back to the events (both sides shuffle on user_id once).
    No window over the raw stream, so per-user event lists never
    materialize in memory."""
    ev = _events(spark, sf_dir)
    q = F.floor(F.col("value") * VAL_Q_SCALE).cast("bigint")
    e = ev.select("event_id", "user_id", q.alias("q"))
    stats = (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("q").alias("sq"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("sqq"),
        )
        .where(F.col("n") >= 2)
    )
    j = e.join(stats, "user_id")
    scale = F.lit(float(VAL_Q_SCALE))
    mean = F.col("sq").cast("double") / scale / F.col("n")
    msq = F.col("sqq").cast("double") / (scale * scale) / F.col("n")
    var = F.greatest((msq - mean * mean) * F.col("n") / (F.col("n") - 1), F.lit(0.0))
    x = F.col("q").cast("double") / scale
    z = (x - mean) / F.nullif(F.sqrt(var), F.lit(0.0))
    out = j.select("user_id", "event_id", _flr(z, 4).alias("z"))
    return out.where(F.abs(F.col("z")) > Z_THRESH)


SQL_USER_ZSCORE_OUTLIERS = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(FLOOR(value * {VAL_Q_SCALE}) AS BIGINT) AS q
  FROM events
),
s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, SUM(q) AS sq,
         SUM(CAST(q * q AS DECIMAL(38,0))) AS sqq
  FROM e GROUP BY 1 HAVING COUNT(*) >= 2
),
z AS (
  SELECT user_id, event_id,
         FLOOR(CAST(((CAST(q AS DOUBLE) / {VAL_Q_SCALE}.0
                - CAST(sq AS DOUBLE) / {VAL_Q_SCALE}.0 / n)
               / NULLIF(SQRT(GREATEST(
                   (CAST(sqq AS DOUBLE) / ({VAL_Q_SCALE}.0 * {VAL_Q_SCALE}.0) / n
                    - (CAST(sq AS DOUBLE) / {VAL_Q_SCALE}.0 / n)
                      * (CAST(sq AS DOUBLE) / {VAL_Q_SCALE}.0 / n)) * n / (n - 1),
                   0.0)), 0.0)) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS z
  FROM e JOIN s USING (user_id)
)
SELECT user_id, event_id, z FROM z WHERE ABS(z) > {Z_THRESH}
"""


def q_value_regression(spark, sf_dir):
    """Closed-form least-squares slope/intercept of event value on
    hour-of-day, per event type — the trend-fit aggregate. The five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are exact integer
    sums over quantized values; the solve is two double divisions at
    the end. This is how regression scales: never an iterative fit
    over the raw rows. The sums route through exact_group_sums
    (runtime-sized two-phase: bigint inner sums on provably bounded
    buckets, decimal merge) so Σxy — terms up to 23·max|y·1000| —
    has NO 2^63 ceiling; sizing comes from a one-job pre-pass
    (count + max|y|)."""
    from ..operators.scaling import exact_group_sums

    ev = _events(spark, sf_dir)
    x = F.expr(f"(tsn div {US_PER_HOUR}) % 24")
    y = F.floor(F.col("value") * VAL_Q_SCALE).cast("bigint")
    e = ev.select("event_type", x.alias("x"), y.alias("y"))
    pre = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max(F.abs(F.col("y"))).alias("ymax"),
    ).head()
    n_all = int(pre["n"] or 0)
    ymax = max(int(pre["ymax"] or 1), 1, 23)
    s = exact_group_sums(
        e,
        keys=["event_type"],
        terms={
            "sx": F.col("x"),
            "sy": F.col("y"),
            "sxy": F.col("x") * F.col("y"),
            "sxx": F.col("x") * F.col("x"),
        },
        n_rows=n_all,
        max_abs_term=23 * ymax,
    ).withColumnRenamed("n_rows", "n")
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    num = nd * sxyd - sxd * syd
    den = nd * sxxd - sxd * sxd
    slope = num / den / VAL_Q_SCALE
    intercept = (syd / VAL_Q_SCALE - slope * sxd) / nd
    return s.select(
        "event_type",
        _flr(slope, 6).alias("slope"),
        _flr(intercept, 6).alias("intercept"),
        F.col("n").alias("n_events"),
    )


SQL_VALUE_REGRESSION = f"""
WITH e AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
         CAST(FLOOR(value * {VAL_Q_SCALE}) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM e GROUP BY 1
)
SELECT event_type,
       FLOOR(CAST(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / {VAL_Q_SCALE}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS slope,
       FLOOR(CAST(((CAST(sy AS DOUBLE) / {VAL_Q_SCALE}
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / {VAL_Q_SCALE} * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept,
       n AS n_events
FROM s
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming dedup (AvailableNow): the events stream unioned with
    itself — every event arrives twice — then watermarked
    dropDuplicates on event_id (streaming/events.py:dedup_events) and a
    per-type rollup. Must equal the batch aggregate over the ORIGINAL
    events, which is the oracle: the dedup provably removed the
    duplicate arrivals."""
    from ..streaming.events import dedup_events, read_events_stream, run_available_now

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    deduped = dedup_events(doubled)
    agg = deduped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return run_available_now(agg, spark, state_partitions=STREAM_STATE_SHARDS)


SQL_STREAMING_DEDUP = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


GATE_LANGS = ("en", "de", "fr", "es")
GATE_MIN_TOKENS, GATE_MAX_TOKENS = 20, 80
GATE_MIN_QUALITY = 0.5


def q_quality_gate_funnel(spark, sf_dir):
    """Curation-funnel audit: per source, how many documents survive
    each gate (language allow-list, token-length band, quality floor)
    and all three — conditional aggregation in ONE pass, the shape used
    to tune corpus filters before committing to a full re-run."""
    docs = _docs(spark, sf_dir)
    n_tok = T.token_count(F.col("text"))
    qual = T.quality_score(F.col("text"))
    pass_lang = F.col("lang").isin(*GATE_LANGS)
    pass_len = (n_tok >= GATE_MIN_TOKENS) & (n_tok <= GATE_MAX_TOKENS)
    pass_q = qual >= GATE_MIN_QUALITY
    return docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(pass_lang.cast("int")).cast("bigint").alias("n_pass_lang"),
        F.sum(pass_len.cast("int")).cast("bigint").alias("n_pass_len"),
        F.sum(pass_q.cast("int")).cast("bigint").alias("n_pass_quality"),
        F.sum((pass_lang & pass_len & pass_q).cast("int")).cast("bigint").alias("n_final"),
    )


_GATE_LANG_IN = ", ".join(f"'{lang}'" for lang in GATE_LANGS)
SQL_QUALITY_GATE_FUNNEL = f"""
WITH d AS (
  SELECT source,
         (lang IN ({_GATE_LANG_IN})) AS pass_lang,
         (CAST(len({TOKENS_SQL}) AS BIGINT) BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}) AS pass_len,
         (({_QUALITY_SQL}) >= {GATE_MIN_QUALITY}) AS pass_q
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_lang,
       CAST(SUM(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
       CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
       CAST(SUM(CASE WHEN pass_lang AND pass_len AND pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_final
FROM d GROUP BY source
"""


# ---------------------------------------------------------------------------
# runtime filters, incremental maintenance, agg/join semantics batteries
# ---------------------------------------------------------------------------

BLOOM_PRIORITY = "1-URGENT"


def q_bloom_pruned_revenue(spark, sf_dir):
    """Revenue per return flag for lineitems of urgent orders, with the
    fact side pruned through the hand-built Bloom runtime filter
    (operators/joins.py:bloom_semi_join) before the join shuffle. The
    oracle is the plain semi join — identical rows prove the Bloom
    introduced no loss and the exact finish removed all false
    positives."""
    from ..operators.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == BLOOM_PRIORITY
    )
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    pruned = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"),
    )


SQL_BLOOM_PRUNED_REVENUE = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '{BLOOM_PRIORITY}')
GROUP BY l_returnflag
"""


INCR_SPLIT_DAY_MOD = 3  # delta = days where unix_day % 3 == 0 (interleaved "new" days)


def q_incremental_rollup(spark, sf_dir):
    """Incremental aggregate maintenance: the daily rollup is kept as
    snapshot + delta — the snapshot partials (old days) and the delta
    partials (newly-arrived days) merge by re-summing SUM/COUNT partials,
    never rescanning the snapshot's raw rows. At 100 TB this is the
    difference between touching one day and touching three years. The
    oracle recomputes from scratch; equality proves the maintenance
    identity."""
    ev = _events(spark, sf_dir)
    ev = ev.withColumn("_day", F.expr(f"tsn div {US_PER_DAY}"))
    is_delta = F.col("_day") % INCR_SPLIT_DAY_MOD == 0
    def rollup(part):
        return part.groupBy("_day", "event_type").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    snapshot = rollup(ev.where(~is_delta))
    delta = rollup(ev.where(is_delta))
    merged = snapshot.unionByName(delta).groupBy("_day", "event_type").agg(
        F.sum("pn").cast("bigint").alias("n_events"),
        F.sum("pv").cast("double").alias("sum_value"),
    )
    return merged.select(
        F.date_format(
            F.date_from_unix_date(F.col("_day").cast("int")), "yyyy-MM-dd"
        ).alias("day"),
        "event_type", "n_events", "sum_value",
    )


SQL_INCREMENTAL_ROLLUP = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_dedup_keep_canonical(spark, sf_dir):
    """The actionable output of exact dedup: per source, how many docs
    are kept vs dropped when each fingerprint group keeps its minimum
    doc_id (the canonical-selection convention). groupBy + join back —
    two shuffles on uniformly-spread md5 keys, no per-group window over
    raw text."""
    docs = _docs_with_dups(spark, sf_dir)
    d = docs.select("doc_id", "source", T.fingerprint(F.col("text")).alias("fp"))
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        d.join(keep, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("doc_id") == F.col("keep_id")).cast("int")).cast("bigint").alias("n_kept"),
            F.sum((F.col("doc_id") != F.col("keep_id")).cast("int")).cast("bigint").alias("n_dropped"),
        )
    )


SQL_DEDUP_KEEP_CANONICAL = f"""
WITH {DOCS_WITH_DUPS_CTE},
d AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM corpus
),
keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY fp)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM d JOIN keep USING (fp)
GROUP BY source
"""


def q_latest_event_per_user(spark, sf_dir):
    """Sort-free top-1-per-group: the latest event per user via
    MAX(struct(ts, event_id, ...)) — ONE hash aggregate with map-side
    combine, no per-user window sort, no shuffle beyond the agg. The
    struct's (ts, event_id) prefix is unique so the lexicographic max is
    deterministic; the oracle pins the same answer with a row_number
    window."""
    ev = _events(spark, sf_dir)
    m = F.max(F.struct("tsn", "event_id", "event_type")).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(m, F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_event_type"),
            "n_events",
        )
    )


SQL_LATEST_EVENT_PER_USER = """
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       CAST(n_events AS BIGINT) AS n_events
FROM ranked WHERE rn = 1
"""


NULLJOIN_MOD = 10


def q_join_null_semantics(spark, sf_dir):
    """Join-semantics battery over keys WITH nulls: inner equality
    (nulls never match), null-safe equality (<=> / IS NOT DISTINCT
    FROM: nulls match nulls), left-outer, left-anti (null-key rows ARE
    kept: the probe can't prove membership), and full-outer row counts
    — the five behaviors that silently diverge between engines, pinned
    cross-engine in one long result."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    a = orders.select(
        F.when(F.col("o_orderkey") % NULLJOIN_MOD == 0, None)
        .otherwise(F.col("o_custkey")).alias("k")
    )
    b = cust.select(
        F.when(F.col("c_custkey") % NULLJOIN_MOD == 0, None)
        .otherwise(F.col("c_custkey")).alias("k2")
    ).distinct()
    def n(label, joined):
        return joined.agg(
            F.lit(label).alias("join_type"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    out = n("inner_eq", a.join(b, a.k == b.k2, "inner"))
    for label, joined in [
        ("inner_nullsafe", a.join(b, a.k.eqNullSafe(b.k2), "inner")),
        ("left_outer", a.join(b, a.k == b.k2, "left")),
        ("left_anti", a.join(b, a.k == b.k2, "left_anti")),
        ("full_outer", a.join(b, a.k == b.k2, "full")),
    ]:
        out = out.unionByName(n(label, joined))
    return out


SQL_JOIN_NULL_SEMANTICS = f"""
WITH a AS (
  SELECT CASE WHEN o_orderkey % {NULLJOIN_MOD} = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders
),
b AS (
  SELECT DISTINCT CASE WHEN c_custkey % {NULLJOIN_MOD} = 0 THEN NULL ELSE c_custkey END AS k2
  FROM customer
)
SELECT 'inner_eq' AS join_type, CAST(COUNT(*) AS BIGINT) AS n_rows FROM a JOIN b ON a.k = b.k2
UNION ALL
SELECT 'inner_nullsafe', CAST(COUNT(*) AS BIGINT) FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
UNION ALL
SELECT 'left_outer', CAST(COUNT(*) AS BIGINT) FROM a LEFT JOIN b ON a.k = b.k2
UNION ALL
SELECT 'left_anti', CAST(COUNT(*) AS BIGINT) FROM a ANTI JOIN b ON a.k = b.k2
UNION ALL
SELECT 'full_outer', CAST(COUNT(*) AS BIGINT) FROM a FULL JOIN b ON a.k = b.k2
"""


TRIM_LO, TRIM_HI = 0.1, 0.9


def q_trimmed_mean_per_segment(spark, sf_dir):
    """Robust aggregation: 10%-trimmed mean of account balance per
    market segment. percent_rank over the (balance, custkey) unique
    order — partitioned window, parallel across segments — then a
    decimal-exact mean of the kept middle band."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = cust.select(
        "c_mktsegment", "c_acctbal", F.percent_rank().over(w).alias("pr")
    )
    kept = ranked.where((F.col("pr") >= TRIM_LO) & (F.col("pr") <= TRIM_HI))
    return kept.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        (F.sum(_dec2(F.col("c_acctbal"))).cast("double") / F.count("*")
         ).alias("trimmed_mean_bal"),
    )


SQL_TRIMMED_MEAN_PER_SEGMENT = f"""
WITH ranked AS (
  SELECT c_mktsegment, c_acctbal,
         percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS pr
  FROM customer
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS trimmed_mean_bal
FROM ranked
WHERE pr >= {TRIM_LO} AND pr <= {TRIM_HI}
GROUP BY c_mktsegment
"""


ATTR_HORIZON_US = 3_600_000_000  # 1 hour in microseconds


def q_streaming_attribution(spark, sf_dir):
    """Stream-stream join (AvailableNow): click→purchase attribution
    pairs within a 1-hour horizon, both sides watermarked so join state
    stays bounded (streaming/events.py:stream_stream_attribution). The
    oracle replays the same correlation as a batch self-join at
    microsecond precision (the stream's event-time granularity)."""
    from ..streaming.events import (
        read_events_stream,
        run_available_now_append,
        stream_stream_attribution,
    )

    s = read_events_stream(spark, sf_dir)
    clicks = s.where(F.col("event_type") == "click")
    purchases = s.where(F.col("event_type") == "purchase")
    return run_available_now_append(
        stream_stream_attribution(clicks, purchases), spark,
        # join-specific shard sizing (r15): a stream-stream join opens
        # 4 state stores per shard per batch — see _stream_join_shards
        state_partitions=_stream_join_shards(sf_dir),
    )


SQL_STREAMING_ATTRIBUTION = f"""
WITH c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS ct
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, click_id, purchase_id
FROM c JOIN p ON c.user_id = p.user_id
WHERE pt >= ct AND pt <= ct + {ATTR_HORIZON_US}
"""


def q_streaming_sessionization(spark, sf_dir):
    """The CUSTOM STATEFUL streaming operator as a fully oracle-checked
    query: gap sessionization per user via ``applyInPandasWithState``
    (streaming/events.py:sessionize_stateful — GroupState, bounded to
    one open session per user). The stateful path only emits CLOSED
    sessions, so the replay input is the normalized event stream plus
    one 'flush' tombstone per user past the 30-min gap horizon: the
    operator's flush_type drain closes every open session through the
    gap logic itself and empties the state store — deterministic,
    independent of micro-batching, and the AvailableNow drain
    terminates without waiting on processing-time timers. The emitted
    set equals batch gap-sessionization exactly, which is the DuckDB
    oracle. The stream input is a build-once artifact. The drain
    runner stops the query once progress covers the bounded input —
    applyInPandasWithState never self-terminates under AvailableNow on
    this Spark line (see run_stateful_drained)."""
    from ..streaming.events import (
        EVENTS_STREAM_SCHEMA,
        run_stateful_drained,
        sessionize_stateful,
    )

    ev = _events(spark, sf_dir)

    def build(stage):
        mx = int(ev.agg(F.max("tsn")).head()[0])
        base = ev.select(
            "event_id", "user_id", "event_type", "value", "props", "tsn"
        )
        flush = (
            ev.select("user_id").distinct()
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                "user_id",
                F.lit("flush").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
                F.lit(mx + SESSION_GAP_US + 1_000_000).cast("long").alias("tsn"),
            )
        )
        base.unionByName(flush).write.mode("overwrite").parquet(stage)

    art = build_once(sf_dir, "sess_stream", ["events"], build)
    n_input = spark.read.parquet(art).count()
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(art)
    sessions = run_stateful_drained(
        sessionize_stateful(stream, flush_type="flush"),
        spark,
        expected_input_rows=n_input,
        state_partitions=STREAM_STATE_SHARDS,
    )
    return sessions.select(
        "user_id",
        F.col("session_start_us").cast("bigint").alias("session_start_us"),
        F.col("session_end_us").cast("bigint").alias("session_end_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


SQL_STREAMING_SESSIONIZATION = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events
),
flagged AS (
  SELECT user_id, tsn, event_id,
         CASE WHEN lag(tsn) OVER w IS NULL
                   OR tsn - lag(tsn) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
),
sess AS (
  SELECT user_id, tsn,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       CAST(MIN(tsn) AS BIGINT) AS session_start_us,
       CAST(MAX(tsn) AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sess_id
"""


# ---------------------------------------------------------------------------
# cross-engine semantics batteries: the SQL corners that silently diverge
# ---------------------------------------------------------------------------


def q_bool_agg_battery(spark, sf_dir):
    """Boolean aggregate battery: bool_and / bool_or / count_if per
    order status — the every/any/conditional-count trio, pinned
    cross-engine."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_custkey") % 2 == 0).cast("bigint").alias("n_even_cust"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


SQL_BOOL_AGG_BATTERY = """
SELECT o_orderstatus,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       CAST(count_if(o_custkey % 2 = 0) AS BIGINT) AS n_even_cust,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def q_string_agg_battery(spark, sf_dir):
    """Ordered string aggregation (listagg): nations per region as a
    sorted CSV — collect_list is non-deterministic across partitions,
    so the battery pins the ONLY portable form: sort-then-join."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
            F.count("*").cast("bigint").alias("n_nations"),
        )
    )


SQL_STRING_AGG_BATTERY = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_regex_battery(spark, sf_dir):
    """Regex battery over the portable Java∩RE2 subset (char classes,
    anchors, alternation — no lookarounds): rlike filter-count, group
    extraction, global replace. DuckDB's regexp_replace needs the 'g'
    flag to match Spark's replace-all default — exactly the kind of
    silent divergence this battery pins."""
    part = _t(spark, sf_dir, "part")
    first_tok = F.regexp_extract(F.col("p_name"), r"^([a-z]+)", 1)
    brand_digits = F.length(F.regexp_replace(F.col("p_brand"), r"[^0-9]", ""))
    return part.groupBy("p_brand").agg(
        F.count_if(F.col("p_name").rlike(r"^[aeiou]")).cast("bigint").alias("n_vowel_start"),
        F.countDistinct(first_tok).cast("bigint").alias("n_first_tokens"),
        F.sum(brand_digits).cast("bigint").alias("sum_brand_digits"),
        F.count_if(F.col("p_type").rlike(r"(BRASS|STEEL)$")).cast("bigint").alias("n_metal_type"),
    )


SQL_REGEX_BATTERY = """
SELECT p_brand,
       CAST(count_if(regexp_matches(p_name, '^[aeiou]')) AS BIGINT) AS n_vowel_start,
       CAST(COUNT(DISTINCT regexp_extract(p_name, '^([a-z]+)', 1)) AS BIGINT) AS n_first_tokens,
       CAST(SUM(length(regexp_replace(p_brand, '[^0-9]', '', 'g'))) AS BIGINT) AS sum_brand_digits,
       CAST(count_if(regexp_matches(p_type, '(BRASS|STEEL)$')) AS BIGINT) AS n_metal_type
FROM part GROUP BY p_brand
"""


DATE_ANCHOR = "1995-01-01"


def q_datetime_battery(spark, sf_dir):
    """Date/time battery: year/quarter buckets, ISO day-of-week (the
    classic off-by-one between engines: Spark dayofweek is 1=Sunday,
    DuckDB dayofweek is 0=Sunday — only isodow/weekday+1 is portable),
    month arithmetic (add_months), end-of-month, and day diffs from a
    fixed anchor."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    isodow = F.weekday(d) + 1  # Mon=1 .. Sun=7
    return orders.groupBy(
        F.year(d).alias("yr"), F.quarter(d).alias("qtr")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.countDistinct(F.date_trunc("month", d)).cast("bigint").alias("n_months"),
        F.min(isodow).cast("bigint").alias("min_isodow"),
        F.max(isodow).cast("bigint").alias("max_isodow"),
        F.max(F.dayofmonth(F.last_day(d))).cast("bigint").alias("max_eom_day"),
        F.min(F.datediff(d, F.lit(DATE_ANCHOR).cast("date"))).cast("bigint").alias("min_days_from_anchor"),
        F.countDistinct(F.date_format(F.add_months(d, 6), "yyyy-MM")).cast("bigint").alias("n_shifted_months"),
    )


SQL_DATETIME_BATTERY = f"""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT) AS n_months,
       CAST(MIN(isodow(o_orderdate)) AS BIGINT) AS min_isodow,
       CAST(MAX(isodow(o_orderdate)) AS BIGINT) AS max_isodow,
       CAST(MAX(day(last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS max_eom_day,
       CAST(MIN(datediff('day', DATE '{DATE_ANCHOR}', CAST(o_orderdate AS DATE))) AS BIGINT) AS min_days_from_anchor,
       CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS DATE) + INTERVAL 6 MONTH, '%Y-%m')) AS BIGINT) AS n_shifted_months
FROM orders GROUP BY 1, 2
"""


NULLBAT_MOD = 7


def q_conditional_null_battery(spark, sf_dir):
    """NULL-handling battery: nullif / coalesce / least / greatest /
    null-aware counts over a column with synthesized nulls. Pins that
    least/greatest SKIP nulls in both engines (returning null only when
    all inputs are null) and that COUNT(col) vs COUNT(*) differ exactly
    by the null count."""
    cust = _t(spark, sf_dir, "customer")
    k = F.nullif(F.col("c_custkey") % NULLBAT_MOD, F.lit(0))
    return cust.select("c_mktsegment", k.alias("k"), "c_acctbal").groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("k").cast("bigint").alias("n_nonnull"),
        F.sum(F.coalesce(F.col("k"), F.lit(-1))).cast("bigint").alias("sum_coalesced"),
        F.sum(F.least(F.col("k"), F.lit(3))).cast("bigint").alias("sum_least"),
        F.sum(F.greatest(F.col("k"), F.lit(3))).cast("bigint").alias("sum_greatest"),
    )


SQL_CONDITIONAL_NULL_BATTERY = f"""
WITH d AS (
  SELECT c_mktsegment, NULLIF(c_custkey % {NULLBAT_MOD}, 0) AS k FROM customer
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(k) AS BIGINT) AS n_nonnull,
       CAST(SUM(COALESCE(k, -1)) AS BIGINT) AS sum_coalesced,
       CAST(SUM(LEAST(k, 3)) AS BIGINT) AS sum_least,
       CAST(SUM(GREATEST(k, 3)) AS BIGINT) AS sum_greatest
FROM d GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# fragmentation lifecycle: rebalance + skew audit
# ---------------------------------------------------------------------------

REBALANCE_N = 8


def q_frag_rebalance(spark, sf_dir):
    """Fragmentation lifecycle: re-partition the 5-fragment range scheme
    to 8 fragments and report the movement matrix (old → new → rows).
    Old = the stored range fragment, new = the fixed-domain bucket at 8
    — narrow, ONE shuffle for the matrix aggregate; no data is
    rewritten to compute the plan, which is exactly how a rebalance
    should be costed before committing to it."""
    r = _frag_scheme(spark, sf_dir, "range")
    return (
        r.withColumnRenamed("fragment_id", "old_fragment")
        .withColumn(
            "new_fragment",
            range_fragment_expr(F.col("rating"), REBALANCE_N, RANGE_MIN, RANGE_MAX),
        )
        .groupBy("old_fragment", "new_fragment")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


SQL_FRAG_REBALANCE = f"""
WITH {RATINGS_CTE}
SELECT {_bucket_sql("rating")} AS old_fragment,
       {_bucket_sql("rating", REBALANCE_N)} AS new_fragment,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM ratings GROUP BY 1, 2
"""


def q_frag_skew_report(spark, sf_dir):
    """Fragmentation quality audit: per-fragment row count, key range
    actually observed, and the fragment's share of the table — the
    skew report that decides whether a range scheme needs rebalancing.
    One aggregate + a broadcast 1-row total."""
    r = _frag_scheme(spark, sf_dir, "range")
    per = r.groupBy("fragment_id").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("rating").alias("min_rating"),
        F.max("rating").alias("max_rating"),
    )
    total = r.agg(F.count("*").cast("bigint").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "fragment_id", "cnt", "min_rating", "max_rating",
        _flr(F.col("cnt") / F.col("total"), 6).alias("share"),
    )


SQL_FRAG_SKEW_REPORT = f"""
WITH {RATINGS_CTE},
assigned AS (SELECT rating, {_bucket_sql("rating")} AS fragment_id FROM ratings),
per AS (
  SELECT fragment_id, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(rating) AS min_rating, MAX(rating) AS max_rating
  FROM assigned GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM assigned)
SELECT fragment_id, cnt, min_rating, max_rating,
       FLOOR(CAST((cnt / CAST(total AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share
FROM per, tot
"""


INSERT_ROUTE_USERID = 900_000_001
INSERT_ROUTE_MOVIEID = 77
INSERT_ROUTE_RATING = 3.0


def q_frag_insert_routing(spark, sf_dir):
    """Routed inserts, §2.1 ops #5/#6 (+ the [EXT] hash scheme) driven
    END-TO-END through the real warehouse api: partition the ratings
    relation 5-way under all three schemes, then push ONE row
    (rating 3.0) through ``range_insert`` (→ fragment 2, the
    tester1.py:39 expectation), ``round_robin_insert`` (→ fragment
    total%5 via the persisted rotation cursor, tester1.py:51 semantics)
    and ``hash_insert`` (→ md5-arithmetic owner), and report
    per-scheme/per-fragment POST-insert counts read back from the
    partitioned parquet. The DuckDB oracle replays the routing
    arithmetic independently — the range owner is HARDCODED to the
    reference's expected fragment, so a shared formula bug cannot pass.
    The warehouse is a build-once artifact, published only after the
    last insert, so a partial build is never served."""
    from .. import api as _api
    from ..catalog import FragmentCatalog as _FragmentCatalog

    def build(wh):
        _api.write_base(spark, "ratings", _ratings(spark, sf_dir), wh)
        _api.range_partition(spark, "ratings", RANGE_N, wh)
        _api.round_robin_partition(spark, "ratings", RANGE_N, wh)
        _api.hash_partition(spark, "ratings", RANGE_N, wh)
        for ins in (_api.range_insert, _api.round_robin_insert, _api.hash_insert):
            ins(
                spark, "ratings",
                INSERT_ROUTE_USERID, INSERT_ROUTE_MOVIEID, INSERT_ROUTE_RATING,
                wh,
            )

    cat = _FragmentCatalog(build_once(sf_dir, "insert_routing", ["lineitem"], build))
    doc = cat.read()
    parts = []
    for scheme, suffix in (
        ("range", "ratings_range"),
        ("round_robin", "ratings_rr"),
        ("hash", "ratings_hash"),
    ):
        df = _api.live_fragments(spark, cat, suffix, doc)
        parts.append(
            df.groupBy("fragment_id").agg(
                F.count("*").cast("bigint").alias("cnt"),
                F.sum(F.when(F.col("userid") == INSERT_ROUTE_USERID, 1).otherwise(0))
                .cast("bigint")
                .alias("n_inserted"),
                F.sum(F.col("userid").cast("bigint")).alias("userid_checksum"),
            ).select(
                F.lit(scheme).alias("scheme"),
                F.col("fragment_id").cast("int").alias("fragment_id"),
                "cnt",
                "n_inserted",
                "userid_checksum",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_FRAG_INSERT_ROUTING = f"""
WITH {RATINGS_CTE},
rrbase AS (
  SELECT userid, movieid, rating,
         ROW_NUMBER() OVER (ORDER BY userid, movieid) - 1 AS rr_rn
  FROM ratings
),
tot AS (SELECT COUNT(*) AS n FROM ratings),
ins AS (SELECT {INSERT_ROUTE_USERID} AS userid,
               {INSERT_ROUTE_MOVIEID} AS movieid,
               {INSERT_ROUTE_RATING} AS rating),
routed AS (
  SELECT 'range' AS scheme, {_bucket_sql("rating")} AS fragment_id, userid
  FROM ratings
  UNION ALL
  -- reference expectation for rangeInsert(..., 3) with 5 fragments:
  -- fragment 2 (tester1.py:39) — hardcoded, NOT recomputed
  SELECT 'range', 2, userid FROM ins
  UNION ALL
  SELECT 'round_robin', CAST(rr_rn % {RANGE_N} AS INTEGER), userid FROM rrbase
  UNION ALL
  -- rotation cursor after partitioning is (n-1) % 5; the next insert
  -- goes to n % 5 (tester1.py:51 semantics)
  SELECT 'round_robin', CAST(n % {RANGE_N} AS INTEGER), userid FROM ins, tot
  UNION ALL
  SELECT 'hash',
         CAST(CAST(('0x' || substr(md5(CAST(userid AS VARCHAR)), 1, 13)) AS BIGINT)
              % {RANGE_N} AS INTEGER),
         userid
  FROM (SELECT userid FROM ratings UNION ALL SELECT userid FROM ins)
)
SELECT scheme, fragment_id,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CASE WHEN userid = {INSERT_ROUTE_USERID} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted,
       CAST(SUM(CAST(userid AS BIGINT)) AS BIGINT) AS userid_checksum
FROM routed GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# corpus curation III: quantization, mixture weighting, stopword discovery
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127
ERR_Q_SCALE = 1_000_000_000


def q_embedding_quantization(spark, sf_dir):
    """Int8 vector-quantization audit: per-vector max-abs scaling to
    [-127,127], dequantization error per dimension, max/avg error per
    label — the compression check before serving embeddings quantized.
    Entirely per-row array exprs (zero shuffle until the final tiny
    agg); the avg is fixed-point-quantized so the distributed sum is
    order-exact."""
    emb = _emb(spark, sf_dir)
    absx = F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))
    m = F.nullif(F.array_max(absx), F.lit(0.0))
    emb = emb.withColumn("_m", m)

    def xi(i):
        return F.element_at(F.col("embedding"), i).cast("double")

    errs = F.transform(
        F.sequence(F.lit(1), F.lit(EMB_DIM)),
        lambda i: F.abs(
            xi(i)
            - F.round(xi(i) / F.col("_m") * QUANT_LEVELS, 0) * F.col("_m") / QUANT_LEVELS
        ),
    )
    e = emb.select("label", F.array_max(errs).alias("err"))
    return e.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        _flr(F.max("err"), 6).alias("max_err"),
        (
            F.sum(F.floor(F.col("err") * ERR_Q_SCALE).cast("bigint")).cast("double")
            / ERR_Q_SCALE / F.count("*")
        ).alias("avg_err"),
    )


SQL_EMBEDDING_QUANTIZATION = f"""
WITH e AS (
  SELECT label,
         list_max(list_transform(range(1, {EMB_DIM + 1}),
           i -> abs(CAST(embedding[i] AS DOUBLE)
                    - round(CAST(embedding[i] AS DOUBLE)
                            / NULLIF(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 0.0)
                            * {QUANT_LEVELS}, 0)
                      * NULLIF(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 0.0)
                      / {QUANT_LEVELS}))) AS err
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       FLOOR(CAST((MAX(err)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_err,
       CAST(SUM(CAST(FLOOR(err * {ERR_Q_SCALE}) AS BIGINT)) AS DOUBLE)
         / {ERR_Q_SCALE} / COUNT(*) AS avg_err
FROM e GROUP BY label
"""


#: target corpus mixture by language — the data-mixing spec a training
#: run would hand the sampler
MIXTURE_TARGET = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def q_mixture_weights(spark, sf_dir):
    """Data-mixing weights: actual token share per language vs the
    target mixture → per-lang sampling weight (target/actual). One
    aggregate + a broadcast 1-row total; the weight column is what a
    weighted sampler consumes downstream."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("lang").agg(
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("lang_tokens")
    )
    total = per.agg(F.sum("lang_tokens").cast("bigint").alias("total_tokens"))
    target = F.create_map(
        *[F.lit(v) for kv in MIXTURE_TARGET.items() for v in kv]
    )
    return per.crossJoin(F.broadcast(total)).select(
        "lang", "lang_tokens",
        _flr(F.col("lang_tokens") / F.col("total_tokens"), 6).alias("actual_share"),
        _flr(target[F.col("lang")]
            / (F.col("lang_tokens") / F.col("total_tokens")), 6).alias("weight"),
    )


_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {share}" for lang, share in MIXTURE_TARGET.items()
)
SQL_MIXTURE_WEIGHTS = f"""
WITH per AS (
  SELECT lang, CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM per)
SELECT lang, lang_tokens,
       FLOOR(CAST((lang_tokens / CAST(total_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS actual_share,
       FLOOR(CAST(((CASE lang {_MIX_CASE} END)
             / (lang_tokens / CAST(total_tokens AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS weight
FROM per, tot
"""


STOPWORD_TOP_K = 20


def q_stopword_discovery(spark, sf_dir):
    """Corpus-driven stopword discovery: the top-k tokens by document
    frequency with their df share — the empirical stopword list quality
    filters are seeded from. Distinct (doc, term) pairs shuffle once on
    the term; top-k is a TakeOrdered, never a global sort."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    ).distinct()
    dfreq = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "term", "df",
            _flr(F.col("df") / F.col("n_docs"), 6).alias("df_share"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(STOPWORD_TOP_K)
    )


SQL_STOPWORD_DISCOVERY = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({TOKENS_SQL.replace('text', 'lower(text)')}) AS term
  FROM documents
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, df, FLOOR(CAST((df / CAST(n_docs AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS df_share
FROM dfreq, n
ORDER BY df DESC, term
LIMIT {STOPWORD_TOP_K}
"""


# ---------------------------------------------------------------------------
# pipeline evaluation audits: recall/precision of the approximate paths
# ---------------------------------------------------------------------------


def q_near_dup_audit(spark, sf_dir):
    """Dedup-pipeline evaluation as a first-class query: MinHash-LSH
    pairs vs the blocked exact-Jaccard ground truth at the same
    threshold — n_lsh / n_exact / overlap / recall / precision in one
    row. This is the audit that decides whether k, bands, or the
    blocking key need retuning before a full-corpus run.

    The exact side carries ``max_block_docs``: the audit's ground truth
    is quadratic WITHIN a block, so the query asserts (cheap pre-agg)
    that no (lang, len_bucket) block exceeds the cap before launching
    the pair join — at corpus scale the operator must pass a
    ``sample_frac`` stratum instead of loosening the cap.

    Substrate sharing (r15, guide §2.3/§5): the LSH side and the exact
    side consume the IDENTICAL shingle sets, so ONE persisted
    (id, lang, len_bucket, shingle_set) frame feeds both — previously
    the corpus was shingled three times (once persisted for LSH, once
    per exact self-join side)."""
    docs = _docs_with_dups(spark, sf_dir)
    d2 = docs.withColumn("len_bucket", F.floor(F.col("n_chars") / F.lit(LEN_BUCKET)))
    base = _track_cached(
        d2.select(
            F.col("doc_id").alias("id"),
            "lang",
            "len_bucket",
            F.array_distinct(
                D.shingles(F.col("text"), SHINGLE_N)
            ).alias("shingle_set"),
        ).persist()
    )
    lsh = (
        D.near_dup_pairs(
            docs, threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K,
            bands=MINHASH_BANDS, shingle_df=base,
        )
        .select("id_a", "id_b")
        .withColumn("in_lsh", F.lit(True))
    )
    exact = (
        D.blocked_jaccard_pairs(
            d2, block_cols=("lang", "len_bucket"),
            threshold=NEAR_DUP_THRESHOLD, shingle_n=SHINGLE_N,
            max_block_docs=AUDIT_MAX_BLOCK_DOCS, shingle_df=base,
        )
        .select("id_a", "id_b")
        .withColumn("in_exact", F.lit(True))
    )
    t = lsh.join(exact, ["id_a", "id_b"], "full")
    n_lsh = F.count_if(F.col("in_lsh"))
    n_exact = F.count_if(F.col("in_exact"))
    n_common = F.count_if(F.col("in_lsh") & F.col("in_exact"))
    return t.agg(
        n_lsh.cast("bigint").alias("n_lsh"),
        n_exact.cast("bigint").alias("n_exact"),
        n_common.cast("bigint").alias("n_common"),
        # nullif: a dup-free (or empty) corpus yields 0 pairs on either
        # side — the oracle's x/0 is NULL, ANSI Spark's would throw
        _flr(n_common / F.nullif(n_exact.cast("double"), F.lit(0.0)), 6)
        .alias("lsh_recall"),
        _flr(n_common / F.nullif(n_lsh.cast("double"), F.lit(0.0)), 6)
        .alias("lsh_precision"),
    )


SQL_NEAR_DUP_AUDIT = f"""
WITH lsh AS ({SQL_MINHASH_NEAR_DUP_PAIRS}),
exact AS ({SQL_NGRAM_JACCARD_PAIRS}),
t AS (
  SELECT (l.id_a IS NOT NULL) AS in_lsh, (e.id_a IS NOT NULL) AS in_exact
  FROM lsh l FULL JOIN exact e ON l.id_a = e.id_a AND l.id_b = e.id_b
)
SELECT CAST(COALESCE(count_if(in_lsh), 0) AS BIGINT) AS n_lsh,
       CAST(COALESCE(count_if(in_exact), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(count_if(in_lsh AND in_exact), 0) AS BIGINT) AS n_common,
       FLOOR(CAST((count_if(in_lsh AND in_exact) / CAST(count_if(in_exact) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lsh_recall,
       FLOOR(CAST((count_if(in_lsh AND in_exact) / CAST(count_if(in_lsh) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lsh_precision
FROM t
"""


ANN_AUDIT_WIDE_HAMMING = 4


def q_ann_recall_audit(spark, sf_dir):
    """ANN evaluation: recall@k against the exact brute-force top-k for
    the same query vector, per METHOD — the tuning loop as one query.
    Three rows: the declared sign-LSH probe (radius 2 — maximal
    pruning), a widened radius-4 probe (the recall/pruning dial), and
    IVF (nprobe-list probe). On this corpus's near-uniform synthetic
    embeddings single-table sign-LSH recall is geometry-bounded (true
    neighbors sit up to 11/16 signature bits away), which is exactly
    what this audit exists to expose — IVF adapts to the data's
    clusters and recovers ~0.9 recall; the audit is the evidence for
    choosing it as the quality path and LSH as the pruning path."""
    from functools import reduce as _reduce

    emb = _emb(spark, sf_dir)
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    # persisted: the brute-force side is shared by all three method
    # joins — without it the full exact scan re-runs per method
    exact = S.brute_force_topk(emb, qvec, k=KNN_K).select("vec_id").withColumn(
        "in_exact", F.lit(True)
    ).persist()
    _track_cached(exact)
    # every method probes its MATERIALIZED index (result-identical to
    # the on-the-fly operators at the same parameters — the indexed
    # variants' documented contract); the exact side stays a raw scan
    ivf_path, cents, _books = _ann_ivfpq_index(spark, sf_dir)
    lsh_path = _ann_lsh_index(spark, sf_dir)
    methods = {
        "ivf": S.ivf_topk_indexed(
            spark, ivf_path, qvec, cents, k=KNN_K, nprobe=IVF_NPROBE
        ),
        "lsh_h2": S.lsh_topk_indexed(
            spark, lsh_path, qvec, k=KNN_K, n_planes=ANN_PLANES,
            probe_hamming=ANN_PROBE_HAMMING,
            prefix_bits=LSH_INDEX_PREFIX_BITS, dim=EMB_DIM,
        ),
        "lsh_h4": S.lsh_topk_indexed(
            spark, lsh_path, qvec, k=KNN_K, n_planes=ANN_PLANES,
            probe_hamming=ANN_AUDIT_WIDE_HAMMING,
            prefix_bits=LSH_INDEX_PREFIX_BITS, dim=EMB_DIM,
        ),
    }
    outs = []
    for name in sorted(methods):
        ann = methods[name].select("vec_id").withColumn("in_ann", F.lit(True))
        t = exact.join(ann, "vec_id", "full")
        n_common = F.count_if(F.col("in_exact") & F.col("in_ann"))
        outs.append(
            t.agg(
                F.lit(name).alias("method"),
                F.count_if(F.col("in_exact")).cast("bigint").alias("n_exact"),
                F.count_if(F.col("in_ann")).cast("bigint").alias("n_ann"),
                n_common.cast("bigint").alias("n_common"),
                _flr(n_common / F.lit(float(KNN_K)), 6).alias("recall_at_k"),
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs)


def _recall_row_sql(method: str, ann_sql: str) -> str:
    return f"""
SELECT '{method}' AS method,
       CAST(count_if(in_exact) AS BIGINT) AS n_exact,
       CAST(count_if(in_ann) AS BIGINT) AS n_ann,
       CAST(count_if(in_exact AND in_ann) AS BIGINT) AS n_common,
       FLOOR(CAST((count_if(in_exact AND in_ann) / {KNN_K}.0) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall_at_k
FROM (
  SELECT (e.vec_id IS NOT NULL) AS in_exact, (a.vec_id IS NOT NULL) AS in_ann
  FROM ({SQL_KNN_BRUTEFORCE}) e FULL JOIN ({ann_sql}) a ON e.vec_id = a.vec_id
)
"""


SQL_ANN_RECALL_AUDIT = (
    _recall_row_sql("ivf", SQL_ANN_IVF_TOPK)
    + " UNION ALL "
    + _recall_row_sql("lsh_h2", _lsh_topk_sql(ANN_PROBE_HAMMING))
    + " UNION ALL "
    + _recall_row_sql("lsh_h4", _lsh_topk_sql(ANN_AUDIT_WIDE_HAMMING))
)


# ---------------------------------------------------------------------------
# hash fragmentation + window frame semantics
# ---------------------------------------------------------------------------

HASH_FRAG_N = 6


def q_frag_hash_counts(spark, sf_dir):
    """[EXT] The third classic fragmentation scheme next to the
    reference's range and round-robin: hash partitioning on the key.
    The hash is md5-derived 53-bit arithmetic (functions/text.py:
    token_hash convention) — portable across engines, unlike
    engine-native hash() — so routing is verifiable cross-engine.
    Uniformity check rides along: per-fragment count plus the key
    checksum."""
    r = _ratings(spark, sf_dir)
    return (
        r.withColumn("fragment_id", hash_fragment_expr(F.col("userid"), HASH_FRAG_N))
        .groupBy("fragment_id")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum(F.col("userid").cast("bigint")).cast("bigint").alias("userid_checksum"),
        )
    )


SQL_FRAG_HASH_COUNTS = f"""
WITH {RATINGS_CTE}
SELECT CAST(CAST(('0x' || substr(md5(CAST(userid AS VARCHAR)), 1, 13)) AS BIGINT)
            % {HASH_FRAG_N} AS INTEGER) AS fragment_id,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(userid AS BIGINT)) AS BIGINT) AS userid_checksum
FROM ratings GROUP BY 1
"""


def q_frame_semantics_battery(spark, sf_dir):
    """Window-frame battery: ROWS BETWEEN (physical rows) vs RANGE
    BETWEEN (value-based peers) running sums over the same ordered
    partition — the two frames agree only when the order key is unique,
    and the default frame silently switches to RANGE when ORDER BY is
    present: exactly the corner this battery pins. Decimal-exact sums;
    o_orderkey output keeps rows addressable."""
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 20 == 0
    )
    base = orders.select(
        "o_custkey", "o_orderkey",
        _dec2(F.col("o_totalprice")).alias("p"),
        (F.col("o_orderkey") % 5).alias("grp_val"),
    )
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy("grp_val")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "o_custkey", "o_orderkey",
        F.sum("p").over(w_rows).cast("double").alias("running_rows"),
        F.sum("p").over(w_range).cast("double").alias("running_range_peers"),
    )


SQL_FRAME_SEMANTICS_BATTERY = """
WITH base AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         o_orderkey % 5 AS grp_val
  FROM orders WHERE o_orderkey % 20 = 0
)
SELECT o_custkey, o_orderkey,
       CAST(SUM(p) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rows,
       CAST(SUM(p) OVER (PARTITION BY o_custkey ORDER BY grp_val
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_range_peers
FROM base
"""


def q_events_time_pruned(spark, sf_dir):
    """Hypertable read path as a checkable query: events are laid out
    day-partitioned ONCE (a build-once artifact), then a 2-day range scan
    prunes whole partitions at file listing (PartitionFilters —
    operators/timeseries.py, plan-asserted in tests/test_timeseries.py)
    and must equal the raw filter, which is the oracle. The probed
    window is derived from the data's own min day, so the result is
    deterministic per fixture."""
    from ..operators.timeseries import read_time_range, write_time_partitioned

    ev = _events(spark, sf_dir)
    path = build_once(
        sf_dir, "events_by_day", ["events"],
        lambda stage: write_time_partitioned(ev, stage),
    )
    d0 = ev.agg(F.min(F.to_date("event_time")).alias("d0")).head()["d0"]
    import datetime as _dt

    lo = (d0 + _dt.timedelta(days=1)).strftime("%Y-%m-%d 00:00:00")
    hi = (d0 + _dt.timedelta(days=3)).strftime("%Y-%m-%d 00:00:00")
    return (
        read_time_range(spark, path, lo, hi)
        .groupBy(F.date_format(F.to_date("event_time"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_TIME_PRUNED = """
WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events)
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events, b
WHERE CAST(ts AS DATE) >= d0 + 1 AND CAST(ts AS DATE) < d0 + 3
GROUP BY 1
"""


def q_lineitem_zorder_skip(spark, sf_dir):
    """Z-order read path as a checkable query: a z-ordered copy of
    lineitem (Morton interleave of l_orderkey × l_partkey,
    operators/layout.py) is built once per sf_dir; a 2-D range
    predicate over it must equal the raw filter, which is the oracle.
    The skipping property itself — per-file min-max narrowness on BOTH
    clustered columns — is asserted from the parquet footers in
    tests/test_layout.py; this query pins that the clustered layout
    loses no rows. Bounds derive from the data's own key maxima
    (bottom decile of each), so the result is deterministic per
    fixture."""
    from ..operators.layout import zorder_by

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = build_once(
        sf_dir, "lineitem_zorder", ["lineitem"],
        lambda stage: zorder_by(li, ["l_orderkey", "l_partkey"])
        .write.mode("overwrite").parquet(stage),
    )
    m = li.agg(
        F.max("l_orderkey").alias("mo"), F.max("l_partkey").alias("mp")
    ).head()
    ok_hi, pk_hi = int(m["mo"]) // 10, int(m["mp"]) // 10
    z = spark.read.parquet(path)
    return (
        z.where((F.col("l_orderkey") <= ok_hi) & (F.col("l_partkey") <= pk_hi))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


SQL_LINEITEM_ZORDER_SKIP = """
WITH m AS (SELECT MAX(l_orderkey) AS mo, MAX(l_partkey) AS mp FROM lineitem)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem, m
WHERE l_orderkey <= mo // 10 AND l_partkey <= mp // 10
"""


# ---------------------------------------------------------------------------
# flagship: end-to-end corpus curation pipeline
# ---------------------------------------------------------------------------


def q_curation_pipeline(spark, sf_dir):
    """The full corpus-curation funnel as ONE composed pipeline — the
    operational shape a training-data run actually executes, built
    entirely from the individually-verified stages:

      raw → quality gates (lang allowlist + token band + quality floor)
          → exact dedup (min doc_id per md5 fingerprint)
          → near-dup canonical (MinHash-LSH pairs over the GATE+EXACT
            SURVIVORS → connected components; each cluster keeps its
            min surviving doc_id)
          → benchmark decontamination (bench slice removed; surviving
            training docs sharing any 5-gram with the bench slice
            removed)

    Each expensive stage consumes only the previous stage's survivors:
    LSH shingles/signatures are computed over the exact-dedup output
    (not the raw corpus — at 100 TB the gates typically reject 30-50%,
    and shingling rejected docs is the single largest avoidable cost in
    the funnel), and the training-side gram stream of the decontam
    stage covers only near-dup survivors (the bench side must stay the
    raw bench slice — contamination is defined against the benchmark as
    published, not its gated subset).

    Output: per source, the count surviving each stage. Every stage is
    one or two key-shuffles (fingerprint / band-bucket / gram hash /
    label) — nothing quadratic, nothing driver-side beyond the bounded
    cluster propagation; the same plan shapes as the standalone stage
    queries, so the 100 TB arguments carry over unchanged."""
    from ..operators.graph import connected_components

    docs = _docs_with_dups(spark, sf_dir)
    n_tok = T.token_count(F.col("text"))
    qual = T.quality_score(F.col("text"))
    pass_gates = (
        F.col("lang").isin(*GATE_LANGS)
        & (n_tok >= GATE_MIN_TOKENS) & (n_tok <= GATE_MAX_TOKENS)
        & (qual >= GATE_MIN_QUALITY)
    )
    # stage frontiers are persisted (and registered with cache.track):
    # each one feeds BOTH the census counts and every later stage, and
    # the gate predicate / fingerprint are the CPU-heavy text kernels —
    # without materialization Spark recomputes that subtree once per
    # consumer. At 100 TB these become checkpointed tables between
    # pipeline stages; same idea, durable medium.
    gated = _track_cached(
        docs.where(pass_gates).select("doc_id", "source", "text").persist()
    )

    fp = gated.select("doc_id", "source", T.fingerprint(F.col("text")).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    exact_kept = _track_cached(
        fp.join(keep, "fp").where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source").persist()
    )

    survivors = gated.join(exact_kept.select("doc_id"), "doc_id").select(
        "doc_id", "text"
    )
    pairs = D.near_dup_pairs(
        survivors, threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS
    ).select("id_a", "id_b")
    labels = connected_components(pairs)  # (node, label)
    lbl = exact_kept.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    cluster_min = (
        lbl.where(F.col("label").isNotNull())
        .groupBy("label").agg(F.min("doc_id").alias("cluster_keep"))
    )
    neardup_kept = _track_cached(
        lbl.join(cluster_min, "label", "left")
        .where(F.col("label").isNull() | (F.col("doc_id") == F.col("cluster_keep")))
        .select("doc_id", "source")
        .persist()
    )

    toks = T.tokens(F.col("text"))
    grams = F.array_distinct(_word_grams(toks, CONTAM_N))
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0

    def gram_stream(df):
        return df.select("doc_id", F.explode(grams).alias("gram")).select(
            "doc_id", F.md5("gram").alias("gh")
        )

    bench_grams = gram_stream(docs.where(is_bench)).select("gh").distinct()
    train = docs.where(~is_bench).join(neardup_kept.select("doc_id"), "doc_id")
    contaminated = (
        gram_stream(train)
        .join(bench_grams, "gh", "left_semi")
        .select("doc_id").distinct()
    )
    final = (
        neardup_kept.where(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source")
    )

    def cnt(df, name):
        return df.groupBy("source").agg(F.count("*").cast("bigint").alias(name))

    out = (
        cnt(docs, "n_raw")
        .join(cnt(gated, "n_gated"), "source", "left")
        .join(cnt(exact_kept, "n_exact"), "source", "left")
        .join(cnt(neardup_kept, "n_neardup"), "source", "left")
        .join(cnt(final, "n_final"), "source", "left")
    )
    return out.select(
        "source",
        "n_raw",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
          for c in ("n_gated", "n_exact", "n_neardup", "n_final")],
    )


SQL_CURATION_PIPELINE = f"""
WITH RECURSIVE {DOCS_WITH_DUPS_CTE.strip().lstrip()},
gated AS (
  SELECT doc_id, source, text FROM corpus
  WHERE lang IN ({_GATE_LANG_IN})
    AND CAST(len({TOKENS_SQL}) AS BIGINT) BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}
    AND ({_QUALITY_SQL}) >= {GATE_MIN_QUALITY}
),
fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM gated
),
keep_exact AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp),
exact_kept AS (
  SELECT f.doc_id, f.source FROM fp f JOIN keep_exact k USING (fp)
  WHERE f.doc_id = k.keep_id
),
survivors AS (
  SELECT g.doc_id, g.text FROM gated g JOIN exact_kept e USING (doc_id)
),
{_near_dup_ctes("survivors")},
pairs AS (SELECT id_a, id_b FROM verified WHERE j >= {NEAR_DUP_THRESHOLD}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst AS node, w.label
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.label < e.dst
),
labels AS (SELECT node, MIN(label) AS label FROM walk GROUP BY node),
lbl AS (
  SELECT e.doc_id, e.source, l.label
  FROM exact_kept e LEFT JOIN labels l ON l.node = e.doc_id
),
cluster_min AS (
  SELECT label, MIN(doc_id) AS cluster_keep FROM lbl
  WHERE label IS NOT NULL GROUP BY label
),
neardup_kept AS (
  SELECT b.doc_id, b.source FROM lbl b LEFT JOIN cluster_min m USING (label)
  WHERE b.label IS NULL OR b.doc_id = m.cluster_keep
),
toks2 AS (SELECT doc_id, {TOKENS_SQL} AS t FROM corpus),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - {CONTAM_N - 2}, 1)),
           j -> md5(array_to_string(t[j:j+{CONTAM_N - 1}], ' '))
         )) AS gh
  FROM toks2
),
bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0),
contam AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % {DECON_BENCH_MOD} <> 0 AND gh IN (SELECT gh FROM bench)
),
final AS (
  SELECT n.doc_id, n.source FROM neardup_kept n
  WHERE n.doc_id % {DECON_BENCH_MOD} <> 0
    AND n.doc_id NOT IN (SELECT doc_id FROM contam)
)
SELECT r.source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COALESCE(MAX(g.n), 0) AS BIGINT) AS n_gated,
       CAST(COALESCE(MAX(e.n), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(MAX(nd.n), 0) AS BIGINT) AS n_neardup,
       CAST(COALESCE(MAX(f.n), 0) AS BIGINT) AS n_final
FROM corpus r
LEFT JOIN (SELECT source, COUNT(*) AS n FROM gated GROUP BY source) g USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM exact_kept GROUP BY source) e USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM neardup_kept GROUP BY source) nd USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM final GROUP BY source) f USING (source)
GROUP BY r.source
"""


# ---------------------------------------------------------------------------


# round-14 second wave: MCV (most-common-values) optimizer statistics
# ---------------------------------------------------------------------------

MCV_K = 3  # MCVs kept per column
MCV_SALT_BUCKETS = 16  # phase-1 fan-out of the decomposed top-k


def q_mcv_stats_audit(spark, sf_dir):
    """Most-common-values statistics per column — the MCV sketch a
    cost-based optimizer keeps next to NDV/null-fraction (``data_profile``
    covers those in one pass; selectivity estimation of equality
    predicates additionally needs the top value frequencies, which a
    single-pass aggregate cannot produce). For each profiled lineitem
    column: the MCV_K most frequent values with occurrence count and
    frequency share, ties broken on the value string.

    Scale shape: one unpivot scan (``stack`` — a generate, no Python),
    one keyed aggregate to per-(column, value) counts with map-side
    combine, then a DECOMPOSED top-k: phase 1 takes a local top-k per
    (column, value-hash salt bucket) so no column's full value
    histogram ever sorts in a single task (a billion-NDV column is a
    billion-row window partition otherwise), phase 2 re-ranks the
    column's ≤ MCV_SALT_BUCKETS·MCV_K survivors — exact because top-k
    under a total order is bucket-decomposable. The salt never reaches
    the result, so any deterministic hash works; the oracle ranks
    directly."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = ", ".join(
        f"'{c}', CAST({e} AS STRING)"
        for c, e in [
            ("l_returnflag", "l_returnflag"),
            ("l_linestatus", "l_linestatus"),
            ("l_shipdate", "CAST(l_shipdate AS DATE)"),
            ("l_suppkey", "l_suppkey"),
            ("l_partkey", "l_partkey"),
        ]
    )
    vals = li.select(
        F.expr(f"stack(5, {pairs}) AS (column_name, val)")
    ).where(F.col("val").isNotNull())
    per_val = vals.groupBy("column_name", "val").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = per_val.groupBy("column_name").agg(
        F.sum("c").cast("bigint").alias("n_rows")
    )
    w_local = Window.partitionBy("column_name", "_salt").orderBy(
        F.desc("c"), F.asc("val")
    )
    survivors = (
        per_val.withColumn(
            "_salt", F.pmod(F.xxhash64("val"), F.lit(MCV_SALT_BUCKETS))
        )
        .withColumn("_rk", F.row_number().over(w_local))
        .where(F.col("_rk") <= MCV_K)
        .drop("_rk", "_salt")
    )
    w = Window.partitionBy("column_name").orderBy(F.desc("c"), F.asc("val"))
    top = (
        survivors.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MCV_K)
    )
    return (
        top.join(F.broadcast(tot), "column_name")
        .select(
            "column_name",
            "rk",
            F.col("val").alias("value"),
            F.col("c").alias("n_occurrences"),
            _flr(
                F.col("c").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("column_name", "rk")
    )


_MCV_VALS_SQL = "\n  UNION ALL ".join(
    f"SELECT '{c}' AS column_name, CAST({e} AS VARCHAR) AS val FROM lineitem"
    for c, e in [
        ("l_returnflag", "l_returnflag"),
        ("l_linestatus", "l_linestatus"),
        ("l_shipdate", "CAST(l_shipdate AS DATE)"),
        ("l_suppkey", "l_suppkey"),
        ("l_partkey", "l_partkey"),
    ]
)

SQL_MCV_STATS_AUDIT = f"""
WITH vals AS (
  {_MCV_VALS_SQL}
),
per_val AS (
  SELECT column_name, val, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals WHERE val IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT column_name, CAST(SUM(c) AS BIGINT) AS n_rows
  FROM per_val GROUP BY 1
),
ranked AS (
  SELECT column_name, val, c,
         CAST(row_number() OVER (
           PARTITION BY column_name ORDER BY c DESC, val) AS INT) AS rk
  FROM per_val
)
SELECT r.column_name, r.rk, r.val AS value, r.c AS n_occurrences,
       FLOOR(CAST(r.c AS DOUBLE) / CAST(t.n_rows AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS share
FROM ranked r JOIN tot t USING (column_name)
WHERE r.rk <= {MCV_K}
ORDER BY column_name, rk
"""


#: real-frames fixtures (the video twin of the real-pixel/real-audio
#: paths): RF_N_MEDIA deterministic concatenated-P6 "animations" with
#: id-varied frame counts and dims; every pixel a pure integer formula
#: of (id, frame, y, x, channel).
RF_N_MEDIA = 8
RF_K = 3  # sampled frames per payload


def _rf_dims(i: int) -> tuple[int, int]:
    return 12 + (i % 3) * 4, 8 + (i % 2) * 4  # (w, h)


def _rf_n_frames(i: int) -> int:
    return 4 + (i % 3)  # 4..6 frames


def _rf_frame_pixels(i: int, f: int):
    import numpy as np

    w, h = _rf_dims(i)
    return np.fromfunction(
        lambda y, x, c: (i * 37 + f * 17 + y * 11 + x * 5 + c * 3) % 256,
        (h, w, 3),
        dtype=np.int64,
    ).astype("uint8")


def _rf_payload(i: int) -> bytes:
    from ..multimodal.codecs import encode_ppm

    return b"".join(
        encode_ppm(_rf_frame_pixels(i, f)) for f in range(_rf_n_frames(i))
    )


def q_multimodal_real_frames(spark, sf_dir):
    """REAL decoded video frames end-to-end — completes the non-stub
    coverage of all three media modalities (image:
    multimodal_real_resize, audio: multimodal_real_audio, frames:
    here): deterministic concatenated-P6 animations are generated per
    media id inside an Arrow batch, carved into frames by the vendored
    stream splitter (codecs.split_ppm_stream), uniformly
    temporally sampled (first/last always included), DECODED to raw
    RGB (multimodal/binary_ops.py:sample_frames_real), and
    checksummed JVM-side. The oracle carries per-frame pixel
    checksums replayed through the SAME splitter + codec at import —
    actual decoded frame pixels are pinned exactly.

    Scale shape: generation/split/decode are row-local Arrow work with
    a 1→k fan-out and no shuffle; only sampled frames decode. At
    100 TB the identical plan reads payloads from a binary source."""
    from ..multimodal.binary_ops import sample_frames_real

    ids = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"))
        .orderBy("media_id")
        .limit(RF_N_MEDIA)
    )

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "payload": [_rf_payload(int(i)) for i in pdf["media_id"]],
                }
            )

    media = ids.mapInPandas(_gen, "media_id bigint, payload binary")
    out = sample_frames_real(media, k=RF_K)
    return out.select(
        "media_id",
        "slot",
        "src_frame",
        "width",
        "height",
        F.length("frame_rgb").cast("bigint").alias("n_bytes"),
        F.crc32("frame_rgb").alias("crc"),
        F.md5("frame_rgb").alias("digest"),
    )


def _rf_expected_rows() -> list[tuple[int, int, int, int, int, int, int, str]]:
    """Driver-side replay of generate → split → sample → decode →
    checksum for the oracle literals (a few thousand pixels per
    frame, microseconds at import)."""
    import hashlib
    import zlib

    from ..multimodal.codecs import decode_image_rgb, split_ppm_stream

    rows = []
    for i in range(RF_N_MEDIA):
        frames = split_ppm_stream(_rf_payload(i))
        nf = len(frames)
        kk = min(RF_K, nf)
        for j in range(kk):
            src = 0 if kk == 1 else j * (nf - 1) // (kk - 1)
            arr = decode_image_rgb(frames[src])
            raw = arr.tobytes()
            rows.append(
                (
                    i,
                    j,
                    src,
                    int(arr.shape[1]),
                    int(arr.shape[0]),
                    len(raw),
                    zlib.crc32(raw),
                    hashlib.md5(raw).hexdigest(),
                )
            )
    return rows


SQL_MULTIMODAL_REAL_FRAMES = f"""
WITH sel AS (
  SELECT doc_id AS media_id FROM documents ORDER BY doc_id LIMIT {RF_N_MEDIA}
),
lit(media_id, slot, src_frame, width, height, n_bytes, crc, digest) AS (
  VALUES {', '.join(f"({i}, {j}, {s}, {w}, {h}, {n}, {c}, '{d}')" for i, j, s, w, h, n, c, d in _rf_expected_rows())}
)
SELECT sel.media_id,
       CAST(slot AS BIGINT) AS slot,
       CAST(src_frame AS BIGINT) AS src_frame,
       CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(crc AS BIGINT) AS crc,
       digest
FROM sel JOIN lit USING (media_id)
"""


# round-14 wave 3: consistent-hash ring fragmentation
# ---------------------------------------------------------------------------

CHASH_OLD_NODES = 5
CHASH_NEW_NODES = 6  # the elastic-scaling event: node 5 joins the ring
CHASH_VNODES = 8  # virtual nodes per physical node


def _chash_ring(n_nodes: int) -> list[tuple[int, int]]:
    """(position, node) vnode ring — md5-derived 52-bit positions on
    the same portable hash convention the routing expression uses, so
    the ring is reproducible from the node count alone."""
    import hashlib

    ring = [
        (int(hashlib.md5(f"node{node}:v{v}".encode()).hexdigest()[:13], 16), node)
        for node in range(n_nodes)
        for v in range(CHASH_VNODES)
    ]
    ring.sort()
    if len({p for p, _ in ring}) != len(ring):  # 48 draws from 2^52
        raise RuntimeError("vnode position collision — pick a new salt")
    return ring


def _chash_case(n_nodes: int, key_expr: str) -> str:
    """Clockwise ring lookup as a pure CASE expression (first vnode at
    or after the key position, wrapping to the ring start) — routing
    is map-side scalar arithmetic in BOTH engines, never a join."""
    ring = _chash_ring(n_nodes)
    branches = " ".join(
        f"WHEN {key_expr} <= {pos} THEN {node}" for pos, node in ring
    )
    return f"(CASE {branches} ELSE {ring[0][1]} END)"


_CHASH_KEY_SPARK = (
    "CAST(conv(substring(md5(CAST(userid AS STRING)), 1, 13), 16, 10) AS BIGINT)"
)
_CHASH_KEY_DUCK = (
    "CAST(('0x' || substr(md5(CAST(userid AS VARCHAR)), 1, 13)) AS BIGINT)"
)


def q_frag_consistent_hash_ring(spark, sf_dir):
    """[EXT] Consistent-hash ring fragmentation — the FOURTH scheme
    next to the reference's range/round-robin and the r-earlier hash
    (mod-N) scheme, and the one elastic clusters actually use: keys
    hash onto a 52-bit ring holding CHASH_VNODES virtual nodes per
    physical node; a key belongs to the first vnode clockwise. The
    query costs the scale-out event (5 → 6 nodes) as a movement
    matrix, like ``frag_rebalance`` does for range re-bucketing. The
    consistent-hashing contract — visible in the result — is that
    every moved key lands on the ADDED node (old ≠ new ⇒ new = 5) and
    the moved share is ≈ 1/(n+1), where mod-N re-hashing would move
    ≈ n/(n+1) of all keys. Routing is a generated literal CASE over
    the sorted vnode positions — map-side scalar arithmetic in both
    engines (the ring is cluster metadata, never a join), the exact
    portable-md5 convention of ``frag_hash_counts``."""
    r = _ratings(spark, sf_dir)
    old_node = F.expr(_chash_case(CHASH_OLD_NODES, _CHASH_KEY_SPARK))
    new_node = F.expr(_chash_case(CHASH_NEW_NODES, _CHASH_KEY_SPARK))
    return (
        r.withColumn("old_node", old_node.cast("int"))
        .withColumn("new_node", new_node.cast("int"))
        .groupBy("old_node", "new_node")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .orderBy("old_node", "new_node")
    )


SQL_FRAG_CONSISTENT_HASH_RING = f"""
WITH {{RATINGS_CTE}}
SELECT CAST({_chash_case(CHASH_OLD_NODES, _CHASH_KEY_DUCK)} AS INTEGER) AS old_node,
       CAST({_chash_case(CHASH_NEW_NODES, _CHASH_KEY_DUCK)} AS INTEGER) AS new_node,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM ratings GROUP BY 1, 2 ORDER BY 1, 2
""".format(RATINGS_CTE=RATINGS_CTE)
