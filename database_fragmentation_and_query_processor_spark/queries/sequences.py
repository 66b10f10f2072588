"""Sequence modeling, winnowing span matches, embedding diagnostics, frequency-aware corpus balancing."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..cache import track as _track_cached
from ..functions import text as T
from ..functions.lattice import flr as _flr
from ..operators import dedup as D
from ..operators.scaling import stable_row_number
from .common import (
    NEAR_DUP_THRESHOLD, SHINGLE_N, US_PER_DAY, _docs, _emb, _events, _t,
)
from .families import DOCS_WITH_DUPS_CTE, TOKENS_SQL, _docs_with_dups
from .curation import EMB_Q_SCALE, _emb_qstats, _word_grams

# round-6 additions: sequence modeling, winnowing span matches,
# embedding diagnostics, frequency-aware corpus balancing
# ---------------------------------------------------------------------------


def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event_type | event_type). The window shuffles on
    user_id once with bounded per-user state (lead carries one row);
    the (src, dst) aggregation domain is |event_type|^2 — tiny at any
    scale. The row-normalizing window runs over that tiny domain, never
    the raw events. Reads through the schema-adaptive _events loader
    (canonical tsn micros) so a re-drifted physical ts encoding can't
    silently reorder sequences."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    pairs = (
        ev.select("user_id", "tsn", "event_id", "event_type")
        .withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("src"), "dst"
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        _flr(F.col("n") / F.sum("n").over(tot).cast("double"), 6).alias("prob"),
    )


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       FLOOR(CAST((n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS prob
FROM c
"""


PATH_MAX_EVENTS = 8
PATH_TOPK = 20


def q_user_path_topk(spark, sf_dir):
    """Top-k user journeys: the '>'-joined sequence of each user's
    FIRST 8 event types (ts then event_id tie-break), counted across
    users. Truncating to a fixed head bounds both the per-user
    aggregation state and the path-string key width, so the final
    groupBy key stays O(8 · |event_type| chars) no matter how long the
    raw streams get. Deterministic: collect_list order is laundered
    through array_sort on the (rn, event_type) struct. Reads through
    the schema-adaptive _events loader (canonical tsn micros) so a
    re-drifted physical ts encoding can't silently reorder heads."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    head = (
        ev.select("user_id", "tsn", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PATH_MAX_EVENTS)
    )
    paths = head.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    top = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    return top.orderBy(F.desc("n_users"), "path").limit(PATH_TOPK)


SQL_USER_PATH_TOPK = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {PATH_MAX_EVENTS} GROUP BY user_id
),
top AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM paths GROUP BY path)
SELECT path, n_users FROM top ORDER BY n_users DESC, path LIMIT {PATH_TOPK}
"""


WINNOW_K = 5    # tokens per k-gram
WINNOW_W = 4    # winnowing window (k-grams per window)
WINNOW_MAX_DF = 64   # drop fingerprints shared by more docs (boilerplate)
WINNOW_MIN_SHARED = 2


def q_winnowing_span_matches(spark, sf_dir):
    """Winnowing span matcher (Schleimer et al., MOSS): hash word
    5-grams, keep only each sliding window's MINIMUM hash as the doc's
    fingerprints, pair docs through the inverted (fingerprint, doc)
    index. Window-min selection guarantees every shared run of
    >= w+k-1 tokens yields a shared fingerprint while storing ~2/(w+1)
    of the grams — the published density bound. Scale shape: the pair
    join runs on the fingerprint key AFTER a document-frequency cap
    (fps in > WINNOW_MAX_DF docs are boilerplate and dropped), so no
    hot key can go quadratic; there is no all-pairs comparison
    anywhere."""
    docs = _docs_with_dups(spark, sf_dir)
    # Gram hashing is one md5 over the joined gram string. (A
    # polynomial combination of per-token hashes was measured 4x SLOWER
    # here: the nested aggregate-over-slice lambda per gram defeats
    # codegen, while a single md5 call stays in the generated loop.)
    grams = _word_grams(T.tokens(F.col("text")), WINNOW_K)
    hashes = F.transform(grams, lambda g: T.token_hash(g))
    # MATERIALIZE the hash array as a named column before the sliding
    # window min. Inlining the `hashes` expression into the per-window
    # lambda makes Catalyst re-evaluate the ENTIRE gram-md5 array for
    # every window position — O(m^2) md5 calls per document (measured
    # 17s of this query's 20s at sf0.1). As a multiply-referenced
    # non-trivial alias, `h` survives CollapseProject, so each array is
    # computed once per row: the extract drops to ~2.3s for the
    # identical 111k fingerprints.
    base = docs.select("doc_id", hashes.alias("h"))
    h = F.col("h")
    m = F.size(h)
    fps = F.when(m <= 0, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(m - WINNOW_W + 1, F.lit(1))),
                lambda i: F.array_min(F.slice(h, i, WINNOW_W)),
            )
        )
    )
    # Pair generation goes through per-fingerprint POSTING LISTS, not a
    # self-join: grouping doc_ids per fp makes the expensive extraction
    # (k-gram md5 + window minima) a SINGLE-consumer pipeline — one map
    # pass, one shuffle on fp — where the equivalent self-join re-ran
    # the extraction for each join side (a measured 3x at sf0.1; the
    # posting-list plan cut 38s to ~11s). The document-frequency cap
    # bounds every list at WINNOW_MAX_DF docs, so the in-list pair
    # expansion is <= C(64,2) per fingerprint — no hot key can go
    # quadratic. fps are distinct per doc (array_distinct upstream),
    # so count(*) over emitted pairs == count(distinct fp).
    ex = base.select("doc_id", F.explode(fps).alias("fp"))
    posting = (
        ex.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_MAX_DF))
        .select(F.array_sort("ds").alias("ds"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    pairs = posting.select(F.explode(pair_structs).alias("p"))
    return (
        pairs.groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )


SQL_WINNOWING_SPAN_MATCHES = f"""
WITH {DOCS_WITH_DUPS_CTE},
toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM corpus),
hs AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {WINNOW_K} THEN
           list_transform(
             range(1, len(t) - {WINNOW_K} + 2),
             j -> CAST(('0x' || substr(md5(array_to_string(t[j:j+{WINNOW_K - 1}], ' ')), 1, 13)) AS BIGINT)
           )
         ELSE CAST([] AS BIGINT[]) END AS h
  FROM toks
),
fps AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, greatest(len(h) - {WINNOW_W} + 1, 1) + 1),
           i -> list_min(h[i:i+{WINNOW_W - 1}])
         )) AS fp
  FROM hs WHERE len(h) > 0
),
rare AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING COUNT(*) BETWEEN 2 AND {WINNOW_MAX_DF}
),
keyed AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS shared_fps
FROM keyed a JOIN keyed b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(DISTINCT a.fp) >= {WINNOW_MIN_SHARED}
"""


DIMVAR_TOPK = 10


def q_embedding_dim_variance(spark, sf_dir):
    """Embedding-space diagnostics: per-dimension mean/variance across
    the corpus, top-10 dimensions by variance with their explained
    share — the collapsed-dimension check run before training an ANN
    quantizer. Elements are fixed-point-quantized (EMB_Q_SCALE) so the
    distributed sums are order-exact integers; variance and the
    explained share are derived from those exact sums (num_d =
    n·Σq² − (Σq)² in DECIMAL(38,0)), so even the top-k ordering is
    deterministic. One shuffle on the 64-value dim key; the window
    total runs over 64 rows. The Σq² accumulation routes through
    exact_group_sums (runtime-sized salted two-phase: bigint inner
    sums on provably bounded buckets, decimal merge) so it has NO
    2^63 wrap ceiling — a raw bigint SUM of 1e12-magnitude terms
    silently wraps after ~9.2M rows/dim."""
    from ..operators.scaling import exact_group_sums

    emb = _emb(spark, sf_dir)
    n_vec, qmax, _d = _emb_qstats(spark, sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    q = F.floor(F.col("x").cast("double") * EMB_Q_SCALE).cast("bigint")
    per_dim = exact_group_sums(
        ex.select(F.col("dim").cast("bigint").alias("dim"), q.alias("q")),
        keys=["dim"],
        terms={"sq": F.col("q"), "sq2": F.col("q") * F.col("q")},
        n_rows=n_vec,  # each dim gets at most one row per vector
        max_abs_term=qmax * qmax,
    ).withColumnRenamed("n_rows", "n")
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("sq2").cast(dec)
        - F.col("sq").cast(dec) * F.col("sq").cast(dec)
    )
    scaled = per_dim.select(
        "dim",
        "n",
        (F.col("sq").cast("double") / EMB_Q_SCALE / F.col("n")).alias("mean_raw"),
        num.alias("num"),
    )
    tot = Window.partitionBy()
    out = scaled.select(
        "dim",
        "n",
        _flr("mean_raw", 6).alias("mean_x"),
        _flr(F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
            / (float(EMB_Q_SCALE) * float(EMB_Q_SCALE)), 6).alias("var_x"),
        _flr(F.col("num").cast("double")
            / F.sum(F.col("num")).over(tot).cast("double"), 6).alias("var_share"),
        F.col("num").alias("_num"),
    )
    return out.orderBy(F.desc("_num"), "dim").limit(DIMVAR_TOPK).drop("_num")


SQL_EMBEDDING_DIM_VARIANCE = f"""
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS x
  FROM embeddings
),
per_dim AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT)) AS BIGINT) AS sq,
         CAST(SUM(
           CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT)
           * CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT)
         ) AS BIGINT) AS sq2
  FROM ex GROUP BY 1
),
scaled AS (
  SELECT dim, n,
         CAST(sq AS DOUBLE) / {EMB_Q_SCALE} / n AS mean_raw,
         CAST(n AS DECIMAL(38,0)) * CAST(sq2 AS DECIMAL(38,0))
           - CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0)) AS num
  FROM per_dim
)
SELECT dim, n,
       FLOOR(CAST((mean_raw) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_x,
       FLOOR(CAST((CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / ({EMB_Q_SCALE}.0 * {EMB_Q_SCALE}.0)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS var_x,
       FLOOR(CAST((CAST(num AS DOUBLE) / CAST(SUM(num) OVER () AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS var_share
FROM scaled
ORDER BY num DESC, dim LIMIT {DIMVAR_TOPK}
"""


SOFTCAP_K = 4
SOFTCAP_SALT = "softcap-r6"


def q_domain_soft_cap(spark, sf_dir):
    """Frequency-aware domain balancing: keep at most
    ceil(K·sqrt(n_source)) docs per source (the soft cap web-corpus
    curation uses so mega-domains shrink super-linearly while the tail
    is untouched), chosen in deterministic md5 order. Reports the
    per-source keep/drop ledger. One window shuffle on source; the cap
    math is per-group scalars. At 100 TB the windowed rank is the
    standard per-key top-k shape — state is one counter per source."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit(SOFTCAP_SALT), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    cw = Window.partitionBy("source")
    ranked = docs.select("source", "doc_id").withColumn(
        "rk", F.row_number().over(w)
    ).withColumn("n_docs", F.count("*").over(cw).cast("bigint"))
    cap = F.ceil(F.lit(float(SOFTCAP_K)) * F.sqrt(F.col("n_docs").cast("double"))).cast("bigint")
    flagged = ranked.withColumn("cap", cap).withColumn(
        "kept", (F.col("rk") <= F.col("cap")).cast("int")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("cap").alias("cap"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.max("n_docs") - F.sum("kept")).cast("bigint").alias("n_dropped"),
        )
        .select("source", "n_docs", "cap", "n_kept", "n_dropped")
    )


SQL_DOMAIN_SOFT_CAP = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('{SOFTCAP_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM documents
),
flagged AS (
  SELECT source, n_docs,
         CAST(CEIL({SOFTCAP_K}.0 * SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS cap,
         CASE WHEN rk <= CAST(CEIL({SOFTCAP_K}.0 * SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)
              THEN 1 ELSE 0 END AS kept
  FROM ranked
)
SELECT source, MAX(n_docs) AS n_docs, MAX(cap) AS cap,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(MAX(n_docs) - SUM(kept) AS BIGINT) AS n_dropped
FROM flagged GROUP BY source
"""


DSIR_BUCKETS = 256
DSIR_TOPK = 25
DSIR_TARGET_LANG = "en"


def q_dsir_importance_weights(spark, sf_dir):
    """Data selection via importance resampling (the published DSIR
    recipe): score every document by its mean hashed-unigram
    log-likelihood ratio between a TARGET distribution (here the
    English subset) and the raw corpus, add-1 smoothed over
    DSIR_BUCKETS hash buckets; emit the top-25 selection. Scale shape:
    both n-gram models are hash aggregations onto a FIXED 256-bucket
    domain (tiny, skew-proof); the per-bucket log-ratio table
    broadcasts onto the token stream; one per-doc aggregate ends it.
    No model state ever exceeds DSIR_BUCKETS rows, no matter the
    corpus size. Ranking is on the ROUNDED score (+ doc_id tie-break)
    so both engines cut the same top-k."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(T.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (T.token_hash(F.col("tok")) % DSIR_BUCKETS).alias("b"),
    )
    raw = toks.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (
        toks.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    nr = raw.agg(F.sum("cr")).collect()[0][0]
    nt = tgt.agg(F.sum("ct")).collect()[0][0]
    lr = (
        raw.join(tgt, "b", "left")
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / F.lit(float(nt + DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / F.lit(float(nr + DSIR_BUCKETS))
                )
            ).alias("lr"),
        )
    )
    scored = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lr").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            _flr(F.col("s") / F.col("n_tokens").cast("double"), 6).alias(
                "dsir_weight"
            ),
        )
    )
    return scored.orderBy(F.desc("dsir_weight"), "doc_id").limit(DSIR_TOPK)


SQL_DSIR_IMPORTANCE_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(unnest({TOKENS_SQL})), 1, 13)) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM documents
),
raw AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
tgt AS (
  SELECT b, COUNT(*) AS ct FROM toks
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
),
totals AS (
  SELECT (SELECT SUM(cr) FROM raw) AS nr, (SELECT SUM(ct) FROM tgt) AS nt
),
lr AS (
  SELECT raw.b,
         LN((COALESCE(tgt.ct, 0) + 1) / CAST(t.nt + {DSIR_BUCKETS} AS DOUBLE))
           - LN((raw.cr + 1) / CAST(t.nr + {DSIR_BUCKETS} AS DOUBLE)) AS lr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN totals t
),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         FLOOR(CAST((SUM(lr) / COUNT(*)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dsir_weight
  FROM toks JOIN lr USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, dsir_weight
FROM scored ORDER BY dsir_weight DESC, doc_id LIMIT {DSIR_TOPK}
"""


#: Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", Table A1): word
#: count in [50, 100k], mean word length in [3, 10], symbol-to-word
#: ratio <= 0.1, >= 80% words with an alphabetic char, >= 2 distinct
#: required stopwords present. The line-shape rules (bullet/ellipsis
#: line starts) are omitted — this corpus is single-line.
GOPHER_WC_LO, GOPHER_WC_HI = 50, 100_000
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q_gopher_quality_flags(spark, sf_dir):
    """Gopher-rule quality screen (Rae et al. 2021): per-source pass
    counts for each published filter rule plus the all-rules pass
    count. Every threshold is evaluated in INTEGER arithmetic
    (3n <= Σlen <= 10n instead of 3 <= Σlen/n <= 10, 10·symbols <= n,
    5·n_alpha >= 4·n) so the flags are bit-identical cross-engine —
    no float ratio ever materializes. Scale shape: one projection of
    per-row flags (token array materialized once; the per-token work
    is lambda-variable-only inside interpreted HOFs) and one
    aggregation keyed by the low-cardinality source column.

    On this synthetic corpus n_stop is 0 everywhere: the vocabulary
    contains only 'the' from the required-stopword list, so the rule
    rejects every document — the intended behavior of the published
    filter on non-natural text (it is the one rule here that detects
    word-salad), not a dead flag."""
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "source", F.col("text"), T.tokens(F.col("text")).alias("_t")
    )
    t = F.col("_t")
    n = F.size(t)
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    n_sym = (
        T.occurrence_count(F.col("text"), "#")
        + T.occurrence_count(F.col("text"), "...")
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            t, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    flags = base.select(
        "source",
        (n >= GOPHER_WC_LO) & (n <= GOPHER_WC_HI),
        (F.lit(3) * n <= sum_len) & (sum_len <= F.lit(10) * n) & (n > 0),
        (F.lit(10) * n_sym <= n) & (n > 0),
        (F.lit(5) * n_alpha >= F.lit(4) * n) & (n > 0),
        n_stop >= 2,
    ).toDF("source", "wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok")
    cnt = lambda c: F.sum(F.col(c).cast("bigint")).alias("n_" + c[:-3])  # noqa: E731
    return flags.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        cnt("wc_ok"),
        cnt("mwl_ok"),
        cnt("sym_ok"),
        cnt("alpha_ok"),
        cnt("stop_ok"),
        F.sum(
            (
                F.col("wc_ok")
                & F.col("mwl_ok")
                & F.col("sym_ok")
                & F.col("alpha_ok")
                & F.col("stop_ok")
            ).cast("bigint")
        ).alias("n_pass"),
    )


_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)

SQL_GOPHER_QUALITY_FLAGS = f"""
WITH base AS (
  SELECT source, text, {TOKENS_SQL} AS t FROM documents
),
flags AS (
  SELECT source,
         len(t) AS n,
         (len(t) >= {GOPHER_WC_LO} AND len(t) <= {GOPHER_WC_HI}) AS wc_ok,
         (3 * len(t) <= list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
          AND list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT))) <= 10 * len(t)
          AND len(t) > 0) AS mwl_ok,
         (10 * ((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) // 3) <= len(t)
          AND len(t) > 0) AS sym_ok,
         (5 * len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) >= 4 * len(t)
          AND len(t) > 0) AS alpha_ok,
         (len(list_distinct(list_intersect(t, [{_GOPHER_STOP_SQL}]))) >= 2) AS stop_ok
  FROM base
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN wc_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_wc,
       CAST(SUM(CASE WHEN mwl_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl,
       CAST(SUM(CASE WHEN sym_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_sym,
       CAST(SUM(CASE WHEN alpha_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
       CAST(SUM(CASE WHEN stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       CAST(SUM(CASE WHEN wc_ok AND mwl_ok AND sym_ok AND alpha_ok AND stop_ok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source
"""


DUPSPAN_L = 16   # tokens per window (the published 50-token threshold
                 # scaled to this corpus's 30-60-token documents)


def q_dup_span_coverage(spark, sf_dir):
    """Exact-substring duplication metric (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of its tokens covered by some
    DUPSPAN_L-token window whose text occurs at least twice in the
    corpus. Implementation: hash every L-token window (position via
    posexplode), count occurrences per window hash corpus-wide
    (duplicated = count >= 2, including intra-doc repeats, per the
    paper), join the duplicated hashes back, and count each doc's
    DISTINCT covered token positions by exploding [pos, pos+L) —
    exact interval-union coverage without driver-side merging. Scale
    shape: the window-frequency table is one hash-keyed shuffle; the
    covered-position explode is a bounded L× fan-out over duplicated
    windows only (rare at web scale post-dedup), never over the whole
    corpus. Emits only docs with nonzero coverage."""
    docs = _docs_with_dups(spark, sf_dir)
    base = docs.select(
        "doc_id", T.tokens(F.col("text")).alias("_t")
    ).select(
        "doc_id",
        F.size("_t").alias("n_tokens"),
        F.posexplode(_word_grams(F.col("_t"), DUPSPAN_L)).alias("pos", "gram"),
    )
    wins = base.select(
        "doc_id", "n_tokens", "pos", T.token_hash(F.col("gram")).alias("h")
    )
    freq = wins.groupBy("h").agg(F.count("*").alias("c"))
    dup_wins = wins.join(
        freq.where(F.col("c") >= 2).select("h"), "h"
    )
    covered = dup_wins.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + DUPSPAN_L - 1)
        ).alias("p"),
    ).distinct()
    return (
        covered.groupBy("doc_id", "n_tokens")
        .agg(F.count("*").cast("bigint").alias("n_covered"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "n_covered",
            _flr(F.col("n_covered") / F.col("n_tokens").cast("double"), 6).alias("dup_coverage"),
        )
    )


SQL_DUP_SPAN_COVERAGE = f"""
WITH {DOCS_WITH_DUPS_CTE},
toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM corpus),
wins AS (
  SELECT doc_id, len(t) AS n_tokens,
         unnest(range(0, greatest(len(t) - {DUPSPAN_L} + 1, 0))) AS pos,
         t AS t2
  FROM toks
),
hashed AS (
  SELECT doc_id, n_tokens, pos,
         CAST(('0x' || substr(md5(array_to_string(t2[pos + 1:pos + {DUPSPAN_L}], ' ')), 1, 13)) AS BIGINT) AS h
  FROM wins
),
freq AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) >= 2),
covered AS (
  SELECT DISTINCT doc_id, n_tokens, unnest(range(pos, pos + {DUPSPAN_L})) AS p
  FROM hashed JOIN freq USING (h)
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_covered,
       FLOOR(CAST((COUNT(*) / CAST(n_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dup_coverage
FROM covered GROUP BY doc_id, n_tokens
"""


KMV_K = 64


def q_kmv_set_similarity(spark, sf_dir):
    """KMV (bottom-k / k-minimum-values) sketch set similarity: the
    per-event_type audience (distinct user set) is sketched as its K
    smallest md5-hash values; pairwise Jaccard is estimated from the
    bottom-K of the two sketches' union (share of union-sketch values
    present in both) and audited against the exact Jaccard. Scale
    shape: sketch construction is a two-phase bottom-k — a salted
    (event_type, uh%64) window bounds every partition before the final
    per-type rank over <= 64*K survivors, so no window ever sees a
    full audience; the pairwise stage touches only |types|^2 sketches
    of K values each. The exact audit joins distinct memberships on
    user_id (per-user fan-out bounded by |types|). The estimator is
    deterministic (md5 hashing), so the oracle reproduces it bit-for-
    bit alongside the exact value."""
    ev = _t(spark, sf_dir, "events")
    members = ev.select("event_type", "user_id").distinct()
    hashed = members.select(
        "event_type",
        T.token_hash(F.col("user_id").cast("string")).alias("uh"),
    ).distinct()
    w1 = Window.partitionBy("event_type", "salt").orderBy("uh")
    pre = (
        hashed.withColumn("salt", F.col("uh") % 64)
        .withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= KMV_K)
    )
    w2 = Window.partitionBy("event_type").orderBy("uh")
    sk = (
        pre.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= KMV_K)
        .select("event_type", "uh")
    )
    types = sk.select("event_type").distinct()
    tp = types.select(F.col("event_type").alias("ta")).join(
        types.select(F.col("event_type").alias("tb")),
        F.col("ta") < F.col("tb"),
    )
    va = tp.join(sk.select(F.col("event_type").alias("ta"), "uh"), "ta")
    vb = tp.join(sk.select(F.col("event_type").alias("tb"), "uh"), "tb")
    merged = (
        va.unionByName(vb)
        .groupBy("ta", "tb", "uh")
        .agg((F.count("*") == 2).alias("in_both"))
    )
    wu = Window.partitionBy("ta", "tb").orderBy("uh")
    # estimator denominator is the KEPT union-sketch size min(K, |union|),
    # not K: when both audiences fit in one sketch the union sketch IS
    # the union and the estimate collapses to the exact Jaccard
    # (tests/test_operators_r6b.py pins this small-set exactness)
    est = (
        merged.withColumn("rk", F.row_number().over(wu))
        .where(F.col("rk") <= KMV_K)
        .groupBy("ta", "tb")
        .agg(
            (
                F.sum(F.when(F.col("in_both"), 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("j_kmv_raw")
        )
    )
    sizes = members.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    inter = (
        members.alias("x")
        .join(members.alias("y"), F.col("x.user_id") == F.col("y.user_id"))
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("ta"),
            F.col("y.event_type").alias("tb"),
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    return (
        tp.join(
            sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a")),
            "ta",
        )
        .join(
            sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b")),
            "tb",
        )
        .join(inter, ["ta", "tb"], "left")
        .join(est, ["ta", "tb"])
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)).cast("bigint"))
        .select(
            "ta",
            "tb",
            "n_a",
            "n_b",
            "n_inter",
            _flr(F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"), 6).alias("j_exact"),
            _flr("j_kmv_raw", 6).alias("j_kmv"),
        )
    )


_UH_SQL = "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)"

SQL_KMV_SET_SIMILARITY = f"""
WITH members AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (SELECT DISTINCT event_type, {_UH_SQL} AS uh FROM members),
sk AS (
  SELECT event_type, uh FROM (
    SELECT event_type, uh,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY uh) AS rk
    FROM hashed) WHERE rk <= {KMV_K}
),
tp AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM sk) a
  JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type
),
uni AS (
  SELECT ta, tb, uh, COUNT(*) = 2 AS in_both FROM (
    SELECT tp.ta, tp.tb, s.uh FROM tp JOIN sk s ON s.event_type = tp.ta
    UNION ALL
    SELECT tp.ta, tp.tb, s.uh FROM tp JOIN sk s ON s.event_type = tp.tb
  ) GROUP BY ta, tb, uh
),
est AS (
  SELECT ta, tb,
         SUM(CASE WHEN in_both THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
           AS j_kmv_raw
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY uh) AS rk
    FROM uni) WHERE rk <= {KMV_K}
  GROUP BY ta, tb
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM members GROUP BY event_type
),
inter AS (
  SELECT x.event_type AS ta, y.event_type AS tb,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM members x
  JOIN members y ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT tp.ta, tp.tb, sa.n AS n_a, sb.n AS n_b,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       FLOOR(CAST((COALESCE(i.n_inter, 0)
             / CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS j_exact,
       FLOOR(CAST((e.j_kmv_raw) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS j_kmv
FROM tp
JOIN sizes sa ON sa.event_type = tp.ta
JOIN sizes sb ON sb.event_type = tp.tb
LEFT JOIN inter i ON i.ta = tp.ta AND i.tb = tp.tb
JOIN est e ON e.ta = tp.ta AND e.tb = tp.tb
"""


def q_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection over per-type daily event counts:
    the running sum of (daily count - per-type mean) peaks in absolute
    value at the most likely level-shift day. One shuffle keyed on
    (event_type, day) collapses the corpus to a tiny domain; every
    window after that (mean, cumulative sum, argmax rank) runs over
    |types| x |days| rows. The cumulative double sum is evaluated in
    the same day order on both engines, so the peak pick (rank on
    |cusum| desc with day tie-break) is deterministic."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("event_time").alias("d")
    ).agg(F.count("*").cast("bigint").alias("c"))
    wt = Window.partitionBy("event_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = daily.withColumn("m", F.avg("c").over(wt)).withColumn(
        "cusum", F.sum(F.col("c") - F.col("m")).over(wo)
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "d")
    return (
        cus.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("change_day"),
            F.col("c").alias("day_count"),
            _flr("m", 6).alias("mean_daily"),
            _flr("cusum", 6).alias("cusum_peak"),
        )
    )


SQL_CUSUM_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
stat AS (SELECT event_type, AVG(c) AS m FROM daily GROUP BY 1),
cus AS (
  SELECT d.event_type, d.d, d.c, s.m,
         SUM(d.c - s.m) OVER (
           PARTITION BY d.event_type ORDER BY d.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily d JOIN stat s USING (event_type)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS change_day, c AS day_count,
       FLOOR(CAST((m) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_daily, FLOOR(CAST((cusum) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cusum_peak
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY ABS(cusum) DESC, d) AS rk
  FROM cus) WHERE rk = 1
"""


SNM_WINDOW = 5
SNM_KEY_LEN = 32


def snm_lead_expr(col_name: str):
    """Numeric order-preserving coarsening of a string sort key: the
    big-endian integer value of the key's first 7 UTF-8 BYTES, zero-
    padded to a fixed 14 hex digits. Fixed-width padding keeps short
    keys ordered against longer ones ('b' = 0x62000000000000 sorts
    after 'aaaaaaa' = 0x61616161616161 exactly as the strings do),
    byte slicing keeps multi-byte chars inside the 56-bit budget
    (14 hex digits < 2^63, no conv overflow), and \\x00 padding sorts
    before every real byte. Keys sharing a 7-byte prefix coarsen to
    the same value — callers MUST keep the full key as a tie-break in
    their order columns."""
    return F.coalesce(
        F.conv(
            F.rpad(
                F.hex(F.substring(F.encode(col_name, "UTF-8"), 1, 7)),
                14,
                "0",
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(-1),
    )


def q_sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood near-dup mining — the classic alternative to
    LSH blocking (Hernandez & Stolfo 1995): sort the corpus by a
    normalized text-prefix key, compare each doc only against the next
    SNM_WINDOW docs in sort order, verify candidates with exact shingle
    Jaccard. Scale shape: the sort is a distributed range partition;
    global positions come from the bucketed two-phase numbering in
    operators/scaling.py (never a single-task window); candidate
    generation is a bounded W-way explode joined back on position
    equality — O(n*W) candidates total, quadratic in nothing."""
    docs = _docs_with_dups(spark, sf_dir)
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
            1,
            SNM_KEY_LEN,
        ).alias("snm_key"),
        F.array_distinct(
            D.shingles(F.col("text"), SHINGLE_N)
        ).alias("ss"),
    )
    # stable_row_number buckets on a numeric leading key; the big-endian
    # integer value of the key's first 7 UTF-8 BYTES, zero-padded to a
    # fixed 14 hex digits, is an order-preserving coarsening of the
    # lexicographic (byte-wise — Spark's string comparison) sort:
    # fixed-width padding makes 'b' (0x62000000000000) sort after
    # 'aaaaaaa' (0x61616161616161) exactly as the strings do, byte
    # slicing keeps multi-byte chars inside the 56-bit budget (7 bytes
    # = 14 hex digits < 2^63, no conv overflow), and \x00-padding sorts
    # before every real byte. Ties (shared 7-byte prefix) are broken by
    # the full snm_key in order_cols, so the parallel numbering
    # reproduces ROW_NUMBER() OVER (ORDER BY snm_key, doc_id).
    keyed = keyed.withColumn("lead", snm_lead_expr("snm_key"))
    pos = stable_row_number(
        keyed, order_cols=["lead", "snm_key", "doc_id"], out_col="rn"
    )
    probes = pos.select(
        "rn",
        F.col("doc_id").alias("id_a"),
        F.col("ss").alias("ss_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + SNM_WINDOW)
        ).alias("rn_b"),
    )
    cand = probes.join(
        pos.select(
            F.col("rn").alias("rn_b"),
            F.col("doc_id").alias("id_b"),
            F.col("ss").alias("ss_b"),
        ),
        "rn_b",
    )
    j = F.size(F.array_intersect("ss_a", "ss_b")).cast("double") / F.nullif(
        F.size(F.array_union("ss_a", "ss_b")).cast("double"), F.lit(0.0)
    )
    return (
        cand.withColumn("j", j)
        .where(F.col("j") >= NEAR_DUP_THRESHOLD)
        .select(
            "id_a",
            "id_b",
            (F.col("rn_b") - F.col("rn")).cast("bigint").alias("rank_gap"),
            _flr("j", 6).alias("jaccard"),
        )
    )


SQL_SORTED_NEIGHBORHOOD_PAIRS = f"""
WITH {DOCS_WITH_DUPS_CTE},
keyed AS (
  SELECT doc_id,
         substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                1, {SNM_KEY_LEN}) AS snm_key,
         {TOKENS_SQL} AS t
  FROM corpus
),
sh AS (
  SELECT doc_id, snm_key,
         list_distinct(
           CASE WHEN len(t) < {SHINGLE_N} THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(0, len(t) - {SHINGLE_N - 1}),
                                    i -> array_to_string(t[i+1:i+{SHINGLE_N}], ' '))
           END) AS ss
  FROM keyed
),
pos AS (
  SELECT doc_id, ss,
         ROW_NUMBER() OVER (ORDER BY snm_key, doc_id) AS rn
  FROM sh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
       FLOOR(CAST((CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
             / NULLIF(CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE),
                      0.0)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
FROM pos a JOIN pos b ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
      / NULLIF(CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE), 0.0)
      >= {NEAR_DUP_THRESHOLD}
"""


def q_bitwise_battery(spark, sf_dir):
    """Bitwise operator battery: row-level AND/OR/XOR, shifts and
    popcount plus the three bitwise AGGREGATES (bit_and/bit_or/bit_xor)
    grouped by return flag. Pure integer arithmetic — bit-identical on
    any engine; one partial-aggregated shuffle on a 3-value key."""
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey").cast("bigint")
    p = F.col("l_partkey").cast("bigint")
    row = li.select(
        "l_returnflag",
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        k.bitwiseXOR(p).alias("k_xor"),
        F.shiftleft(F.col("l_linenumber").cast("bigint"), 3).alias("ln_shl"),
        F.shiftright(k, 2).alias("k_shr"),
        F.bit_count(k).cast("bigint").alias("k_bits"),
    )
    return row.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.bit_and("k_and").cast("bigint").alias("agg_and"),
        F.bit_or("k_and").cast("bigint").alias("agg_or"),
        F.bit_xor("k_xor").cast("bigint").alias("agg_xor"),
        F.sum("ln_shl").cast("bigint").alias("sum_shl"),
        F.sum("k_shr").cast("bigint").alias("sum_shr"),
        F.sum("k_bits").cast("bigint").alias("sum_bits"),
        F.max("k_or").cast("bigint").alias("max_or"),
    )


SQL_BITWISE_BATTERY = """
WITH row_ops AS (
  SELECT l_returnflag,
         CAST(l_orderkey AS BIGINT) & 255 AS k_and,
         CAST(l_orderkey AS BIGINT) | 4096 AS k_or,
         xor(CAST(l_orderkey AS BIGINT), CAST(l_partkey AS BIGINT)) AS k_xor,
         CAST(l_linenumber AS BIGINT) << 3 AS ln_shl,
         CAST(l_orderkey AS BIGINT) >> 2 AS k_shr,
         CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS k_bits
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(BIT_AND(k_and) AS BIGINT) AS agg_and,
       CAST(BIT_OR(k_and) AS BIGINT) AS agg_or,
       CAST(BIT_XOR(k_xor) AS BIGINT) AS agg_xor,
       CAST(SUM(ln_shl) AS BIGINT) AS sum_shl,
       CAST(SUM(k_shr) AS BIGINT) AS sum_shr,
       CAST(SUM(k_bits) AS BIGINT) AS sum_bits,
       CAST(MAX(k_or) AS BIGINT) AS max_or
FROM row_ops GROUP BY l_returnflag
"""


COV_TOPK = 20


def q_embedding_covariance_topk(spark, sf_dir):
    """Top-|covariance| off-diagonal dimension pairs of the embedding
    matrix — the redundant-dimension screen run before whitening or
    product quantization. Elements are fixed-point-quantized
    (EMB_Q_SCALE, the embedding_dim_variance pattern) so all sums are
    order-exact integers; the covariance numerator n*Sxy - Sx*Sy and
    the per-dim variance numerators live in DECIMAL(38,0), making even
    the top-k ordering deterministic. Scale shape: the d^2 fan-out
    (explode i, then j>i over the kept array) partial-aggregates
    map-side, so the shuffle carries exactly d*(d-1)/2 rows no matter
    the corpus size; correlation derives from the exact numerators.
    All Σ(q·q) accumulations route through exact_group_sums
    (runtime-sized salted two-phase: bigint inner sums on provably
    bounded buckets, decimal merge), removing the 2^63 wrap ceiling a
    raw bigint SUM of 1e12-magnitude terms hits after ~9.2M rows."""
    from ..operators.scaling import exact_group_sums

    emb = _emb(spark, sf_dir)
    n_vec, qmax, _maxd = _emb_qstats(spark, sf_dir)
    d1 = emb.select(
        "embedding", F.posexplode("embedding").alias("i", "xi")
    )
    d2 = (
        d1.select(
            F.col("i").cast("bigint").alias("i"),
            F.floor(F.col("xi").cast("double") * EMB_Q_SCALE)
            .cast("bigint")
            .alias("qi"),
            F.posexplode("embedding").alias("j", "xj"),
        )
        .where(F.col("j") > F.col("i"))
        .select(
            "i",
            F.col("j").cast("bigint").alias("j"),
            "qi",
            F.floor(F.col("xj").cast("double") * EMB_Q_SCALE)
            .cast("bigint")
            .alias("qj"),
        )
    )
    dec = "decimal(38,0)"
    agg = exact_group_sums(
        d2,
        keys=["i", "j"],
        terms={
            "sqi": F.col("qi"),
            "sqj": F.col("qj"),
            "sij": F.col("qi") * F.col("qj"),
        },
        n_rows=n_vec,  # each (i, j) cell gets at most one row per vector
        max_abs_term=qmax * qmax,
    ).withColumnRenamed("n_rows", "n")
    num = (
        F.col("n").cast(dec) * F.col("sij").cast(dec)
        - F.col("sqi").cast(dec) * F.col("sqj").cast(dec)
    )
    # per-dim variance numerators (same quantization) for correlation
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    qd = F.floor(F.col("x").cast("double") * EMB_Q_SCALE).cast("bigint")
    per_dim = (
        exact_group_sums(
            ex.select(F.col("dim").cast("bigint").alias("dim"), qd.alias("q")),
            keys=["dim"],
            terms={"sq": F.col("q"), "sq2": F.col("q") * F.col("q")},
            n_rows=n_vec,
            max_abs_term=qmax * qmax,
        )
        .select(
            "dim",
            (
                F.col("n_rows").cast(dec) * F.col("sq2").cast(dec)
                - F.col("sq").cast(dec) * F.col("sq").cast(dec)
            ).alias("vnum"),
        )
    )
    scale2 = float(EMB_Q_SCALE) * float(EMB_Q_SCALE)
    joined = (
        agg.withColumn("num", num)
        .join(
            F.broadcast(per_dim.select(F.col("dim").alias("i"), F.col("vnum").alias("vi"))),
            "i",
        )
        .join(
            F.broadcast(per_dim.select(F.col("dim").alias("j"), F.col("vnum").alias("vj"))),
            "j",
        )
    )
    out = joined.select(
        "i",
        "j",
        "n",
        _flr(F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
            / scale2, 6).alias("cov_x"),
        _flr(F.col("num").cast("double")
            / F.sqrt(F.col("vi").cast("double") * F.col("vj").cast("double")), 6).alias("corr_x"),
        F.abs(F.col("num")).alias("_a"),
    )
    return (
        out.orderBy(F.desc("_a"), "i", "j").limit(COV_TOPK).drop("_a")
    )


SQL_EMBEDDING_COVARIANCE_TOPK = f"""
WITH d1 AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS i,
         unnest(embedding) AS xi, embedding AS e
  FROM embeddings
),
d2 AS (
  SELECT CAST(i AS BIGINT) AS i,
         CAST(FLOOR(CAST(xi AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT) AS qi,
         generate_subscripts(e, 1) - 1 AS j,
         unnest(e) AS xj
  FROM d1
),
d3 AS (
  SELECT i, CAST(j AS BIGINT) AS j, qi,
         CAST(FLOOR(CAST(xj AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT) AS qj
  FROM d2 WHERE j > i
),
agg AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qi) AS BIGINT) AS sqi,
         CAST(SUM(qj) AS BIGINT) AS sqj,
         CAST(SUM(qi * qj) AS BIGINT) AS sij
  FROM d3 GROUP BY i, j
),
ex AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {EMB_Q_SCALE}) AS BIGINT) AS q
  FROM embeddings
),
per_dim AS (
  SELECT dim,
         CAST(COUNT(*) AS DECIMAL(38,0)) * CAST(SUM(q * q) AS DECIMAL(38,0))
           - CAST(SUM(q) AS DECIMAL(38,0)) * CAST(SUM(q) AS DECIMAL(38,0)) AS vnum
  FROM ex GROUP BY dim
),
nums AS (
  SELECT a.i, a.j, a.n,
         CAST(a.n AS DECIMAL(38,0)) * CAST(a.sij AS DECIMAL(38,0))
           - CAST(a.sqi AS DECIMAL(38,0)) * CAST(a.sqj AS DECIMAL(38,0)) AS num,
         vi.vnum AS vi, vj.vnum AS vj
  FROM agg a
  JOIN per_dim vi ON vi.dim = a.i
  JOIN per_dim vj ON vj.dim = a.j
)
SELECT i, j, n,
       FLOOR(CAST((CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / ({EMB_Q_SCALE}.0 * {EMB_Q_SCALE}.0)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cov_x,
       FLOOR(CAST((CAST(num AS DOUBLE)
             / SQRT(CAST(vi AS DOUBLE) * CAST(vj AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS corr_x
FROM nums ORDER BY ABS(num) DESC, i, j LIMIT {COV_TOPK}
"""


def q_map_functions_battery(spark, sf_dir):
    """MapType round-trip battery: build a map from lineitem measure
    columns, push it through map_filter / transform_values /
    map_concat / element_at / map_keys, and reduce the results to
    scalars that ground-truth arithmetic reproduces WITHOUT maps — the
    oracle recomputes every output straight from the columns, so any
    divergence in Spark's map semantics (entry order, filter/transform
    laziness, concat precedence) surfaces as a value mismatch. All
    measures are quantized to integer cents before entering the map so
    the aggregates are order-exact. One partial-aggregated shuffle on
    the 3-value return flag."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c).cast("double") * 100).cast("bigint")
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price"), F.lit("disc")),
        F.array(cents("l_quantity"), cents("l_extendedprice"), cents("l_discount")),
    )
    # filter: keep entries >= 1000 cents; transform: double each value;
    # concat: overlay a constant tax entry (map_concat keeps the LAST
    # occurrence of a duplicate key under spark.sql.mapKeyDedupPolicy
    # defaults we avoid by using a fresh key).
    # The map is MATERIALIZED in its own projection first: Spark does
    # no CSE across expressions, so the inline form rebuilds
    # map_from_arrays once per consuming function (~1.3x slower,
    # A/B-measured) — the staged column is built once per row.
    base = li.select(
        "l_returnflag", cents("l_tax").alias("tax_c0"), m.alias("m")
    )
    mm = F.col("m")
    row = base.select(
        "l_returnflag",
        "m",
        F.map_filter(mm, lambda k, v: v >= 1000).alias("big"),
        F.transform_values(mm, lambda k, v: v * 2).alias("dbl"),
        F.map_concat(
            mm, F.create_map(F.lit("tax"), F.col("tax_c0"))
        ).alias("all4"),
    ).select(
        "l_returnflag",
        F.element_at("m", "price").alias("price_c"),
        F.size("big").cast("bigint").alias("n_big"),
        F.element_at("dbl", "qty").alias("qty2_c"),
        F.size("all4").cast("bigint").alias("n_all4"),
        F.element_at("all4", "tax").alias("tax_c"),
        F.array_join(F.array_sort(F.map_keys("all4")), ",").alias("keys_sorted"),
    )
    return row.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("price_c").cast("bigint").alias("sum_price_c"),
        F.sum("n_big").cast("bigint").alias("sum_big_entries"),
        F.sum("qty2_c").cast("bigint").alias("sum_qty2_c"),
        F.min("n_all4").cast("bigint").alias("min_n_all4"),
        F.sum("tax_c").cast("bigint").alias("sum_tax_c"),
        F.min("keys_sorted").alias("keys_sorted"),
    )


SQL_MAP_FUNCTIONS_BATTERY = """
WITH cents AS (
  SELECT l_returnflag,
         CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT) AS qty_c,
         CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS price_c,
         CAST(FLOOR(CAST(l_discount AS DOUBLE) * 100) AS BIGINT) AS disc_c,
         CAST(FLOOR(CAST(l_tax AS DOUBLE) * 100) AS BIGINT) AS tax_c
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(CASE WHEN qty_c >= 1000 THEN 1 ELSE 0 END
                + CASE WHEN price_c >= 1000 THEN 1 ELSE 0 END
                + CASE WHEN disc_c >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
         AS sum_big_entries,
       CAST(SUM(qty_c * 2) AS BIGINT) AS sum_qty2_c,
       CAST(4 AS BIGINT) AS min_n_all4,
       CAST(SUM(tax_c) AS BIGINT) AS sum_tax_c,
       'disc,price,qty,tax' AS keys_sorted
FROM cents GROUP BY l_returnflag
"""


def q_struct_order_battery(spark, sf_dir):
    """Struct-ordering battery: the argmax-via-struct idiom (max over
    struct(value, id) compares lexicographically) next to sort_array
    over an array of structs, pinned against the oracle's explicit
    window-rank derivation of the same winners. Quantized integer
    values make the comparisons exact; one shuffle on event_type."""
    ev = _events(spark, sf_dir)
    qv = F.floor(F.col("value").cast("double") * 1000).cast("bigint")
    rows = ev.select("event_type", qv.alias("qv"), F.col("event_id").cast("bigint").alias("eid"))
    agg = rows.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max(F.struct("qv", "eid")).alias("mx"),
        F.min(F.struct("qv", "eid")).alias("mn"),
    )
    # top-3 (qv, eid) per type via sort_array over collected structs is
    # intentionally avoided (unbounded per-group state); the battery
    # pins the scalar struct comparisons only
    return agg.select(
        "event_type",
        "n",
        F.col("mx.qv").alias("max_qv"),
        F.col("mx.eid").alias("max_eid"),
        F.col("mn.qv").alias("min_qv"),
        F.col("mn.eid").alias("min_eid"),
    )


SQL_STRUCT_ORDER_BATTERY = """
WITH rows_q AS (
  SELECT event_type,
         CAST(FLOOR(CAST(value AS DOUBLE) * 1000) AS BIGINT) AS qv,
         CAST(event_id AS BIGINT) AS eid
  FROM events
),
mx AS (
  SELECT event_type, qv, eid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY qv DESC, eid DESC) AS rk
    FROM rows_q) WHERE rk = 1
),
mn AS (
  SELECT event_type, qv, eid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY qv ASC, eid ASC) AS rk
    FROM rows_q) WHERE rk = 1
)
SELECT c.event_type, c.n,
       mx.qv AS max_qv, mx.eid AS max_eid,
       mn.qv AS min_qv, mn.eid AS min_eid
FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM rows_q GROUP BY event_type) c
JOIN mx ON mx.event_type = c.event_type
JOIN mn ON mn.event_type = c.event_type
"""


RFM_Q = 5


def q_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation with
    distributed quintile assignment: per-user recency days, event
    count, and integer-cent spend are each quintiled by RANK ARITHMETIC
    (floor(Q*rn/n) over the bucketed two-phase global numbering in
    operators/scaling.py) — never NTILE's single-task global window.
    Output is the segment-cell census. Scale shape: one user-keyed
    aggregation collapses the corpus; the three numberings run over the
    (much smaller) user dimension with bounded per-bucket windows."""
    ev = _events(spark, sf_dir)
    top = ev.agg(F.max("tsn").alias("mx")).head()["mx"]
    # the per-user frontier is consumed by seven downstream actions
    # (count + each numbering's min/max and bucket-count passes) —
    # persist it or every action re-aggregates the raw corpus
    per_user = _track_cached(
        ev.groupBy("user_id")
        .agg(
            ((F.lit(int(top)) - F.max("tsn")) / US_PER_DAY)
            .cast("bigint")
            .alias("rec_days"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("mon_c"),
        )
        .persist()
    )
    n_users = per_user.count()

    def quintile(df, metric, out):
        # ascending rank; recency ranks low = recent, frequency/monetary
        # low = small spender — segment digits read consistently
        ranked = stable_row_number(
            df, order_cols=[metric, "user_id"], out_col="_rn"
        )
        return ranked.withColumn(
            out, F.floor(F.lit(RFM_Q) * F.col("_rn") / F.lit(n_users)).cast("bigint")
        ).drop("_rn")

    seg = quintile(
        quintile(quintile(per_user, "rec_days", "r_q"), "freq", "f_q"),
        "mon_c",
        "m_q",
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("mon_c").cast("bigint").alias("seg_mon_c"),
    )


SQL_RFM_SEGMENTS = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(FLOOR((
           (SELECT MAX(epoch_us(ts)) FROM events) - MAX(epoch_us(ts))
         ) / {US_PER_DAY}.0) AS BIGINT) AS rec_days,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS mon_c
  FROM events GROUP BY user_id
),
n AS (SELECT COUNT(*) AS n_users FROM per_user),
seg AS (
  SELECT user_id, mon_c,
         CAST(FLOOR({RFM_Q} * (ROW_NUMBER() OVER (ORDER BY rec_days, user_id) - 1)
                    / n.n_users) AS BIGINT) AS r_q,
         CAST(FLOOR({RFM_Q} * (ROW_NUMBER() OVER (ORDER BY freq, user_id) - 1)
                    / n.n_users) AS BIGINT) AS f_q,
         CAST(FLOOR({RFM_Q} * (ROW_NUMBER() OVER (ORDER BY mon_c, user_id) - 1)
                    / n.n_users) AS BIGINT) AS m_q
  FROM per_user CROSS JOIN n
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(mon_c) AS BIGINT) AS seg_mon_c
FROM seg GROUP BY r_q, f_q, m_q
"""


HIER_LEVELS = 20  # supports user ids up to 2^20 - 1; explode prunes to depth+1


def q_hierarchy_rollup(spark, sf_dir):
    """Hierarchy closure + subtree rollup without iteration: with
    parent(u) = u div 2 (a complete binary org chart over the user id
    domain), every node's ancestor chain IS its bit-shift sequence
    u >> 0, u >> 1, ... — so the (ancestor, node) closure is a pure
    column-expression explode of at most depth+1 rows per node, and
    subtree aggregates are one groupBy over the closure. Scale shape:
    closure size is n*log(n) rows — no iterative joins, no recursion,
    no driver state; the same explode works for any power-of-two
    hierarchy encoding. Emits each ancestor's subtree size, event
    volume, and integer-cent value rollup for the top 3 levels."""
    ev = _events(spark, sf_dir)
    per_node = ev.groupBy(F.col("user_id").cast("bigint").alias("node")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("val_c"),
    )
    closure = per_node.select(
        "node",
        "n_events",
        "val_c",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.lit(HIER_LEVELS)),
                    # shiftright needs a literal count — floor-divide by
                    # 2^i instead (exact: node < 2^53 / 2^HIER_LEVELS)
                    lambda i: F.floor(
                        F.col("node") / F.pow(F.lit(2.0), i.cast("double"))
                    ).cast("bigint"),
                )
            )
        ).alias("anc"),
    )
    rolled = closure.groupBy("anc").agg(
        F.count("*").cast("bigint").alias("subtree_nodes"),
        F.sum("n_events").cast("bigint").alias("subtree_events"),
        F.sum("val_c").cast("bigint").alias("subtree_val_c"),
    )
    return rolled.where(F.col("anc") < 8).select(
        F.col("anc").alias("node"),
        "subtree_nodes",
        "subtree_events",
        "subtree_val_c",
    )


SQL_HIERARCHY_ROLLUP = f"""
WITH per_node AS (
  SELECT CAST(user_id AS BIGINT) AS node,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS val_c
  FROM events GROUP BY 1
),
closure AS (
  SELECT node, n_events, val_c,
         unnest(list_distinct(list_transform(range(0, {HIER_LEVELS} + 1),
                                             i -> node >> i))) AS anc
  FROM per_node
)
SELECT anc AS node,
       CAST(COUNT(*) AS BIGINT) AS subtree_nodes,
       CAST(SUM(n_events) AS BIGINT) AS subtree_events,
       CAST(SUM(val_c) AS BIGINT) AS subtree_val_c
FROM closure WHERE anc < 8 GROUP BY anc
"""


ZIPF_TOPK = 100


def q_zipf_slope(spark, sf_dir):
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-K corpus terms — the canonical sanity check that a text corpus
    is natural (slope near -1) rather than synthetic or boilerplate.
    Scale shape: one token-keyed count shuffle collapses the corpus to
    the vocabulary, a TakeOrdered keeps K rows, and everything after
    (rank window, the five OLS sums) runs over exactly K rows. The
    regression inputs are ln of exact integer counts, rounded at the
    end — the doc_lm_perplexity precedent for cross-engine logs."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "tok").limit(ZIPF_TOPK)
    w = Window.orderBy(F.desc("c"), "tok")
    ranked = top.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    ols = ranked.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.select(
        F.col("k").cast("bigint").alias("n_terms"),
        _flr(slope, 6).alias("zipf_slope"),
        _flr((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias("intercept"),
    )


SQL_ZIPF_SLOPE = f"""
WITH counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT unnest({TOKENS_SQL}) AS tok FROM documents
  ) GROUP BY tok
),
ranked AS (
  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
         LN(CAST(c AS DOUBLE)) AS y
  FROM (SELECT * FROM counts ORDER BY c DESC, tok LIMIT {ZIPF_TOPK})
),
ols AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM ranked
)
SELECT CAST(k AS BIGINT) AS n_terms,
       FLOOR(CAST(((k * sxy - sx * sy) / (k * sxx - sx * sx)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS zipf_slope,
       FLOOR(CAST(((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS intercept
FROM ols
"""


def q_readability_scores(spark, sf_dir):
    """Flesch reading-ease screen per source: words (whitespace
    tokens), sentences ([.!?] runs, floored at 1 per doc), syllables
    (vowel-run approximation) — all exact integer counts aggregated
    per source, the score computed once from the summed counts. One
    projection + one aggregation on the tiny source key; the regexes
    are JVM-side, no UDFs."""
    docs = _docs(spark, sf_dir)
    words = T.token_count(F.col("text"))
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syls = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")).cast(
        "bigint"
    )
    agg = (
        docs.select("source", words.alias("w"), sents.alias("s"), syls.alias("y"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("s").cast("bigint").alias("n_sents"),
            F.sum("y").cast("bigint").alias("n_syllables"),
        )
    )
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_sents",
        "n_syllables",
        _flr(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 6).alias("flesch"),
    )


SQL_READABILITY_SCORES = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS w,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
  FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sents,
         CAST(SUM(y) AS BIGINT) AS n_syllables
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_words, n_sents, n_syllables,
       FLOOR(CAST((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS flesch
FROM agg
"""


def q_lexical_diversity(spark, sf_dir):
    """Per-source lexical diversity: type-token ratio, Shannon entropy
    of the term distribution (H = ln N - (1/N)·Σ c·ln c), and the
    Simpson concentration index Σ c(c-1) / (N(N-1)) — the vocabulary-
    health metrics of a corpus census. One (source, token) count
    shuffle collapses the corpus to per-source vocabularies; the
    per-source reduction aggregates exact integer counts (entropy's
    c·ln c is the only float, rounded at the end)."""
    docs = _docs(spark, sf_dir)
    tc = (
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    agg = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclc"
        ),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("spairs"),
    )
    n = F.col("n_tokens").cast("double")
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        _flr(F.col("n_types") / n, 6).alias("type_token_ratio"),
        _flr(F.log(n) - F.col("sclc") / n, 6).alias("shannon_h"),
        _flr(F.col("spairs") / (n * (n - F.lit(1.0))), 6).alias("simpson"),
    )


SQL_LEXICAL_DIVERSITY = f"""
WITH tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest({TOKENS_SQL}) AS tok FROM documents
  ) GROUP BY source, tok
),
agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS sclc,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS spairs
  FROM tc GROUP BY source
)
SELECT source, n_tokens, n_types,
       FLOOR(CAST((n_types / CAST(n_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS type_token_ratio,
       FLOOR(CAST((LN(CAST(n_tokens AS DOUBLE))
             - sclc / CAST(n_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS shannon_h,
       FLOOR(CAST((spairs / (CAST(n_tokens AS DOUBLE)
             * (CAST(n_tokens AS DOUBLE) - 1.0))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS simpson
FROM agg
"""


BURST_TOPK = 20


def q_term_burstiness(spark, sf_dir):
    """Term burstiness for the top-K corpus terms: occurrences per
    containing document (n/df — a bursty term concentrates) and the
    variance-to-mean ratio of per-document counts including zero docs,
    computed entirely from exact integers ((Σc²·D - n²) / (n·D)) — a
    Poisson term has VMR 1, content words run far above it. Scale
    shape: one (doc, token) count shuffle (persisted — it feeds the
    sizing pre-pass and the reduction), one token-keyed reduction, a
    TakeOrdered for the K output terms; the corpus doc count is the
    only broadcast scalar. No floats until the final division. The
    Σc² reduction routes through exact_group_sums (a stopword's
    per-doc squares at web scale can pass 2^63), and the VMR
    numerator sc2·D − n² is assembled in DECIMAL(38,0) — n² alone
    wraps bigint once a term passes ~3e9 occurrences."""
    from ..operators.scaling import exact_group_sums

    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    per_doc = _track_cached(
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    cmax = int(
        per_doc.agg(F.max("c").alias("m")).head()["m"] or 1
    )
    per_term = exact_group_sums(
        per_doc.select("tok", "c"),
        keys=["tok"],
        terms={"n": F.col("c"), "sc2": F.col("c") * F.col("c")},
        n_rows=n_docs,  # a term appears in at most every document
        max_abs_term=max(cmax * cmax, 1),
    ).withColumnsRenamed({"n_rows": "df"})
    dec = "decimal(38,0)"
    d = F.lit(int(n_docs)).cast(dec)
    return (
        per_term.select(
            "tok",
            F.col("n").cast("bigint").alias("n"),
            "df",
            _flr(F.col("n").cast("double") / F.col("df").cast("double"), 6).alias("burstiness"),
            _flr((F.col("sc2") * d - F.col("n") * F.col("n")).cast("double")
                / (F.col("n") * d).cast("double"), 6).alias("vmr"),
        )
        .orderBy(F.desc("n"), "tok")
        .limit(BURST_TOPK)
    )


SQL_TERM_BURSTINESS = f"""
WITH per_doc AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  ) GROUP BY doc_id, tok
),
per_term AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c * c) AS BIGINT) AS sc2
  FROM per_doc GROUP BY tok
),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents)
SELECT tok, n, df,
       FLOOR(CAST((n / CAST(df AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS burstiness,
       FLOOR(CAST((CAST(sc2 * d.nd - n * n AS DOUBLE)
             / CAST(n * d.nd AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS vmr
FROM per_term CROSS JOIN d
ORDER BY n DESC, tok LIMIT {BURST_TOPK}
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("hash", "join")
BM25_TOPK = 10


def q_bm25_search(spark, sf_dir):
    """BM25-ranked conjunctive keyword search (Robertson/Spärck Jones —
    the default ranking function of every text search engine): posting
    lists for the query terms only (the filter pushes into the token
    stream — the inverted-index probe shape, never a full-vocabulary
    build), AND-intersection via the per-doc term-count pivot, score
    summed over terms with doc-length normalization. IDF and the
    per-term quotients come from exact integer counts; the only floats
    are the final log/division, rounded. Scale shape: one shuffle keyed
    on doc_id carrying ONLY rows whose token is a query term; corpus
    stats (N, avgdl) are two broadcast scalars."""
    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "doc_id", T.token_count(F.col("text")).alias("dl")
    )
    stats = lens.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("sdl"),
    ).head()
    n_docs, sum_dl = int(stats["n"]), int(stats["sdl"])
    hits = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df_per_term = hits.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df")
    )
    scored = (
        hits.join(F.broadcast(df_per_term), "tok")
        .join(lens, "doc_id")
        .select(
            "doc_id",
            "tok",
            "tf",
            (
                F.log(
                    (F.lit(float(n_docs)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (
                        1
                        - BM25_B
                        + BM25_B
                        * F.col("dl")
                        * F.lit(float(n_docs))
                        / F.lit(float(sum_dl))
                    )
                )
            ).alias("s"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms_hit"),
        F.sum("s").alias("score_raw"),
    )
    # conjunctive: every query term must match
    return (
        agg.where(F.col("n_terms_hit") == len(BM25_TERMS))
        .select("doc_id", _flr("score_raw", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

SQL_BM25_SEARCH = f"""
WITH lens AS (
  SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS dl FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl
  FROM lens
),
hits AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  ) WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY tok),
scored AS (
  SELECT h.doc_id,
         LN((CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (h.tf * ({BM25_K1} + 1))
           / (h.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl
              * CAST(s.n AS DOUBLE) / CAST(s.sdl AS DOUBLE))) AS sc
  FROM hits h
  JOIN dfs d USING (tok)
  JOIN lens l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, FLOOR(CAST((SUM(sc)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bm25
FROM scored GROUP BY doc_id
HAVING COUNT(*) = {len(BM25_TERMS)}
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
"""


def q_referential_integrity_audit(spark, sf_dir):
    """Cross-table referential-integrity audit over the star schema:
    orphan counts for every FK edge (orders→customer,
    lineitem→orders/part/supplier, customer/supplier→nation) plus the
    parent row counts — the data-quality gate run before any join-heavy
    workload is trusted. Each edge is a left-anti join against a
    DISTINCT key projection; dimension key sets broadcast, the two
    fact-side edges shuffle once on the key. Emits one row per edge."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    def edge(name, child, ckey, parent, pkey):
        orphans = child.select(F.col(ckey).alias("k")).join(
            parent.select(F.col(pkey).alias("k")).distinct(), "k", "left_anti"
        )
        return (
            child.agg(F.count("*").cast("bigint").alias("n_child"))
            .crossJoin(orphans.agg(F.count("*").cast("bigint").alias("n_orphans")))
            .select(
                F.lit(name).alias("fk_edge"),
                "n_child",
                "n_orphans",
            )
        )

    edges = [
        edge("orders.custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        edge("lineitem.orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        edge("lineitem.partkey->part", li, "l_partkey", part, "p_partkey"),
        edge("lineitem.suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        edge("customer.nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        edge("supplier.nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


SQL_REFERENTIAL_INTEGRITY_AUDIT = """
SELECT 'orders.custkey->customer' AS fk_edge,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_child,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.orderkey->orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem.partkey->part',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem.suppkey->supplier',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'customer.nationkey->nation',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
UNION ALL
SELECT 'supplier.nationkey->nation',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier s
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = s.s_nationkey))
"""


COOC_TOPK = 20
#: Fail-fast ceiling on distinct items per order: the co-occurrence
#: pair join is quadratic per basket (TPC-H baskets hold ≤7 lines; the
#: margin covers real-world carts while still catching a degenerate
#: "one order holds the catalog" feed before it becomes a cross join).
COOC_MAX_BASKET = 1000


def q_item_cooccurrence_topk(spark, sf_dir):
    """Item-item collaborative-filtering similarity from co-purchase
    counts: cosine(i,j) = c_ij / sqrt(c_i * c_j) over per-order item
    sets — the classic item-based recommender precompute. Scale shape:
    the pair generation is a self-join ON THE ORDER KEY (per-order
    quadratic, bounded by basket size — never an item-item cross; the
    ``COOC_MAX_BASKET`` contract fails fast on a pathological
    mega-basket before launching the quadratic join, mirroring
    blocked_jaccard_pairs' ``max_block_docs``), the per-item order
    counts join back as PLAIN shuffle joins — item cardinality is
    corpus-sized (a 100M-item catalog does not broadcast), so a hard
    broadcast hint here is a driver-OOM ceiling; AQE may still pick a
    broadcast at runtime when the measured side is small, which is the
    right split of responsibility — and the output is a TakeOrdered
    top-k. All counts are exact integers; the cosine is the only
    float, rounded, with (i, j) tie-breaks."""
    li = _t(spark, sf_dir, "lineitem")
    # persisted (r14, matching association_rules_lift): the distinct
    # basket table feeds the guard, BOTH self-join sides, and the item
    # totals — unpersisted, each consumer re-paid the lineitem scan +
    # distinct shuffle
    items = _track_cached(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
        ).distinct().persist()
    )
    oversized = (
        items.groupBy("ok")
        .agg(F.count("*").alias("n_items"))
        .where(F.col("n_items") > COOC_MAX_BASKET)
        .limit(5)
        .collect()
    )
    if oversized:
        worst = ", ".join(f"{r['ok']}={r['n_items']}" for r in oversized)
        raise ValueError(
            f"item_cooccurrence_topk: basket(s) exceed COOC_MAX_BASKET="
            f"{COOC_MAX_BASKET} distinct items ({worst}); the per-order "
            f"self-join is quadratic in basket size — cap or split the "
            f"offending baskets first"
        )
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "ok")
        .where(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("i"), F.col("b.item").alias("j")
        )
        .agg(F.count("*").cast("bigint").alias("c_ij"))
    )
    totals = items.groupBy("item").agg(F.count("*").cast("bigint").alias("c"))
    return (
        pairs.join(
            totals.select(F.col("item").alias("i"), F.col("c").alias("c_i")),
            "i",
        )
        .join(
            totals.select(F.col("item").alias("j"), F.col("c").alias("c_j")),
            "j",
        )
        .select(
            "i",
            "j",
            "c_ij",
            "c_i",
            "c_j",
            _flr(F.col("c_ij")
                / F.sqrt(F.col("c_i").cast("double") * F.col("c_j").cast("double")), 6).alias("cosine"),
        )
        .orderBy(F.desc("c_ij"), F.desc("cosine"), "i", "j")
        .limit(COOC_TOPK)
    )


SQL_ITEM_COOCCURRENCE_TOPK = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
pairs AS (
  SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c_ij
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY a.item, b.item
),
totals AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY item
)
SELECT p.i, p.j, p.c_ij, ti.c AS c_i, tj.c AS c_j,
       FLOOR(CAST((p.c_ij / SQRT(CAST(ti.c AS DOUBLE) * CAST(tj.c AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS cosine
FROM pairs p
JOIN totals ti ON ti.item = p.i
JOIN totals tj ON tj.item = p.j
ORDER BY p.c_ij DESC, cosine DESC, p.i, p.j LIMIT {COOC_TOPK}
"""


WOE_BAND = 25_000
WOE_BAD_STATUS = "F"


def q_woe_binning(spark, sf_dir):
    """Weight-of-evidence binning (the credit-scoring feature screen):
    per price band, WOE = ln((good_share)/(bad_share)) for the binary
    label o_orderstatus = 'F', plus each band's information-value
    contribution (good_share - bad_share) * WOE. All shares derive
    from exact integer counts (the two totals broadcast as scalars);
    ln is the only float, rounded — the ab_test_zscore precedent. One
    partial-aggregated shuffle on the small band key."""
    orders = _t(spark, sf_dir, "orders")
    banded = orders.select(
        F.floor(F.col("o_totalprice") / WOE_BAND).cast("bigint").alias("band"),
        F.when(F.col("o_orderstatus") == WOE_BAD_STATUS, 1)
        .otherwise(0)
        .alias("bad"),
    )
    per_band = banded.groupBy("band").agg(
        F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    tot = per_band.agg(
        F.sum("n_good").alias("g"), F.sum("n_bad").alias("b")
    ).head()
    g_tot, b_tot = int(tot["g"]), int(tot["b"])
    gs = F.col("n_good").cast("double") / float(g_tot)
    bs = F.col("n_bad").cast("double") / float(b_tot)
    woe = F.log(gs / bs)
    return per_band.where(
        (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    ).select(
        "band",
        "n_good",
        "n_bad",
        _flr(woe, 6).alias("woe"),
        _flr((gs - bs) * woe, 6).alias("iv_contrib"),
    )


SQL_WOE_BINNING = f"""
WITH banded AS (
  SELECT CAST(FLOOR(o_totalprice / {WOE_BAND}) AS BIGINT) AS band,
         CASE WHEN o_orderstatus = '{WOE_BAD_STATUS}' THEN 1 ELSE 0 END AS bad
  FROM orders
),
per_band AS (
  SELECT band,
         CAST(SUM(1 - bad) AS BIGINT) AS n_good,
         CAST(SUM(bad) AS BIGINT) AS n_bad
  FROM banded GROUP BY band
),
tot AS (SELECT SUM(n_good) AS g, SUM(n_bad) AS b FROM per_band)
SELECT band, n_good, n_bad,
       FLOOR(CAST((LN((CAST(n_good AS DOUBLE) / t.g)
                / (CAST(n_bad AS DOUBLE) / t.b))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS woe,
       FLOOR(CAST(((CAST(n_good AS DOUBLE) / t.g - CAST(n_bad AS DOUBLE) / t.b)
             * LN((CAST(n_good AS DOUBLE) / t.g)
                  / (CAST(n_bad AS DOUBLE) / t.b))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS iv_contrib
FROM per_band CROSS JOIN tot t
WHERE n_good > 0 AND n_bad > 0
"""


# ---------------------------------------------------------------------------


# round-14 second wave: sequential hypothesis testing (SPRT)
# ---------------------------------------------------------------------------

import math as _math

SPRT_CUT = 35.0  # success = event value at/above this (≈ fixture median)
SPRT_P0, SPRT_P1 = 0.4, 0.6  # H0 / H1 success rates
SPRT_ALPHA = SPRT_BETA = 0.05
#: per-observation LLR increments and Wald decision boundaries — Python
#: double literals embedded in BOTH plans, so each engine evaluates the
#: identical IEEE expression s·C1 + f·C2 over exact integer counts
SPRT_C1 = _math.log(SPRT_P1 / SPRT_P0)
SPRT_C2 = _math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
SPRT_LOG_A = _math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
SPRT_LOG_B = _math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))


def q_sprt_ab_monitor(spark, sf_dir):
    """Wald SPRT sequential monitor per event stream — the always-valid
    alternative to the fixed-horizon tests (``ab_test_zscore``,
    ``abtest_cuped``): walk each event_type's stream in time order,
    accumulate the Bernoulli log-likelihood ratio of H1 (p=0.6) vs H0
    (p=0.4) for success := value ≥ SPRT_CUT, and stop at the FIRST
    crossing of the Wald boundaries ±ln(19) (α=β=0.05). Reports the
    decision, how many observations it took, the success count at the
    stopping point, and the terminal LLR — the dashboard row a
    peeking-safe experiment monitor shows.

    Determinism + scale: the LLR at step i is s·C1 + (i−s)·C2 — a pure
    function of the integer prefix counts, never a running float sum —
    and both prefixes (observation index, success count) come from the
    bucketed two-phase ``stable_prefix_sum``, not a per-type ORDER BY
    window (5 event types over 100 TB = 5 single-task sorts
    otherwise). First-crossing is one min-struct aggregate; no
    driver-side walking anywhere."""
    from ..operators.scaling import stable_prefix_sum

    ev = _events(spark, sf_dir).select(
        "event_type",
        "tsn",
        "event_id",
        F.when(F.col("value") >= SPRT_CUT, 1).otherwise(0).alias("succ"),
        F.lit(1).alias("one"),
    )
    with_s = stable_prefix_sum(
        ev, order_cols=["tsn", "event_id"], value_col="succ",
        group_cols=["event_type"], out_col="s_excl",
    )
    with_i = stable_prefix_sum(
        with_s, order_cols=["tsn", "event_id"], value_col="one",
        group_cols=["event_type"], out_col="i_excl",
    )
    scored = with_i.select(
        "event_type",
        (F.col("i_excl") + 1).cast("bigint").alias("i"),
        (F.col("s_excl") + F.col("succ")).cast("bigint").alias("s"),
    ).withColumn(
        "llr",
        F.col("s").cast("double") * F.lit(SPRT_C1)
        + (F.col("i") - F.col("s")).cast("double") * F.lit(SPRT_C2),
    )
    firsts = (
        scored.where(
            (F.col("llr") >= SPRT_LOG_A) | (F.col("llr") <= SPRT_LOG_B)
        )
        .groupBy("event_type")
        .agg(F.min(F.struct(F.col("i"), F.col("s"))).alias("m"))
        .select("event_type", F.col("m.i").alias("i_dec"), F.col("m.s").alias("s_dec"))
    )
    tot = scored.groupBy("event_type").agg(
        F.max("i").alias("n"), F.max("s").alias("s_tot")
    )
    # firsts is ≤ #event_types rows BY CONSTRUCTION — broadcast it
    # explicitly (guide §3.1: the planner's pre-AQE estimate of the
    # prefix-sum subtree overshoots, and an SMJ on a 5-row domain would
    # waste two exchanges if AQE ever declined the runtime rewrite)
    joined = tot.join(F.broadcast(firsts), "event_type", "left").select(
        "event_type",
        F.coalesce(F.col("i_dec"), F.col("n")).alias("n_at_decision"),
        F.coalesce(F.col("s_dec"), F.col("s_tot")).alias("successes"),
        F.col("i_dec").isNull().alias("_open"),
    )
    llr_at = F.col("successes").cast("double") * F.lit(SPRT_C1) + (
        F.col("n_at_decision") - F.col("successes")
    ).cast("double") * F.lit(SPRT_C2)
    return joined.select(
        "event_type",
        F.when(F.col("_open"), F.lit("continue"))
        .when(llr_at >= SPRT_LOG_A, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.col("n_at_decision").cast("bigint").alias("n_at_decision"),
        F.col("successes").cast("bigint").alias("successes"),
        _flr(llr_at, 6).alias("llr"),
    ).orderBy("event_type")


SQL_SPRT_AB_MONITOR = f"""
WITH seq AS (
  SELECT event_type,
         CAST(row_number() OVER w AS BIGINT) AS i,
         CAST(SUM(CASE WHEN value >= {SPRT_CUT!r} THEN 1 ELSE 0 END)
              OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
),
scored AS (
  SELECT event_type, i, s,
         CAST(s AS DOUBLE) * {SPRT_C1!r}
           + CAST(i - s AS DOUBLE) * {SPRT_C2!r} AS llr
  FROM seq
),
firsts AS (
  SELECT event_type, MIN(i) AS i_dec
  FROM scored
  WHERE llr >= {SPRT_LOG_A!r} OR llr <= {SPRT_LOG_B!r}
  GROUP BY 1
),
tot AS (
  SELECT event_type, MAX(i) AS n, MAX(s) AS s_tot FROM scored GROUP BY 1
)
SELECT t.event_type,
       CASE WHEN f.i_dec IS NULL THEN 'continue'
            WHEN sc.llr >= {SPRT_LOG_A!r} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       CAST(COALESCE(f.i_dec, t.n) AS BIGINT) AS n_at_decision,
       CAST(sc.s AS BIGINT) AS successes,
       FLOOR(CAST(sc.llr AS DOUBLE) * 1e6 + 0.5) / 1e6 AS llr
FROM tot t
LEFT JOIN firsts f USING (event_type)
JOIN scored sc
  ON sc.event_type = t.event_type AND sc.i = COALESCE(f.i_dec, t.n)
ORDER BY t.event_type
"""
