"""Corpus-wide exact line dedup, KN bigram LM, NB/logreg classifiers, mixture math, WordPiece/unigram learning, cross-lingual dedup, streaming near-dup.

Mechanical split of entry_queries.py lines 19065-24081 (r13 verdict
task 6); statement order preserved. The fold below reproduces the
original single-module namespace for everything defined earlier.
"""

from __future__ import annotations

from ._fold import fold_upto

fold_upto(globals(), 'corpusops')

# round-10 batch: corpus-wide exact line dedup, KN-smoothed bigram LM,
# unigram-LM (SentencePiece-style) tokenizer vocabulary learning
# ---------------------------------------------------------------------------

#: The per-line family's shared line-explode, as a DuckDB CTE fragment
#: (mirrors _doc_lines; both line_quality_filter and line_dedup_exact
#: compose it).
LX_CTE_SQL = f"""tl AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
lx0 AS (
  SELECT doc_id,
         list_transform(
           range(0, (len(t) + {LINE_TOKENS - 1}) // {LINE_TOKENS}),
           i -> struct_pack(
             idx := CAST(i AS INT),
             lt := t[i * {LINE_TOKENS} + 1 : i * {LINE_TOKENS} + {LINE_TOKENS}]
           )
         ) AS ls
  FROM tl
),
lx AS (
  SELECT doc_id, u.idx AS line_idx, u.lt AS lt
  FROM (SELECT doc_id, unnest(ls) AS u FROM lx0)
)"""


def q_line_dedup_exact(spark, sf_dir):
    """CCNet STAGE-1 corpus-wide exact line dedup WITH REWRITE — the
    per-line md5 first-occurrence pass that runs BEFORE per-line
    quality filtering (line_quality_filter): hash every line of every
    document, keep only each hash's corpus-wide first occurrence (by
    (doc_id, line_idx) — the same owner rule as paragraph_dedup), and
    reassemble the surviving lines in original order. This is the pass
    that strips cross-site boilerplate (nav bars, cookie banners)
    before any model-based scoring sees it.

    Scale shape: reuses the per-line family's persisted line-explode
    (_doc_lines); ownership is a struct-min aggregation on the line
    hash (one shuffle on md5-uniform keys, bounded state per hash —
    never a window over the corpus-wide line stream) + one keyed join
    back; reassembly is one aggregate per doc. Cross-engine exactness:
    the keep decision is an integer (doc_id, line_idx) total-order
    minimum; counts are integers; the rewrite is emitted as md5 of the
    kept-line concatenation (rows stay O(1) wide, the paragraph_dedup
    convention)."""
    lx = _doc_lines(spark, sf_dir)
    inst = lx.select(
        "doc_id",
        "line_idx",
        "lt",
        F.md5(F.concat_ws(" ", F.col("lt"))).alias("h"),
    )
    owners = inst.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_idx")).alias("first"),
        F.count("*").cast("bigint").alias("n_copies"),
    )
    j = inst.join(owners, "h").select(
        "doc_id",
        "line_idx",
        "lt",
        "n_copies",
        (F.struct("doc_id", "line_idx") == F.col("first")).alias("kept"),
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("kept").cast("bigint")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.size("lt")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.sum(F.when(F.col("kept"), F.col("n_copies") - 1).otherwise(0))
        .cast("bigint")
        .alias("copies_owned"),
        F.md5(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kept"),
                                    F.struct("line_idx", "lt"),
                                )
                            )
                        ),
                        lambda s: s["lt"],
                    )
                ),
            )
        ).alias("rewrite_md5"),
    )


SQL_LINE_DEDUP_EXACT = f"""
WITH {LX_CTE_SQL},
inst AS (
  SELECT doc_id, line_idx, lt, md5(array_to_string(lt, ' ')) AS h FROM lx
),
ranked AS (
  SELECT doc_id, line_idx, lt,
         COUNT(*) OVER (PARTITION BY h) AS n_copies,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, line_idx) AS rk
  FROM inst
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk = 1 THEN len(lt) ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       CAST(SUM(CASE WHEN rk = 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT)
         AS copies_owned,
       md5(COALESCE(string_agg(
         CASE WHEN rk = 1 THEN array_to_string(lt, ' ') END,
         ' ' ORDER BY line_idx), '')) AS rewrite_md5
FROM ranked
GROUP BY doc_id
"""


#: Kneser-Ney absolute discount. 0.75 is the textbook fixed value (the
#: Chen–Goodman estimate D = n1/(n1+2·n2) is corpus-derived; a fixed
#: literal keeps the cross-engine arithmetic pinned).
KN_DISCOUNT = 0.75


def q_kn_bigram_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity per document — the
    KenLM-faithful upgrade of doc_lm_perplexity's MLE model:

        p(w2|w1) = max(c12 − D, 0)/c1 + ((D·N1+(w1·))/c1) · (N1+(·w2)/T)

    where N1+(w1·) is the distinct-continuation count of the history,
    N1+(·w2) the distinct-history (continuation) count of the word, and
    T the distinct bigram-type total. Unlike the MLE filter, mass is
    reserved for unseen continuations (the backoff term), so a document
    whose bigrams are rare-but-observed is not scored degenerately
    against one sharing mass with the open vocabulary — the smoothing
    every production KenLM quality filter runs with.

    Scale shape: bigram/history/continuation count tables are three
    hash aggregates on uniform string keys off ONE bigram explode; the
    scorer is that stream joined back on (w1,w2), w1, w2 (AQE decides
    broadcast vs shuffle; the type-total rides a broadcast 1-row
    frame); one aggregate per doc. Exactness: all counts are integers;
    p is one identically-parenthesised double expression whose ln is
    quantized per BIGRAM TYPE onto the NLL_LATTICE (floor(ln p·1e9)
    BIGINT — the only transcendental); the per-doc sum is exact
    integer arithmetic and the reported per-token mean NLL is the
    rounded double of an exact integer ratio. The headline column is
    kn_mean_nll (= ln of the perplexity) rather than exp(mean) — a
    quality filter thresholds either identically, and exp of a sum of
    engine-ln terms is exactly the hash surface the r10 verdict
    flagged."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    tl = docs.select("doc_id", toks.alias("t")).where(F.size("t") >= 2)
    big = tl.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # persisted: the bigram TYPE table feeds four consumers (the
    # history/continuation/type-total counts and the scorer join) —
    # uncached, each reference re-runs the corpus-sized bigram explode
    # (5 parquet scans of documents); cached, the model tables all
    # derive from the (w1,w2)-domain cache and the corpus is read only
    # for the two bigram-stream passes (cb build + scorer).
    cb = _track_cached(
        big.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        .persist()
    )
    hist = cb.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1f"),
    )
    cont = cb.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1b"))
    types = cb.agg(F.count("*").cast("bigint").alias("n_types"))
    d = F.lit(KN_DISCOUNT)
    c1d = F.col("c1").cast("double")
    p = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0)) / c1d
        + d
        * F.col("n1f").cast("double")
        / c1d
        * (F.col("n1b").cast("double") / F.col("n_types").cast("double"))
    )
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(hist, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.floor(F.log(p) * F.lit(float(NLL_LATTICE))).cast("bigint")
            )
            .cast("bigint")
            .alias("lpq"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        _flr((-F.col("lpq")).cast("double")
            / (F.col("n_bigrams") * F.lit(NLL_LATTICE)).cast("double"), 6).alias("kn_mean_nll"),
    )


SQL_KN_BIGRAM_PERPLEXITY = f"""
WITH tl AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
  WHERE len({TOKENS_SQL}) >= 2
),
big AS (
  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM tl
),
cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
hist AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM cb GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1b FROM cb GROUP BY w2),
types AS (SELECT COUNT(*) AS n_types FROM cb),
scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(CAST(FLOOR(ln(
           GREATEST(CAST(c12 AS DOUBLE) - {KN_DISCOUNT!r}, 0.0)
             / CAST(c1 AS DOUBLE)
           + {KN_DISCOUNT!r} * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
             * (CAST(n1b AS DOUBLE) / CAST(n_types AS DOUBLE))
         ) * {float(NLL_LATTICE)!r}) AS BIGINT)) AS BIGINT) AS lpq
  FROM big JOIN cb USING (w1, w2) JOIN hist USING (w1) JOIN cont USING (w2),
       types
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       FLOOR(CAST((CAST(-lpq AS DOUBLE)
             / CAST(n_bigrams * {NLL_LATTICE} AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kn_mean_nll
FROM scored
"""


UNI_MAXLEN = 4  # longest candidate piece (chars)
UNI_SEED_PERMILLE = 2  # seed: substrings holding >=2permille of substring mass
#: per-round keep thresholds: a piece survives round k iff its usage
#: share of the round's segmentation mass is >= this many permille.
#: Rising schedule => the vocabulary keeps shrinking (SentencePiece
#: prunes toward a target size); single-character pieces are exempt
#: (required-char set, guarantees segmentability).
UNI_PRUNE_PERMILLE = (5, 10, 20)


def q_unigram_lm_learning(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer vocabulary learning —
    the EM companion of bpe_merge_learning: seed a candidate vocabulary
    with every frequent substring (length ≤ UNI_MAXLEN), then run
    fixed-K hard-EM rounds of (segment the corpus under the current
    vocabulary → re-estimate piece usage counts → prune low-likelihood
    pieces), and report the final vocabulary with its unigram
    negative log-probabilities. Segmentation is deterministic greedy
    longest-match (hard-EM / WordPiece-inference variant of Viterbi:
    the segmentation step is a total function of the vocabulary set, so
    both engines replay it exactly — no float DP scores to tie-break);
    pruning drops pieces below a rising usage-share threshold, the
    count-proxy of SentencePiece's lowest-likelihood-loss pruning, with
    single characters exempt (the required-char set).

    Scale shape: the corpus is touched ONCE (tokenize → word-frequency
    aggregate, one shuffle on the word key, persisted); the substring
    expansion, every segmentation, and every count table live on the
    collapsed (word) / (piece) vocabulary domain — millions of rows at
    web scale, never corpus-sized. Per round: one join of the persisted
    substring-position table against the current vocabulary, a
    longest-match table groupBy, a per-word map, and ONE pass of the
    greedy walk as a JVM higher-order aggregate (lambda touches only
    lambda vars and plain column refs — the interpreted-HOF CSE rule).
    K is fixed; there are NO driver-side collects: the whole K-round
    loop is one lazy plan, with each round's count table persisted to
    break the (counts → total, counts → vocab) diamond that would
    otherwise double the upstream chain per round.

    Exactness: all counts and prune comparisons are integers
    (cnt·1000 ≥ permille·total — no float shares); the only floats are
    the final reported -ln(cnt/total), identical single expressions
    rounded to 6dp. The DuckDB oracle replays the K rounds as chained
    CTEs whose walk is a recursive CTE over a materialized
    longest-match table."""
    docs = _docs(spark, sf_dir)
    wf = _track_cached(
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .persist()
    )
    # SQL-side lambdas on purpose: PySpark 4.1.2's PYTHON lambda
    # conversion miscompiles substring(w, <lambda var>, <literal>)
    # (the length argument comes back as pos-1); the SQL parser path
    # is correct, so the substring expansion and the greedy walk below
    # are F.expr strings.
    subs_expr = f"""
flatten(transform(sequence(1, {UNI_MAXLEN}), L ->
  CASE WHEN length(w) >= L THEN
    transform(sequence(1, length(w) - L + 1),
              s -> struct(CAST(s AS INT) AS s, substring(w, s, L) AS piece))
  ELSE CAST(array() AS array<struct<s:int,piece:string>>) END))
"""
    # r14: only length ≥ 2 substrings are persisted — the vocabulary is
    # seeded from the len≥2 mass table and every later consumer joins
    # subs against a vocab whose pieces are len≥2 by construction (the
    # greedy walk's single-char fallback comes from the walk expression
    # itself, never from this table), so the len-1 rows — one per
    # character position of every word — were cached and re-joined K+1
    # times without ever surviving a join
    subs = _track_cached(
        wf.select("w", "freq", F.explode(F.expr(subs_expr)).alias("sp"))
        .select("w", "freq", F.col("sp.s").alias("s"), F.col("sp.piece").alias("piece"))
        .where(F.length("piece") >= 2)
        .persist()
    )
    mass = _track_cached(
        subs.groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .persist()
    )
    tot0 = mass.agg(F.sum("cnt").cast("bigint").alias("t"))
    vocab = (
        mass.crossJoin(F.broadcast(tot0))
        .where(F.col("cnt") * 1000 >= F.lit(UNI_SEED_PERMILLE) * F.col("t"))
        .select("piece")
    )

    def segment_counts(vocab_df):
        """One greedy-longest-match segmentation of the word domain
        under vocab_df, returning the persisted (piece, cnt) table."""
        best = (
            subs.join(vocab_df, "piece")
            .groupBy("w", "s")
            .agg(F.max(F.length("piece")).cast("int").alias("l"))
        )
        maps = best.groupBy("w").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("s").cast("string").alias("k"), F.col("l").alias("v"))
                )
            ).alias("m")
        )
        walk_expr = """
aggregate(
  sequence(1, length(w)),
  struct(CAST(1 AS INT) AS p, CAST(array() AS array<string>) AS ps),
  (acc, i) -> CASE WHEN i != acc.p THEN acc ELSE
    named_struct(
      'p', CAST(acc.p + coalesce(element_at(m, CAST(acc.p AS STRING)), 1)
                AS INT),
      'ps', concat(acc.ps, array(substring(w, acc.p,
              coalesce(element_at(m, CAST(acc.p AS STRING)), 1)))))
  END
).ps
"""
        seg = wf.join(maps, "w", "left").select(
            F.explode(F.expr(walk_expr)).alias("piece"), "freq"
        )
        return _track_cached(
            seg.groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .persist()
        )

    for permille in UNI_PRUNE_PERMILLE:
        cnt = segment_counts(vocab)
        tot = cnt.agg(F.sum("cnt").cast("bigint").alias("t"))
        vocab = (
            cnt.where(F.length("piece") >= 2)
            .crossJoin(F.broadcast(tot))
            .where(F.col("cnt") * 1000 >= F.lit(permille) * F.col("t"))
            .select("piece")
        )
    final_cnt = segment_counts(vocab)
    final_tot = final_cnt.agg(F.sum("cnt").cast("bigint").alias("t"))
    # the reported -ln p is quantized onto the NLL_LATTICE before the
    # 6dp round so the hashed double is a deterministic function of
    # integers (engine-ln ulps can only flip the per-piece floor, a
    # vocabulary-sized knife-edge population — the r11 hardening)
    return final_cnt.crossJoin(F.broadcast(final_tot)).select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "cnt",
        _flr(F.floor(
                (-F.log(F.col("cnt").cast("double") / F.col("t").cast("double")))
                * F.lit(float(NLL_LATTICE))
            ).cast("double")
            / F.lit(float(NLL_LATTICE)), 6).alias("neg_logp"),
    )


def _unigram_walk_sql(k: int, vocab: str) -> str:
    """One oracle EM round: the longest-match table (a plain join —
    NOT a correlated subquery; DuckDB's correlated MAX inside a
    recursive CTE proved non-deterministic), the recursive greedy walk,
    and the round's count/total tables. MATERIALIZED hints keep DuckDB
    from re-expanding the chain per reference."""
    return f"""
best{k} AS MATERIALIZED (
  SELECT s.w, s.s AS p, MAX(length(s.piece)) AS l
  FROM subs s JOIN {vocab} v ON s.piece = v.piece
  GROUP BY s.w, s.s
),
walk{k} AS (
  SELECT w, freq, CAST(1 AS INT) AS p, CAST([] AS VARCHAR[]) AS ps FROM wf
  UNION ALL
  SELECT x.w, x.freq, CAST(x.p + COALESCE(b.l, 1) AS INT) AS p,
         list_append(x.ps, substr(x.w, x.p, COALESCE(b.l, 1))) AS ps
  FROM walk{k} x LEFT JOIN best{k} b ON b.w = x.w AND b.p = x.p
  WHERE x.p <= length(x.w)
),
seg{k} AS (SELECT unnest(ps) AS piece, freq FROM walk{k} WHERE p > length(w)),
cnt{k} AS MATERIALIZED (SELECT piece, SUM(freq) AS cnt FROM seg{k} GROUP BY piece),
tot{k} AS MATERIALIZED (SELECT SUM(cnt) AS t FROM cnt{k})"""


def _unigram_oracle_sql() -> str:
    n = len(UNI_PRUNE_PERMILLE)
    parts = [
        "WITH RECURSIVE",
        f"toks AS (SELECT {TOKENS_SQL} AS t FROM documents),",
        "wf AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM"
        " (SELECT unnest(t) AS w FROM toks) GROUP BY w),",
        "subs AS MATERIALIZED (",
        "  SELECT w, freq, substr(w, s, L) AS piece, s",
        "  FROM wf,",
        "       LATERAL (SELECT unnest(range(1, length(w)+1)) AS s) ss,",
        f"       LATERAL (SELECT unnest([{','.join(str(i) for i in range(1, UNI_MAXLEN + 1))}]) AS L) ll",
        "  WHERE s + L - 1 <= length(w)",
        "),",
        "mass AS (SELECT piece, SUM(freq) AS m FROM subs"
        " WHERE length(piece) >= 2 GROUP BY piece),",
        "tot0 AS (SELECT SUM(m) AS t FROM mass),",
        "vocab0 AS MATERIALIZED (SELECT piece FROM mass, tot0"
        f" WHERE m * 1000 >= {UNI_SEED_PERMILLE} * t)",
    ]
    for i, permille in enumerate(UNI_PRUNE_PERMILLE, start=1):
        parts.append("," + _unigram_walk_sql(i, f"vocab{i - 1}"))
        parts.append(
            f", vocab{i} AS MATERIALIZED (SELECT piece FROM cnt{i}, tot{i}"
            f" WHERE length(piece) >= 2 AND cnt * 1000 >= {permille} * t)"
        )
    parts.append("," + _unigram_walk_sql(n + 1, f"vocab{n}"))
    parts.append(
        f"""
SELECT piece, CAST(length(piece) AS INT) AS piece_len,
       CAST(cnt AS BIGINT) AS cnt,
       FLOOR(CAST((CAST(FLOOR((-ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)))
                        * {float(NLL_LATTICE)!r}) AS DOUBLE)
             / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS neg_logp
FROM cnt{n + 1}, tot{n + 1}"""
    )
    return "\n".join(parts)


SQL_UNIGRAM_LM_LEARNING = _unigram_oracle_sql()


def q_exact_substr_dedup(spark, sf_dir):
    """Exact-substring deduplication WITH REWRITE (the ExactSubstr
    remover of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") — the removal companion of
    dup_span_coverage (which only measures): every DUPSPAN_L-token
    window that occurs more than once corpus-wide keeps only its FIRST
    occurrence (minimum (doc_id, pos) — the paragraph_dedup owner
    rule); all token positions covered by a non-owned duplicated
    window are removed from their documents and the survivors are
    reassembled in original order.

    Scale shape: the window-hash table is built once, persisted, and
    shared by the frequency/owner aggregation and the removal join
    (both shuffle on the md5-uniform hash key; ownership is a
    struct-min, never a corpus-wide window function); the
    covered-position explode is a bounded L× fan-out over NON-OWNED
    duplicated windows only — rare at web scale, exactly the rows being
    deleted. The rewrite is a per-doc array filter (positions not in
    the removed set) — document-bounded, no shuffle beyond the one
    removed-positions aggregate. Exactness: md5 hashes, integer
    positions, integer total-order ownership; the rewrite is emitted as
    md5 of the kept-token join (O(1)-wide rows, the paragraph_dedup
    convention)."""
    docs = _docs_with_dups(spark, sf_dir)
    # persisted: the tokenized corpus feeds BOTH the window-hash build
    # and the final rewrite join — uncached, the rewrite re-tokenizes
    # (and _docs_with_dups' union re-reads the corpus twice per
    # reference)
    base = _track_cached(
        docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 1)
        .persist()
    )
    wins = _track_cached(
        base.select(
            "doc_id",
            F.posexplode(_word_grams(F.col("t"), DUPSPAN_L)).alias(
                "pos", "gram"
            ),
        )
        .select("doc_id", "pos", T.token_hash(F.col("gram")).alias("h"))
        .persist()
    )
    owners = wins.groupBy("h").agg(
        F.count("*").alias("c"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    removed = (
        wins.join(owners.where(F.col("c") >= 2), "h")
        .where(F.struct("doc_id", "pos") != F.col("first"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + DUPSPAN_L)
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("rp"))
    )
    j = base.join(removed, "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce(F.col("rp"), F.array().cast("array<int>")).alias("rp"),
    )
    return j.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size("rp").cast("bigint").alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                # array_except walks the position sequence once against
                # a hash set of rp (order of the first array preserved,
                # and both arrays are duplicate-free) — the per-position
                # array_contains filter the r10 verdict flagged was
                # O(n_tokens × n_removed) per doc
                F.expr(
                    "transform(array_except(sequence(1, size(t)), rp),"
                    " p -> element_at(t, p))"
                ),
            )
        ).alias("rewrite_md5"),
    )


SQL_EXACT_SUBSTR_DEDUP = f"""
WITH {DOCS_WITH_DUPS_CTE},
toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM corpus
         WHERE len({TOKENS_SQL}) >= 1),
wins AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(t) - {DUPSPAN_L} + 1, 0))) AS pos,
         t AS t2
  FROM toks
),
hashed AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(array_to_string(t2[pos + 1:pos + {DUPSPAN_L}], ' ')), 1, 13)) AS BIGINT) AS h
  FROM wins
),
owned AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY h) AS c,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM hashed
),
removedpos AS (
  SELECT DISTINCT doc_id, unnest(range(pos + 1, pos + {DUPSPAN_L} + 1)) AS p
  FROM owned WHERE c >= 2 AND rk > 1
),
rems AS (SELECT doc_id, list(p) AS rp FROM removedpos GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(r.rp), 0) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(
         list_transform(
           list_filter(range(1, len(t.t) + 1),
                       p -> NOT list_contains(COALESCE(r.rp, []), p)),
           p -> t.t[p]), ' '), '')) AS rewrite_md5
FROM toks t LEFT JOIN rems r USING (doc_id)
"""


NB_ALPHA = 1  # Laplace add-one smoothing (exact integer numerators)


def q_nb_quality_classifier(spark, sf_dir):
    """In-engine quality-classifier training + inference — the
    fastText/CCNet pipeline stage that trains a cheap linear text
    classifier on weak labels and scores the whole corpus with it,
    expressed entirely as count aggregates: a multinomial naive Bayes
    with Laplace smoothing, trained on a deterministic weak label
    (source-index parity — the stand-in for 'curated vs crawl' source
    buckets) and applied in-sample to every document. Reports per-doc
    log-odds, the predicted class, and the weak label (the consumer
    thresholds log_odds exactly like CCNet thresholds its fastText
    score).

    Scale shape: ONE corpus tokenize feeds a persisted (doc, word,
    count) table consumed by BOTH the training aggregation (class-
    conditional counts: one shuffle on the uniform word key) and the
    scoring join (same key; AQE broadcasts the model when it fits —
    the model table is vocabulary-sized, the classic broadcast-able
    dim); corpus-level scalars (class token totals, vocab size, class
    priors) ride broadcast 1-row frames. No driver collects, no UDFs —
    'model training' here is literally a count table, which is why NB
    is THE classifier you can train at 100 TB in one pass. Exactness:
    counts are integers; the per-word LLR is quantized once per
    vocabulary word on the NLL_LATTICE (see _nb_scored); log_odds is
    the rounded double of the exact integer score_q and the prediction
    is its sign — no engine-ln sum reaches the hash."""
    scored = _nb_scored(spark, sf_dir)
    return scored.select(
        "doc_id",
        "weak_label",
        _flr(F.col("score_q").cast("double") / F.lit(float(NLL_LATTICE)), 6).alias("log_odds"),
        (F.col("score_q") > 0).cast("int").alias("pred_label"),
    )


def _nb_tokens(spark, sf_dir):
    """The PERSISTED (doc_id, source, weak_label, split, word, count)
    substrate of the in-engine text-classifier family: ONE corpus
    tokenize + one shuffle on the (doc, word) composite, cached and
    registered with cache.track because every classifier consumes it
    at least twice (model build + scoring/feature pass). weak_label is
    the deterministic source-parity label; split is doc_split_assign's
    md5 80/10/10 bucketing. Shared by _nb_scored (naive Bayes) and
    q_logreg_hash_text (feature-hashed logistic regression)."""
    docs = _docs(spark, sf_dir)
    lbl = F.pmod(
        F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int"), F.lit(2)
    ).cast("int")
    b = SampleOp.hash_bucket(F.col("doc_id"), SPLIT_SALT)
    split = (
        F.when(b < SPLIT_TRAIN_PERMILLE, "train")
        .when(b < SPLIT_VAL_PERMILLE, "val")
        .otherwise("test")
    )
    base = docs.select(
        "doc_id",
        "source",
        lbl.alias("weak_label"),
        split.alias("split"),
        T.tokens(F.col("text")).alias("t"),
    ).where(F.size("t") >= 1)
    return _track_cached(
        base.select(
            "doc_id", "source", "weak_label", "split", F.explode("t").alias("w")
        )
        .groupBy("doc_id", "source", "weak_label", "split", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )


def _nb_scored(spark, sf_dir, holdout: bool = False):
    """The shared NB train+score pipeline (see q_nb_quality_classifier
    for the full story): returns one row per scoreable document —
    (doc_id, source, weak_label, split, n_toks, score_q), where
    score_q is the posterior log-odds on the shared NLL_LATTICE: the
    per-word log-likelihood-ratio is quantized ONCE per vocabulary
    word as tq = floor(LLR·NLL_LATTICE) BIGINT (identical expression
    text in both engines — the only transcendentals in the family),
    and score_q = floor(ln(n1/n0)·NLL_LATTICE) + Σ cnt·tq is exact
    DECIMAL integer arithmetic from there on. Consumers derive doubles
    from score_q (a deterministic function of integers, so bit-equal
    across engines) instead of hashing engine-ln sums — the hardening
    the r10 verdict required before this family's first stamp.

    ``holdout=True`` trains the model ONLY on the md5 train split
    (doc_split_assign's deterministic buckets) while still scoring
    every document, and adds the ``split`` column — the out-of-sample
    evaluation mode. Scoring then LEFT-joins the model so val/test
    words absent from the train vocabulary keep their Laplace mass
    (the constant c=0 lattice term tq0, quantized once from the same
    expression) instead of being dropped."""
    tw = _nb_tokens(spark, sf_dir)
    train_tw = tw.where(F.col("split") == "train") if holdout else tw
    cw0 = train_tw.groupBy("w").agg(
        F.sum(F.when(F.col("weak_label") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("weak_label") == 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
    )
    stats = cw0.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
        F.count("*").cast("bigint").alias("v"),
    )
    # priors from the cached token table (distinct TRAINING docs per
    # class) — deriving them from `base` would be a second corpus scan
    prior = (
        train_tw.select("doc_id", "weak_label")
        .distinct()
        .agg(
            F.sum("weak_label").cast("bigint").alias("n1"),
            F.sum(1 - F.col("weak_label")).cast("bigint").alias("n0"),
        )
    )

    def _llr_q(c1c, c0c):
        # the per-word LLR quantized on the shared NLL_LATTICE — the
        # only transcendental, evaluated once per VOCABULARY word (not
        # per scoring row), identical expression text in the oracle
        return F.floor(
            (
                F.log(
                    (c1c + NB_ALPHA).cast("double")
                    / (F.col("t1") + F.col("v")).cast("double")
                )
                - F.log(
                    (c0c + NB_ALPHA).cast("double")
                    / (F.col("t0") + F.col("v")).cast("double")
                )
            )
            * F.lit(float(NLL_LATTICE))
        ).cast("bigint")

    cw = cw0.crossJoin(F.broadcast(stats)).select(
        "w", _llr_q(F.col("c1"), F.col("c0")).alias("tq")
    )
    # the open-vocabulary constant: a train-unseen word's Laplace-mass
    # LLR on the same lattice (holdout scoring coalesces onto it)
    oov = stats.select(_llr_q(F.lit(0), F.lit(0)).alias("tq0"))
    scored = (
        tw.join(cw, "w", "left" if holdout else "inner")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id", "source", "weak_label", "split")
        .agg(
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * F.coalesce(F.col("tq"), F.col("tq0"))
            ).alias("sq"),
            F.sum("cnt").cast("bigint").alias("n_toks"),
        )
    )
    prior_q = F.floor(
        F.log(F.col("n1").cast("double") / F.col("n0").cast("double"))
        * F.lit(float(NLL_LATTICE))
    ).cast("bigint")
    return scored.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        "source",
        "weak_label",
        "split",
        "n_toks",
        (prior_q + F.col("sq")).alias("score_q"),
    )


def q_nb_holdout_eval(spark, sf_dir):
    """Out-of-sample classifier evaluation — the step that makes the
    in-engine NB trustworthy: train ONLY on the deterministic md5
    train split (doc_split_assign's 80/10/10 buckets), score every
    document, and report the per-split confusion counts. In-sample
    accuracy (nb_quality_classifier) flatters any classifier; a corpus
    gate is deployed on its val/test behavior. Words unseen in
    training keep their Laplace smoothing mass (left-join + coalesce),
    exactly how a shipped NB handles open vocabulary.

    Scale shape: identical to the in-sample scorer — one corpus
    tokenize into the persisted (doc, split, word, count) table that
    feeds the train-filtered model build AND the all-docs scoring join;
    the confusion rollup is a 12-row integer aggregate. Exactness: all
    counts integer; the prediction is the sign of the exact integer
    lattice score (see _nb_scored)."""
    scored = _nb_scored(spark, sf_dir, holdout=True)
    return (
        scored.select(
            "split",
            "weak_label",
            (F.col("score_q") > 0).cast("int").alias("pred_label"),
        )
        .groupBy("split", "weak_label", "pred_label")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


KANON_CHAR_BUCKET = 64  # quasi-identifier coarsening of n_chars
KANON_MIN_K = 5  # the release bar: groups below this are re-identifiable


def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity / l-diversity release audit — the privacy check run
    before PUBLISHING a dataset (the non-noising companion of
    dp_noisy_counts): treat (lang, coarsened length) as the
    quasi-identifier an adversary plausibly knows, ``source`` as the
    sensitive attribute, and report the re-identification risk
    histogram — for each k-band (k=1 unique, 2..4, 5..9, 10+): how many
    QI equivalence classes, how many documents, and the worst (min) and
    best (max) l-diversity. A release policy then reads one row:
    everything in bands below KANON_MIN_K must be suppressed or
    generalized.

    Scale shape: one groupBy on the QI pair (count + distinct-sensitive
    — bounded by |sources| per group), then a 4-row band rollup. All
    integers; no floats anywhere."""
    docs = _docs(spark, sf_dir)
    qi_len = F.floor(F.col("n_chars") / KANON_CHAR_BUCKET).cast("bigint")
    groups = (
        docs.groupBy(F.col("lang").alias("qi_lang"), qi_len.alias("qi_len"))
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.countDistinct("source").cast("bigint").alias("l"),
        )
    )
    band = (
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") < KANON_MIN_K, "2-4")
        .when(F.col("k") < 10, "5-9")
        .otherwise("10+")
    )
    return (
        groups.groupBy(band.alias("k_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_docs"),
            F.min("l").cast("bigint").alias("min_l"),
            F.max("l").cast("bigint").alias("max_l"),
        )
    )


SQL_K_ANONYMITY_AUDIT = f"""
WITH groups AS (
  SELECT lang AS qi_lang,
         CAST(FLOOR(n_chars / {KANON_CHAR_BUCKET}) AS BIGINT) AS qi_len,
         COUNT(*) AS k, COUNT(DISTINCT source) AS l
  FROM documents GROUP BY 1, 2
)
SELECT CASE WHEN k = 1 THEN 'k=1'
            WHEN k < {KANON_MIN_K} THEN '2-4'
            WHEN k < 10 THEN '5-9'
            ELSE '10+' END AS k_band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_docs,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(MAX(l) AS BIGINT) AS max_l
FROM groups GROUP BY 1
"""


def q_pr_auc_by_source(spark, sf_dir):
    """Exact PR-AUC (average precision) of document length as a
    predictor of lang='en', per source — the imbalanced-class twin of
    roc_auc_by_source (PR is the curve that matters when positives are
    rare, the usual case for quality/contamination classifiers). AP is
    computed by the step-sum identity over DESCENDING distinct
    thresholds: AP = Σ_t ΔR_t · P_t with ties collapsed into one
    threshold row — no curve materialization, no per-source sort.

    Exactness: threshold-cumulative TP/N come from the bucketed
    two-phase prefix sum over per-(source, length) counts; each row's
    ΔR·P term is a ratio of DECIMAL(38,0) integer products (overflow-
    safe at any corpus size) evaluated as one identical double, decimal-
    cast before the per-source sum (order-free). Scale shape: the
    (source × distinct-length) domain after one keyed aggregate — same
    contract as the ROC twin."""
    from ..operators.scaling import stable_prefix_sum

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("bigint").alias("c"),
        (F.col("lang") == "en").cast("bigint").alias("pos"),
    )
    cnts = _track_cached(
        d.groupBy("source", "c")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum("pos").cast("bigint").alias("cnt_pos"),
        )
        .withColumn("negc", -F.col("c"))
        .persist()
    )
    pn = stable_prefix_sum(
        cnts, order_cols=["negc"], value_col="cnt", group_cols=["source"],
        out_col="below_n",
    ).select("source", "c", "below_n")
    pp = stable_prefix_sum(
        cnts, order_cols=["negc"], value_col="cnt_pos",
        group_cols=["source"], out_col="below_pos",
    )
    rows = pp.join(pn, ["source", "c"])
    tot = cnts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("cnt_pos").cast("bigint").alias("n_pos"),
    )
    tp = (F.col("below_pos") + F.col("cnt_pos")).cast("decimal(38,0)")
    nn = (F.col("below_n") + F.col("cnt")).cast("decimal(38,0)")
    num = F.col("cnt_pos").cast("decimal(38,0)") * tp
    den = F.col("n_pos").cast("decimal(38,0)") * nn
    term = (num.cast("double") / den.cast("double")).cast("decimal(38,18)")
    agg = (
        rows.join(tot, "source")
        .where(F.col("n_pos") > 0)
        .groupBy("source", "n", "n_pos")
        .agg(F.sum(term).cast("double").alias("ap"))
    )
    return agg.select(
        "source",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        _flr("ap", 6).alias("pr_auc"),
        _flr(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6).alias("baseline_prevalence"),
    )


SQL_PR_AUC_BY_SOURCE = """
WITH d AS (
  SELECT source, CAST(n_chars AS BIGINT) AS c,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
cnts AS (
  SELECT source, c, COUNT(*) AS cnt, SUM(pos) AS cnt_pos
  FROM d GROUP BY 1, 2
),
pv AS (
  SELECT source, c, cnt, cnt_pos,
         COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below_n,
         COALESCE(SUM(cnt_pos) OVER (PARTITION BY source ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below_pos
  FROM cnts
),
tot AS (SELECT source, SUM(cnt) AS n, SUM(cnt_pos) AS n_pos
        FROM cnts GROUP BY source),
agg AS (
  SELECT pv.source, n, n_pos,
         CAST(SUM(CAST(
           CAST(CAST(cnt_pos AS DECIMAL(38,0))
                * CAST(below_pos + cnt_pos AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(CAST(n_pos AS DECIMAL(38,0))
                  * CAST(below_n + cnt AS DECIMAL(38,0)) AS DOUBLE)
         AS DECIMAL(38,18))) AS DOUBLE) AS ap
  FROM pv JOIN tot ON pv.source = tot.source
  WHERE n_pos > 0
  GROUP BY pv.source, n, n_pos
)
SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n - n_pos AS BIGINT) AS n_neg,
       FLOOR(CAST((ap) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pr_auc,
       FLOOR(CAST((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS baseline_prevalence
FROM agg
"""


#: The shared NB train+score CTE chain (mirrors _nb_scored): ends with
#: ``nbscored(doc_id, source, weak_label, n_toks, score_q)`` where
#: score_q is the exact integer lattice log-odds.
_NB_SCORED_CTE_SQL = f"""base AS (
  SELECT doc_id, source,
         CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 AS INT)
           AS weak_label,
         {TOKENS_SQL} AS t
  FROM documents WHERE len({TOKENS_SQL}) >= 1
),
tw AS (
  SELECT doc_id, source, weak_label, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, source, weak_label, unnest(t) AS w FROM base)
  GROUP BY 1, 2, 3, 4
),
cw0 AS (
  SELECT w,
         SUM(CASE WHEN weak_label = 1 THEN cnt ELSE 0 END) AS c1,
         SUM(CASE WHEN weak_label = 0 THEN cnt ELSE 0 END) AS c0
  FROM tw GROUP BY w
),
stats AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0, COUNT(*) AS v FROM cw0),
cw AS (
  SELECT w,
         CAST(FLOOR((
           ln(CAST(c1 + {NB_ALPHA} AS DOUBLE) / CAST(t1 + v AS DOUBLE))
           - ln(CAST(c0 + {NB_ALPHA} AS DOUBLE) / CAST(t0 + v AS DOUBLE))
         ) * {float(NLL_LATTICE)!r}) AS BIGINT) AS tq
  FROM cw0, stats
),
prior AS (
  SELECT SUM(weak_label) AS n1, SUM(1 - weak_label) AS n0
  FROM (SELECT DISTINCT doc_id, weak_label FROM tw)
),
scored AS (
  SELECT doc_id, source, weak_label,
         SUM(CAST(cnt AS HUGEINT) * tq) AS sq,
         SUM(cnt) AS n_toks
  FROM tw JOIN cw USING (w)
  GROUP BY doc_id, source, weak_label
),
nbscored AS (
  SELECT doc_id, source, weak_label, n_toks,
         CAST(FLOOR(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
                    * {float(NLL_LATTICE)!r}) AS BIGINT) + sq AS score_q
  FROM scored, prior
)"""

SQL_NB_QUALITY_CLASSIFIER = f"""
WITH {_NB_SCORED_CTE_SQL}
SELECT doc_id, weak_label,
       FLOOR(CAST((CAST(score_q AS DOUBLE) / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS log_odds,
       CAST(CASE WHEN score_q > 0 THEN 1 ELSE 0 END AS INT) AS pred_label
FROM nbscored
"""

SQL_NB_HOLDOUT_EVAL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 AS INT)
           AS weak_label,
         CASE WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PERMILLE} THEN 'train'
              WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_VAL_PERMILLE} THEN 'val'
              ELSE 'test' END AS split,
         {TOKENS_SQL} AS t
  FROM documents WHERE len({TOKENS_SQL}) >= 1
),
tw AS (
  SELECT doc_id, weak_label, split, w, COUNT(*) AS cnt
  FROM (SELECT doc_id, weak_label, split, unnest(t) AS w FROM base)
  GROUP BY 1, 2, 3, 4
),
cw0 AS (
  SELECT w,
         SUM(CASE WHEN weak_label = 1 THEN cnt ELSE 0 END) AS c1,
         SUM(CASE WHEN weak_label = 0 THEN cnt ELSE 0 END) AS c0
  FROM tw WHERE split = 'train' GROUP BY w
),
stats AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0, COUNT(*) AS v FROM cw0),
cw AS (
  SELECT w,
         CAST(FLOOR((
           ln(CAST(c1 + {NB_ALPHA} AS DOUBLE) / CAST(t1 + v AS DOUBLE))
           - ln(CAST(c0 + {NB_ALPHA} AS DOUBLE) / CAST(t0 + v AS DOUBLE))
         ) * {float(NLL_LATTICE)!r}) AS BIGINT) AS tq
  FROM cw0, stats
),
oov AS (
  SELECT CAST(FLOOR((
           ln(CAST(0 + {NB_ALPHA} AS DOUBLE) / CAST(t1 + v AS DOUBLE))
           - ln(CAST(0 + {NB_ALPHA} AS DOUBLE) / CAST(t0 + v AS DOUBLE))
         ) * {float(NLL_LATTICE)!r}) AS BIGINT) AS tq0
  FROM stats
),
prior AS (
  SELECT SUM(weak_label) AS n1, SUM(1 - weak_label) AS n0
  FROM (SELECT DISTINCT doc_id, weak_label FROM tw WHERE split = 'train')
),
scored AS (
  SELECT doc_id, weak_label, split,
         SUM(CAST(cnt AS HUGEINT) * COALESCE(tq, tq0)) AS sq
  FROM tw LEFT JOIN cw USING (w), oov
  GROUP BY doc_id, weak_label, split
)
SELECT split, weak_label,
       CAST(CASE WHEN CAST(FLOOR(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE))
                                 * {float(NLL_LATTICE)!r}) AS BIGINT) + sq > 0
            THEN 1 ELSE 0 END AS INT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM scored, prior
GROUP BY 1, 2, 3
"""


NB_CAL_BINS = 10

#: The decile bin EDGES moved off the sigmoid onto the score lattice:
#: p >= k/10  ⟺  score >= logit(k/10), so the boundaries are the nine
#: logit values pre-multiplied onto the NLL_LATTICE and baked as
#: INTEGER literals into both engines (the poisson_bootstrap_ci
#: inverse-CDF convention). Binning is then a pure integer comparison
#: against score_q — no engine-exp knife edge at any bin edge.
NB_CAL_THRESHOLDS: tuple[int, ...] = tuple(
    int(round(math.log((k / NB_CAL_BINS) / (1 - k / NB_CAL_BINS)) * NLL_LATTICE))
    for k in range(1, NB_CAL_BINS)
)


def q_nb_calibration_audit(spark, sf_dir):
    """Classifier calibration audit (the reliability-diagram table
    behind expected-calibration-error): sigmoid the NB log-odds into a
    confidence p = 1/(1+e^(-score)), bucket into NB_CAL_BINS fixed
    deciles, and report each bin's size, mean confidence, and empirical
    positive rate — the audit a CCNet-style pipeline runs before
    trusting a classifier threshold to gate a corpus. A well-calibrated
    bin has mean_conf ≈ emp_rate; the |gap| column is the per-bin ECE
    contribution numerator.

    Scale shape: one pass over _nb_scored's output (the corpus-read
    discipline lives there); the audit itself is a fixed-10-bucket
    integer groupBy. Exactness: the bin is an integer comparison of
    the lattice score against the baked NB_CAL_THRESHOLDS literals
    (never floor-of-sigmoid — a bin-edge knife edge); the confidence
    entering mean_conf is itself floor-quantized onto the lattice
    (p_q = floor(p·NLL_LATTICE), where p is the sigmoid of the exact
    integer score — NB scores saturate p to exactly 0.0/1.0 for all
    but the near-boundary docs, so the floor's knife-edge population
    is the handful of |score| < ~40 docs, margin-audited in
    tests/test_float_margins.py); per-bin sums and rates are integer
    ratios."""
    scored = _nb_scored(spark, sf_dir)
    b = sum(
        ((F.col("score_q") >= F.lit(t)).cast("int") for t in NB_CAL_THRESHOLDS),
        F.lit(0),
    ).cast("int")
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.col("score_q").cast("double") / F.lit(float(NLL_LATTICE))))
    )
    pq = F.floor(p * F.lit(float(NLL_LATTICE))).cast("bigint")
    return (
        scored.select(b.alias("bin"), pq.alias("pq"), F.col("weak_label"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            _flr(F.sum("pq").cast("double")
                / F.count("*").cast("double")
                / F.lit(float(NLL_LATTICE)), 6).alias("mean_conf"),
            _flr(F.sum("weak_label").cast("double")
                / F.count("*").cast("double"), 6).alias("emp_rate"),
        )
        .select(
            "bin",
            "n_docs",
            "mean_conf",
            "emp_rate",
            _flr(F.abs(F.col("mean_conf") - F.col("emp_rate")), 6).alias(
                "abs_gap"
            ),
        )
    )


_NB_CAL_BIN_SQL = " + ".join(
    f"(CASE WHEN score_q >= {t} THEN 1 ELSE 0 END)" for t in NB_CAL_THRESHOLDS
)

SQL_NB_CALIBRATION_AUDIT = f"""
WITH {_NB_SCORED_CTE_SQL},
pb AS (
  SELECT CAST(0 + {_NB_CAL_BIN_SQL} AS INT) AS bin,
         CAST(FLOOR((1.0 / (1.0 + exp(-(CAST(score_q AS DOUBLE)
                                        / {float(NLL_LATTICE)!r}))))
                    * {float(NLL_LATTICE)!r}) AS BIGINT) AS pq,
         weak_label
  FROM nbscored
),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         FLOOR(CAST((CAST(SUM(pq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_conf,
         FLOOR(CAST((CAST(SUM(weak_label) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS emp_rate
  FROM pb GROUP BY bin
)
SELECT bin, n_docs, mean_conf, emp_rate,
       FLOOR(CAST((ABS(mean_conf - emp_rate)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS abs_gap
FROM agg
"""


#: quality_budget_mix keeps this share of the corpus token mass
#: (permille), taking sources greedily from the highest mean quality
#: score down, with a fractional keep on the source that straddles the
#: budget boundary.
MIX_BUDGET_PERMILLE = 500


def q_quality_budget_mix(spark, sf_dir):
    """Quality-budgeted source mixing: the data-mixing step that turns
    per-document classifier scores into a per-SOURCE keep plan under a
    token budget — rank sources by mean NB quality score, keep whole
    sources from the top until the next source would cross
    MIX_BUDGET_PERMILLE of the corpus token mass, and keep the
    straddling source fractionally. Composes the in-engine classifier
    (_nb_scored) with the mixing family (mixture_weights,
    domain_soft_cap): this is how a curation pipeline decides 'keep all
    of src7, half of src12, none of src3' for a fixed training budget.

    Scale shape: everything after the shared scorer lives on the SOURCE
    domain (a handful of rows at any corpus size), so the ranking
    window runs under the rolled-up-domain dispensation (constant-size
    frame, same as ann_ndcg_eval). Exactness: token sums are integers;
    the budget comparison is the integer cross-product
    cum·1000 vs permille·total (no float shares); mean scores are
    exact integer-lattice sums (see _nb_scored) divided down to
    doubles; the only fractional output is the straddling source's
    keep_frac, one identical double division rounded 6dp."""
    scored = _nb_scored(spark, sf_dir)
    per_src = scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        (
            F.sum("score_q").cast("double")
            / F.count("*").cast("double")
            / F.lit(float(NLL_LATTICE))
        ).alias("mean_score"),
    )
    w = Window.orderBy(F.desc("mean_score"), F.asc("source"))
    ranked = per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_score",
        F.row_number().over(w).cast("int").alias("rank"),
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("cum_before"),
    )
    total = per_src.agg(F.sum("n_tokens").cast("bigint").alias("total_toks"))
    lhs_full = (F.col("cum_before") + F.col("n_tokens")) * 1000
    lhs_none = F.col("cum_before") * 1000
    budget = F.lit(MIX_BUDGET_PERMILLE) * F.col("total_toks")
    keep_frac = (
        F.when(lhs_full <= budget, F.lit(1.0))
        .when(lhs_none >= budget, F.lit(0.0))
        .otherwise(
            _flr((
                    F.lit(MIX_BUDGET_PERMILLE) * F.col("total_toks")
                    - F.lit(1000) * F.col("cum_before")
                ).cast("double")
                / (F.lit(1000) * F.col("n_tokens")).cast("double"), 6)
        )
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        _flr("mean_score", 6).alias("mean_score"),
        "rank",
        keep_frac.alias("keep_frac"),
    )


SQL_QUALITY_BUDGET_MIX = f"""
WITH {_NB_SCORED_CTE_SQL},
per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
         CAST(SUM(score_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           / {float(NLL_LATTICE)!r} AS mean_score
  FROM nbscored GROUP BY source
),
ranked AS (
  SELECT source, n_docs, n_tokens, mean_score,
         CAST(ROW_NUMBER() OVER (ORDER BY mean_score DESC, source) AS INT)
           AS rank,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY mean_score DESC, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM per_src
),
total AS (SELECT SUM(n_tokens) AS total_toks FROM per_src)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       FLOOR(CAST((mean_score) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_score,
       rank,
       CASE
         WHEN (cum_before + n_tokens) * 1000
              <= {MIX_BUDGET_PERMILLE} * total_toks THEN 1.0
         WHEN cum_before * 1000 >= {MIX_BUDGET_PERMILLE} * total_toks THEN 0.0
         ELSE FLOOR(CAST((CAST({MIX_BUDGET_PERMILLE} * total_toks
                         - 1000 * cum_before AS DOUBLE)
                    / CAST(1000 * n_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
       END AS keep_frac
FROM ranked, total
"""


#: Feature-hashing width of the logistic text classifier (+ intercept
#: = 3 parameters, so the Newton step reuses logreg_newton's exact
#: 3×3 Cramer solve). Tiny on purpose: the hashing trick's fixed-width
#: property, not its capacity, is what the operator demonstrates — at
#: 100 TB the same plan runs with 2^18 buckets and an L-BFGS tail.
LOGREG_HASH_BUCKETS = 2


def q_logreg_hash_text(spark, sf_dir):
    """Feature-hashed logistic-regression text classifier — the
    CCNet/fastText-class upgrade of the NB family (r10 verdict task 5):
    hash every token into LOGREG_HASH_BUCKETS SIGNED features (the
    hashing trick — md5 bucket + independent md5 sign bit — giving a
    fixed-width feature map with no vocabulary build, THE property
    that makes a linear text classifier trainable at 100 TB in one
    pass), train a fixed two-step Newton solve on the md5 train split
    ONLY, and report per-split size/positives/accuracy/log-loss plus
    the fitted coefficients — in-sample and out-of-sample in one
    table, the nb_holdout_eval discipline.

    Scale shape: ONE corpus tokenize (the shared persisted _nb_tokens
    substrate) → one per-doc feature aggregate, persisted because it
    feeds LOGREG_STEPS moment passes plus the eval pass; each Newton
    step is a single map-side-combinable aggregate of twelve
    decimal-cast moments, so driver state is 12 floats per step
    regardless of corpus size (the logreg_newton convention,
    entry_queries.py:15708). Exactness: features are ratios of exact
    integers (bit-identical doubles both engines); the sigmoid is
    CLAMP-QUANTIZED onto the NLL_LATTICE before it enters any moment
    (p = clamp(floor(sigmoid·1e9), 1, 1e9-1)/1e9), so every moment is
    a decimal sum of products of exact doubles and the Python _cramer3
    solve replays bit-for-bit as the oracle's chained CTEs; the
    per-row log-loss term takes ln of those exact clamped rationals
    and is floor-quantized onto the lattice, so the reported loss is
    an exact integer ratio — no raw engine-transcendental reaches any
    hashed output (the r11 hardening convention)."""
    tw = _nb_tokens(spark, sf_dir)
    h1 = T.token_hash(F.col("w"))
    h2 = F.conv(F.substring(F.md5(F.col("w")), 14, 13), 16, 10).cast(
        "bigint"
    )
    sgn = F.when(h2 % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    contrib = sgn * F.col("cnt")
    fx = _track_cached(
        tw.groupBy("doc_id", "weak_label", "split")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_toks"),
            F.sum(
                F.when(h1 % LOGREG_HASH_BUCKETS == 0, contrib).otherwise(0)
            )
            .cast("bigint")
            .alias("s0"),
            F.sum(
                F.when(h1 % LOGREG_HASH_BUCKETS == 1, contrib).otherwise(0)
            )
            .cast("bigint")
            .alias("s1"),
        )
        .select(
            "doc_id",
            "split",
            F.col("weak_label").alias("y"),
            (F.col("s0").cast("double") / F.col("n_toks").cast("double"))
            .alias("x1"),
            (F.col("s1").cast("double") / F.col("n_toks").cast("double"))
            .alias("x2"),
        )
        .persist()
    )
    tr = fx.where(F.col("split") == "train")

    def _p(z):
        raw = 1.0 / (1.0 + F.exp(-z))
        pq = F.least(
            F.greatest(
                F.floor(raw * F.lit(float(NLL_LATTICE))), F.lit(1)
            ),
            F.lit(NLL_LATTICE - 1),
        )
        return pq.cast("double") / F.lit(float(NLL_LATTICE))

    def step_moments(b0, b1, b2):
        z = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        p = _p(z)
        w = p * (1.0 - p)
        dec = lambda e: F.sum(e.cast("decimal(38,18)")).cast("double")
        return tr.agg(
            dec(F.col("y") - p).alias("g0"),
            dec((F.col("y") - p) * F.col("x1")).alias("g1"),
            dec((F.col("y") - p) * F.col("x2")).alias("g2"),
            dec(w).alias("a11"),
            dec(w * F.col("x1")).alias("a12"),
            dec(w * F.col("x2")).alias("a13"),
            dec(w * F.col("x1") * F.col("x1")).alias("a22"),
            dec(w * F.col("x1") * F.col("x2")).alias("a23"),
            dec(w * F.col("x2") * F.col("x2")).alias("a33"),
        ).head()

    beta = (0.0, 0.0, 0.0)
    for _ in range(LOGREG_STEPS):
        m = step_moments(*beta)
        d0, d1, d2 = _cramer3(
            m["a11"], m["a12"], m["a13"], m["a22"], m["a23"], m["a33"],
            m["g0"], m["g1"], m["g2"],
        )
        beta = (beta[0] + d0, beta[1] + d1, beta[2] + d2)
    z = (
        F.lit(beta[0])
        + F.lit(beta[1]) * F.col("x1")
        + F.lit(beta[2]) * F.col("x2")
    )
    p = _p(z)
    loss_q = F.floor(
        (
            -(
                F.col("y") * F.log(p)
                + (1.0 - F.col("y")) * F.log(1.0 - p)
            )
        )
        * F.lit(float(NLL_LATTICE))
    ).cast("bigint")
    pred = (z > 0).cast("int")
    return (
        fx.select(
            "split",
            "y",
            pred.alias("pred"),
            loss_q.alias("lq"),
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum((F.col("pred") == F.col("y")).cast("bigint"))
            .cast("bigint")
            .alias("n_correct"),
            F.sum("lq").cast("bigint").alias("nll_q"),
        )
        .select(
            "split",
            "n_docs",
            "n_pos",
            _flr(F.col("n_correct").cast("double")
                / F.col("n_docs").cast("double"), 6).alias("accuracy"),
            _flr(F.col("nll_q").cast("double")
                / F.col("n_docs").cast("double")
                / F.lit(float(NLL_LATTICE)), 6).alias("log_loss"),
            _flr(F.lit(beta[0]), 6).alias("beta0"),
            _flr(F.lit(beta[1]), 6).alias("beta1_h0"),
            _flr(F.lit(beta[2]), 6).alias("beta2_h1"),
        )
    )


def _sql_logreg_hash_text() -> str:
    """CTE replay of q_logreg_hash_text: the hashed-feature build, the
    two Newton steps as chained moment/solve CTEs (the _cramer3
    expression shapes verbatim), and the per-split eval — all on the
    clamp-latticed sigmoid."""
    lat = f"{float(NLL_LATTICE)!r}"
    feats = f"""
  SELECT doc_id, split, weak_label AS y,
         CAST(s0 AS DOUBLE) / CAST(n_toks AS DOUBLE) AS x1,
         CAST(s1 AS DOUBLE) / CAST(n_toks AS DOUBLE) AS x2
  FROM (
    SELECT doc_id, split, weak_label,
           SUM(cnt) AS n_toks,
           SUM(CASE WHEN h1 % {LOGREG_HASH_BUCKETS} = 0 THEN sgn * cnt
                    ELSE 0 END) AS s0,
           SUM(CASE WHEN h1 % {LOGREG_HASH_BUCKETS} = 1 THEN sgn * cnt
                    ELSE 0 END) AS s1
    FROM (
      SELECT doc_id, split, weak_label, cnt,
             CAST(('0x' || substr(md5(w), 1, 13)) AS BIGINT) AS h1,
             CASE WHEN CAST(('0x' || substr(md5(w), 14, 13)) AS BIGINT)
                       % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM (
        SELECT doc_id, split, weak_label, w, COUNT(*) AS cnt
        FROM (
          SELECT doc_id,
                 CASE WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PERMILLE}
                      THEN 'train'
                      WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_VAL_PERMILLE}
                      THEN 'val' ELSE 'test' END AS split,
                 CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS INT)
                      % 2 AS INT) AS weak_label,
                 unnest({TOKENS_SQL}) AS w
          FROM documents WHERE len({TOKENS_SQL}) >= 1
        )
        GROUP BY 1, 2, 3, 4
      )
    )
    GROUP BY 1, 2, 3
  )
"""

    def p_of(z: str) -> str:
        raw = f"(1.0 / (1.0 + EXP(-{z})))"
        pq = f"LEAST(GREATEST(FLOOR({raw} * {lat}), 1), {NLL_LATTICE - 1})"
        return f"(CAST({pq} AS DOUBLE) / {lat})"

    def moments(tag: str, b0: str, b1: str, b2: str, src_extra: str) -> str:
        z = f"({b0} + {b1} * x1 + {b2} * x2)"
        p = p_of(z)
        w = f"({p} * (1.0 - {p}))"
        dec = lambda e: f"CAST(SUM(CAST({e} AS DECIMAL(38,18))) AS DOUBLE)"
        return f"""
m{tag} AS (
  SELECT {dec(f'(y - {p})')} AS g0,
         {dec(f'(y - {p}) * x1')} AS g1,
         {dec(f'(y - {p}) * x2')} AS g2,
         {dec(w)} AS a11,
         {dec(f'{w} * x1')} AS a12,
         {dec(f'{w} * x2')} AS a13,
         {dec(f'{w} * x1 * x1')} AS a22,
         {dec(f'{w} * x1 * x2')} AS a23,
         {dec(f'{w} * x2 * x2')} AS a33
  FROM tr{src_extra}
)"""

    def solve(tag: str, prev_b: tuple[str, str, str]) -> str:
        det = ("(a11 * (a22 * a33 - a23 * a23)"
               " - a12 * (a12 * a33 - a23 * a13)"
               " + a13 * (a12 * a23 - a22 * a13))")
        d0 = ("(g0 * (a22 * a33 - a23 * a23)"
              " - a12 * (g1 * a33 - a23 * g2)"
              " + a13 * (g1 * a23 - a22 * g2))")
        d1 = ("(a11 * (g1 * a33 - a23 * g2)"
              " - g0 * (a12 * a33 - a23 * a13)"
              " + a13 * (a12 * g2 - g1 * a13))")
        d2 = ("(a11 * (a22 * g2 - g1 * a23)"
              " - a12 * (a12 * g2 - g1 * a13)"
              " + g0 * (a12 * a23 - a22 * a13))")
        return f"""
b{tag} AS (
  SELECT {prev_b[0]} + {d0} / {det} AS b0,
         {prev_b[1]} + {d1} / {det} AS b1,
         {prev_b[2]} + {d2} / {det} AS b2
  FROM m{tag}
)"""

    zf = "(b0 + b1 * x1 + b2 * x2)"
    pf = p_of(zf)
    lossq = (
        f"CAST(FLOOR((-(y * LN({pf}) + (1.0 - y) * LN(1.0 - {pf})))"
        f" * {lat}) AS BIGINT)"
    )
    return f"""
WITH feats AS ({feats}),
tr AS (SELECT * FROM feats WHERE split = 'train'),
{moments('1', '0.0', '0.0', '0.0', '')},
{solve('1', ('0.0', '0.0', '0.0'))},
{moments('2', '(SELECT b0 FROM b1)', '(SELECT b1 FROM b1)',
         '(SELECT b2 FROM b1)', '')},
{solve('2', ('(SELECT b0 FROM b1)', '(SELECT b1 FROM b1)',
             '(SELECT b2 FROM b1)'))},
ev AS (
  SELECT split, y,
         CAST(CASE WHEN {zf} > 0 THEN 1 ELSE 0 END AS INT) AS pred,
         {lossq} AS lq
  FROM feats CROSS JOIN b2
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       FLOOR(CAST((CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS accuracy,
       FLOOR(CAST((CAST(SUM(lq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / {lat}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS log_loss,
       FLOOR(CAST(((SELECT b0 FROM b2)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS beta0,
       FLOOR(CAST(((SELECT b1 FROM b2)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS beta1_h0,
       FLOOR(CAST(((SELECT b2 FROM b2)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS beta2_h1
FROM ev
GROUP BY split
"""


SQL_LOGREG_HASH_TEXT = _sql_logreg_hash_text()


def q_exact_substr_incremental(spark, sf_dir):
    """Incremental ExactSubstr index maintenance (r10 verdict task 6 —
    the incremental_near_dup analogue for exact_substr_dedup's window
    index): the standing corpus's MATERIALIZED (window-hash → first
    owner, count) table plus an O(batch) probe of a new-document batch
    must reproduce exactly the full-recompute span removal restricted
    to the batch — the identity that lets ingest run ExactSubstr
    against 100 TB of standing data at the cost of the batch, not the
    corpus. Also reports, per batch doc, how many window hashes the
    new doc now OWNS that have standing-corpus occurrences
    (spans_stolen — the index-update delta a maintenance job would
    write back, since those standing occurrences just became
    removable duplicates).

    Scale shape: the index is built once from the standing corpus
    (persisted here; a parquet table in production) — one shuffle on
    the md5-uniform hash key; the probe is the batch's window stream
    LEFT-joined against it (cost ∝ batch windows + matching index
    rows, never the corpus); union ownership is
    min(index_first, batch_first) — an O(1) merge per hash, no
    corpus-wide window function. Exactness: md5 hashes, integer
    positions, integer total-order ownership, md5 rewrite — no floats
    anywhere. The oracle replays the FULL-corpus pipeline restricted
    to batch docs, proving the incremental identity."""
    docs = _docs_with_dups(spark, sf_dir)
    is_new = (F.col("doc_id") % DUP_SALT) % INCR_BATCH_MOD == 0

    def _wins(src):
        base = src.select(
            "doc_id", T.tokens(F.col("text")).alias("t")
        ).where(F.size("t") >= 1)
        return base, base.select(
            "doc_id",
            F.posexplode(_word_grams(F.col("t"), DUPSPAN_L)).alias(
                "pos", "gram"
            ),
        ).select("doc_id", "pos", T.token_hash(F.col("gram")).alias("h"))

    # The standing-corpus index feeds exactly ONE consumer (the left
    # join into `u`), so it is NOT persisted (r15; guide §5 — the r14
    # persist materialized an O(corpus-windows) cache for a single
    # read). What IS persisted is `probed` below — the batch-sized
    # frame both downstream branches (removed spans, stolen spans)
    # consume — so the whole corpus-scan → index-agg → join pipeline
    # runs once instead of once per branch.
    _, wins_old = _wins(docs.where(~is_new))
    index = wins_old.groupBy("h").agg(
        F.count("*").cast("bigint").alias("c_old"),
        F.min(F.struct("doc_id", "pos")).alias("first_old"),
    )
    batch_base0, wins_new0 = _wins(docs.where(is_new))
    batch_base = _track_cached(batch_base0.persist())
    wins_new = _track_cached(wins_new0.persist())
    bagg = wins_new.groupBy("h").agg(
        F.count("*").cast("bigint").alias("c_new"),
        F.min(F.struct("doc_id", "pos")).alias("first_new"),
    )
    u = bagg.join(index, "h", "left").select(
        "h",
        (F.col("c_new") + F.coalesce(F.col("c_old"), F.lit(0))).alias(
            "c_tot"
        ),
        F.coalesce(F.col("c_old"), F.lit(0)).alias("c_old"),
        F.when(
            F.col("first_old").isNull()
            | (F.col("first_new") < F.col("first_old")),
            F.col("first_new"),
        )
        .otherwise(F.col("first_old"))
        .alias("first_tot"),
    )
    probed = _track_cached(wins_new.join(u, "h").persist())
    removed = (
        probed.where(
            (F.col("c_tot") >= 2)
            & (F.struct("doc_id", "pos") != F.col("first_tot"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos") + 1, F.col("pos") + DUPSPAN_L)
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("rp"))
    )
    stolen = (
        probed.where(
            (F.struct("doc_id", "pos") == F.col("first_tot"))
            & (F.col("c_old") >= 1)
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("spans_stolen"))
    )
    j = (
        batch_base.join(removed, "doc_id", "left")
        .join(stolen, "doc_id", "left")
        .select(
            "doc_id",
            "t",
            F.coalesce(F.col("rp"), F.array().cast("array<int>")).alias(
                "rp"
            ),
            F.coalesce(F.col("spans_stolen"), F.lit(0))
            .cast("bigint")
            .alias("spans_stolen"),
        )
    )
    return j.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size("rp").cast("bigint").alias("n_removed"),
        "spans_stolen",
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_except(sequence(1, size(t)), rp),"
                    " p -> element_at(t, p))"
                ),
            )
        ).alias("rewrite_md5"),
    )


SQL_EXACT_SUBSTR_INCREMENTAL = f"""
WITH {DOCS_WITH_DUPS_CTE},
toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM corpus
         WHERE len({TOKENS_SQL}) >= 1),
wins AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(t) - {DUPSPAN_L} + 1, 0))) AS pos,
         t AS t2
  FROM toks
),
hashed AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(array_to_string(t2[pos + 1:pos + {DUPSPAN_L}], ' ')), 1, 13)) AS BIGINT) AS h
  FROM wins
),
owned AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY h) AS c,
         SUM(CASE WHEN (doc_id % {DUP_SALT}) % {INCR_BATCH_MOD} != 0
                  THEN 1 ELSE 0 END) OVER (PARTITION BY h) AS c_old,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM hashed
),
removedpos AS (
  SELECT DISTINCT doc_id, unnest(range(pos + 1, pos + {DUPSPAN_L} + 1)) AS p
  FROM owned
  WHERE c >= 2 AND rk > 1 AND (doc_id % {DUP_SALT}) % {INCR_BATCH_MOD} = 0
),
rems AS (SELECT doc_id, list(p) AS rp FROM removedpos GROUP BY doc_id),
steals AS (
  SELECT doc_id, COUNT(*) AS spans_stolen
  FROM owned
  WHERE rk = 1 AND c_old >= 1
        AND (doc_id % {DUP_SALT}) % {INCR_BATCH_MOD} = 0
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(r.rp), 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(s.spans_stolen, 0) AS BIGINT) AS spans_stolen,
       md5(COALESCE(array_to_string(
         list_transform(
           list_filter(range(1, len(t.t) + 1),
                       p -> NOT list_contains(COALESCE(r.rp, []), p)),
           p -> t.t[p]), ' '), '')) AS rewrite_md5
FROM toks t
LEFT JOIN rems r USING (doc_id)
LEFT JOIN steals s USING (doc_id)
WHERE (t.doc_id % {DUP_SALT}) % {INCR_BATCH_MOD} = 0
"""


#: Temperature-sampling exponent α (the XLM/mT5 multilingual-mixing
#: convention p_i ∝ q_i^α): α < 1 upweights low-resource languages.
TEMP_SAMPLING_ALPHA = 0.3


def q_temperature_sampling_weights(spark, sf_dir):
    """Temperature-based language sampling weights — the multilingual
    data-mixing rule of XLM / mT5: with q_i the actual token share of
    language i, sample with p_i ∝ q_i^α (TEMP_SAMPLING_ALPHA < 1
    flattens the distribution toward low-resource languages). Reports
    per language the token count, actual share, tempered share, and
    the boost factor p_i/q_i a weighted sampler applies — the
    principled replacement for mixture_weights' hand-set targets.

    Scale shape: one corpus aggregate onto the LANGUAGE domain (a
    handful of rows at any corpus size), then constant-size arithmetic
    — the rolled-up-domain dispensation. Exactness: q_i^α = exp(α·ln q)
    is the only transcendental and is floor-quantized onto the
    NLL_LATTICE per LANGUAGE (a |langs|-sized knife-edge population);
    tempered shares are then exact integer ratios and the boost is one
    identical double expression over them."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("lang").agg(
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("lang_tokens")
    )
    total = per.agg(F.sum("lang_tokens").cast("bigint").alias("total_tokens"))
    qshare = F.col("lang_tokens").cast("double") / F.col(
        "total_tokens"
    ).cast("double")
    eq = F.floor(
        F.exp(F.lit(TEMP_SAMPLING_ALPHA) * F.log(qshare))
        * F.lit(float(NLL_LATTICE))
    ).cast("bigint")
    pe = per.crossJoin(F.broadcast(total)).select(
        "lang", "lang_tokens", "total_tokens", eq.alias("eq")
    )
    se = pe.agg(F.sum("eq").cast("bigint").alias("s"))
    tshare = F.col("eq").cast("double") / F.col("s").cast("double")
    ashare = F.col("lang_tokens").cast("double") / F.col(
        "total_tokens"
    ).cast("double")
    return pe.crossJoin(F.broadcast(se)).select(
        "lang",
        "lang_tokens",
        _flr(ashare, 6).alias("actual_share"),
        _flr(tshare, 6).alias("temp_share"),
        _flr(tshare / ashare, 6).alias("boost"),
    )


SQL_TEMPERATURE_SAMPLING_WEIGHTS = f"""
WITH per AS (
  SELECT lang, CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens FROM per),
pe AS (
  SELECT lang, lang_tokens, total_tokens,
         CAST(FLOOR(EXP({TEMP_SAMPLING_ALPHA!r}
                        * LN(CAST(lang_tokens AS DOUBLE)
                             / CAST(total_tokens AS DOUBLE)))
                    * {float(NLL_LATTICE)!r}) AS BIGINT) AS eq
  FROM per, tot
),
se AS (SELECT CAST(SUM(eq) AS BIGINT) AS s FROM pe)
SELECT lang, lang_tokens,
       FLOOR(CAST((CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS actual_share,
       FLOOR(CAST((CAST(eq AS DOUBLE) / CAST(s AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS temp_share,
       FLOOR(CAST(((CAST(eq AS DOUBLE) / CAST(s AS DOUBLE))
             / (CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS boost
FROM pe, se
"""


def q_dedup_bcubed_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 of the MinHash-LSH dedup clustering
    against the corpus's KNOWN duplicate structure — the evaluation
    layer above dedup_clusters (near_dup_audit measures pair recall;
    B³ is the standard CLUSTERING quality metric, per-document so
    giant wrong clusters are punished in proportion to their size).
    Ground truth: the synthesized twin structure of _docs_with_dups —
    doc d and d+DUP_SALT share a truth cluster (key = doc_id mod
    DUP_SALT); predictions: connected components over the LSH
    near-dup pairs, singletons for unpaired docs.

    Scale shape: the pair/component machinery is dedup_clusters'
    (bucketed LSH, min-label propagation, O(diameter) rounds); the
    evaluation itself is one (pred, truth) cell aggregate + two size
    joins — the B³ sums Σ o²/|C| collapse to the cell domain, never
    per-pair. Exactness: all counts integer; each cell term is an
    integer-product DECIMAL ratio (the pr_auc_by_source convention);
    P, R, F1 are identical double expressions over the exact sums."""
    from ..operators.graph import connected_components

    docs = _docs_with_dups(spark, sf_dir).select("doc_id")
    pairs = D.near_dup_pairs(
        _docs_with_dups(spark, sf_dir),
        threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS,
    ).select("id_a", "id_b")
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    lab = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("pred_c"),
        (F.col("doc_id") % DUP_SALT).alias("true_c"),
    )
    cells = lab.groupBy("pred_c", "true_c").agg(
        F.count("*").cast("bigint").alias("o")
    )
    psize = cells.groupBy("pred_c").agg(F.sum("o").cast("bigint").alias("cs"))
    tsize = cells.groupBy("true_c").agg(F.sum("o").cast("bigint").alias("ls"))
    o2 = (F.col("o").cast("decimal(38,0)") * F.col("o")).cast("double")
    joined = cells.join(psize, "pred_c").join(tsize, "true_c")
    sums = joined.agg(
        F.sum("o").cast("bigint").alias("n_docs"),
        F.sum((o2 / F.col("cs").cast("double")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sp"),
        F.sum((o2 / F.col("ls").cast("double")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sr"),
        F.countDistinct("pred_c").cast("bigint").alias("n_pred_clusters"),
        F.countDistinct("true_c").cast("bigint").alias("n_true_clusters"),
    )
    p = F.col("sp") / F.col("n_docs").cast("double")
    r = F.col("sr") / F.col("n_docs").cast("double")
    return sums.select(
        "n_docs",
        "n_pred_clusters",
        "n_true_clusters",
        _flr(p, 6).alias("bcubed_precision"),
        _flr(r, 6).alias("bcubed_recall"),
        _flr(2.0 * p * r / (p + r), 6).alias("bcubed_f1"),
    )


SQL_DEDUP_BCUBED_EVAL = f"""
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
labels AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node),
corpus2 AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + {DUP_SALT} AS doc_id FROM documents WHERE doc_id % 7 = 0
),
lab AS (
  SELECT c.doc_id,
         COALESCE(l.cluster_id, c.doc_id) AS pred_c,
         c.doc_id % {DUP_SALT} AS true_c
  FROM corpus2 c LEFT JOIN labels l ON l.node = c.doc_id
),
cells AS (
  SELECT pred_c, true_c, COUNT(*) AS o FROM lab GROUP BY 1, 2
),
psize AS (SELECT pred_c, SUM(o) AS cs FROM cells GROUP BY pred_c),
tsize AS (SELECT true_c, SUM(o) AS ls FROM cells GROUP BY true_c),
sums AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(CAST(CAST(o AS DECIMAL(38,0)) * o AS DOUBLE)
                       / CAST(cs AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
           AS sp,
         CAST(SUM(CAST(CAST(CAST(o AS DECIMAL(38,0)) * o AS DOUBLE)
                       / CAST(ls AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
           AS sr,
         CAST(COUNT(DISTINCT pred_c) AS BIGINT) AS n_pred_clusters,
         CAST(COUNT(DISTINCT true_c) AS BIGINT) AS n_true_clusters
  FROM cells JOIN psize USING (pred_c) JOIN tsize USING (true_c)
)
SELECT n_docs, n_pred_clusters, n_true_clusters,
       FLOOR(CAST((sp / CAST(n_docs AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bcubed_precision,
       FLOOR(CAST((sr / CAST(n_docs AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bcubed_recall,
       FLOOR(CAST((2.0 * (sp / CAST(n_docs AS DOUBLE))
                 * (sr / CAST(n_docs AS DOUBLE))
             / ((sp / CAST(n_docs AS DOUBLE))
                + (sr / CAST(n_docs AS DOUBLE)))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bcubed_f1
FROM sums
"""


def q_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit V = K·N^β across sources — the vocabulary-growth
    companion of zipf_slope: each source contributes one (total
    tokens, distinct words) point and the log-log OLS slope estimates
    β (natural text sits near 0.4-0.6; β ≈ 1 means near-disjoint
    vocabularies — synthetic or unmixed data; β ≈ 0 means heavy
    boilerplate). A corpus curator reads the slope before trusting
    vocabulary-budget extrapolations to 100 TB.

    Scale shape: one token explode → per-(source, word) distinct →
    per-source counts (two shuffles on uniform keys), then the OLS
    runs over the SOURCE domain (a handful of rows at any corpus
    size). Exactness: ln N and ln V are floor-quantized onto the
    NLL_LATTICE per source (|sources|-sized knife-edge population);
    the OLS moments are decimal-cast sums of exact lattice-point
    doubles; slope/intercept are identical expressions over them."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("w")
    )
    per = toks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        F.countDistinct("w").cast("bigint").alias("n_vocab"),
    )
    lat = F.lit(float(NLL_LATTICE))
    x = F.floor(F.log(F.col("n_tok").cast("double")) * lat).cast(
        "bigint"
    ).cast("double") / lat
    y = F.floor(F.log(F.col("n_vocab").cast("double")) * lat).cast(
        "bigint"
    ).cast("double") / lat
    pts = per.select(x.alias("x"), y.alias("y"))
    dec = lambda e: F.sum(e.cast("decimal(38,18)")).cast("double")
    ols = pts.agg(
        F.count("*").cast("double").alias("k"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.select(
        F.col("k").cast("bigint").alias("n_sources"),
        _flr(slope, 6).alias("heaps_beta"),
        _flr((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias("heaps_ln_k"),
    )


SQL_HEAPS_LAW_FIT = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS n_vocab
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY source
),
pts AS (
  SELECT CAST(FLOOR(LN(CAST(n_tok AS DOUBLE)) * {float(NLL_LATTICE)!r})
              AS BIGINT) / {float(NLL_LATTICE)!r} AS x,
         CAST(FLOOR(LN(CAST(n_vocab AS DOUBLE)) * {float(NLL_LATTICE)!r})
              AS BIGINT) / {float(NLL_LATTICE)!r} AS y
  FROM per
),
ols AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_sources,
       FLOOR(CAST(((k * sxy - sx * sy) / (k * sxx - sx * sx)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS heaps_beta,
       FLOOR(CAST(((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS heaps_ln_k
FROM ols
"""


#: Muennighoff et al. 2023 ("Scaling Data-Constrained Language
#: Models"): repeated epochs beyond the first decay in value with
#: characteristic constant R* ≈ 15 — effective data
#: D' = U·(1 + R*·(1 − e^{−R/R*})) for R = epochs − 1 repeats over U
#: unique tokens.
DATA_RSTAR = 15.0


def q_data_constrained_effective_tokens(spark, sf_dir):
    """Data-constrained scaling audit — how much TRAINING VALUE each
    source actually contributes once duplicate text is discounted:
    per source, total token mass vs unique token mass (exact-dedup
    md5 text groups within the source), the implied repetition epochs,
    and the EFFECTIVE token count under the Muennighoff et al. decay
    D' = U·(1 + R*·(1 − e^{−R/R*})) — the number a compute-allocation
    plan should use instead of the raw count. Runs on the
    dup-extended corpus so the synthesized twins create real
    repetition.

    Scale shape: one md5-keyed aggregate collapses the corpus to
    (source, text-group) rows, one more to the SOURCE domain; the
    decay arithmetic is constant-size. Exactness: masses are integer
    token counts; epochs and R are ratios of exact integers; the one
    transcendental e^{−R/R*} is floor-quantized onto the NLL_LATTICE
    per source; effective tokens and retention are identical double
    expressions over exact integers."""
    docs = _docs_with_dups(spark, sf_dir)
    g = docs.select(
        "source",
        F.md5(F.col("text")).alias("th"),
        T.token_count(F.col("text")).cast("bigint").alias("nt"),
    )
    grp = g.groupBy("source", "th").agg(
        F.count("*").cast("bigint").alias("copies"),
        F.max("nt").alias("nt"),
    )
    per = grp.groupBy("source").agg(
        F.sum(F.col("copies") * F.col("nt")).cast("bigint").alias("total_tokens"),
        F.sum("nt").cast("bigint").alias("unique_tokens"),
    )
    epochs = F.col("total_tokens").cast("double") / F.col(
        "unique_tokens"
    ).cast("double")
    r = epochs - 1.0
    eq = F.floor(
        F.exp(-(r / F.lit(DATA_RSTAR))) * F.lit(float(NLL_LATTICE))
    ).cast("bigint")
    pe = per.select("source", "total_tokens", "unique_tokens", eq.alias("eq"))
    mult = (
        F.lit(1.0)
        + F.lit(DATA_RSTAR)
        * (F.lit(1.0) - F.col("eq").cast("double") / F.lit(float(NLL_LATTICE)))
    )
    eff = F.col("unique_tokens").cast("double") * mult
    return pe.select(
        "source",
        "total_tokens",
        "unique_tokens",
        _flr(F.col("total_tokens").cast("double")
            / F.col("unique_tokens").cast("double"), 6).alias("epochs"),
        _flr(eff, 6).alias("effective_tokens"),
        _flr(eff / F.col("total_tokens").cast("double"), 6).alias("value_retention"),
    )


SQL_DATA_CONSTRAINED_EFFECTIVE_TOKENS = f"""
WITH {DOCS_WITH_DUPS_CTE},
g AS (
  SELECT source, md5(text) AS th,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS nt
  FROM corpus
),
grp AS (
  SELECT source, th, COUNT(*) AS copies, MAX(nt) AS nt
  FROM g GROUP BY 1, 2
),
per AS (
  SELECT source,
         CAST(SUM(copies * nt) AS BIGINT) AS total_tokens,
         CAST(SUM(nt) AS BIGINT) AS unique_tokens
  FROM grp GROUP BY source
),
pe AS (
  SELECT source, total_tokens, unique_tokens,
         CAST(FLOOR(EXP(-((CAST(total_tokens AS DOUBLE)
                           / CAST(unique_tokens AS DOUBLE) - 1.0)
                          / {DATA_RSTAR!r}))
                    * {float(NLL_LATTICE)!r}) AS BIGINT) AS eq
  FROM per
)
SELECT source, total_tokens, unique_tokens,
       FLOOR(CAST((CAST(total_tokens AS DOUBLE) / CAST(unique_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS epochs,
       FLOOR(CAST((CAST(unique_tokens AS DOUBLE)
             * (1.0 + {DATA_RSTAR!r}
                * (1.0 - CAST(eq AS DOUBLE) / {float(NLL_LATTICE)!r}))) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS effective_tokens,
       FLOOR(CAST(((CAST(unique_tokens AS DOUBLE)
              * (1.0 + {DATA_RSTAR!r}
                 * (1.0 - CAST(eq AS DOUBLE) / {float(NLL_LATTICE)!r})))
             / CAST(total_tokens AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS value_retention
FROM pe
"""


N_OUTPUT_SHARDS = 64  # write-side export shards (the 100 TB layout unit)


def q_shard_balance_audit(spark, sf_dir):
    """Write-side shard-balance audit — the planning check before a
    100 TB tokenized export: assign every document to one of
    N_OUTPUT_SHARDS shards by md5(doc_id) and report the token-mass
    balance the writer will actually see (per-shard doc/token spread,
    max/mean skew, and the exact coefficient of variation). A skewed
    assignment turns the export's slowest shard into the job's
    wall-clock; this audit is how the hash choice gets signed off.

    Scale shape: one corpus aggregate onto the SHARD domain (fixed
    N_OUTPUT_SHARDS rows), then constant-size arithmetic. Exactness:
    shard ids are md5-lattice buckets; all masses are integers; skew
    is a ratio of exact integers and the CV comes from integer
    sum/sum-of-squares (decimal-cast; n·Σx²−(Σx)² is exact), with the
    one sqrt applied to an identical double — no engine divergence
    surface beyond sqrt-of-identical-input (IEEE-exact, correctly
    rounded in both engines)."""
    docs = _docs(spark, sf_dir)
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint"),
        F.lit(N_OUTPUT_SHARDS),
    )
    per = docs.select(
        shard.alias("shard"),
        T.token_count(F.col("text")).cast("bigint").alias("nt"),
    ).groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    stats = per.agg(
        F.count("*").cast("bigint").alias("n_shards"),
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.sum(
            (F.col("n_tokens").cast("decimal(38,0)") * F.col("n_tokens"))
        ).alias("ss"),
    )
    n = F.col("n_shards").cast("double")
    mean = F.col("total_tokens").cast("double") / n
    # exact integer variance numerator: n·Σx² − (Σx)²
    varnum = (
        F.col("n_shards") * F.col("ss")
        - F.col("total_tokens").cast("decimal(38,0)")
        * F.col("total_tokens")
    )
    cv = F.sqrt(varnum.cast("double")) / n / mean
    return stats.select(
        "n_shards",
        "total_docs",
        "total_tokens",
        "max_tokens",
        "min_tokens",
        _flr(F.col("max_tokens").cast("double") / mean, 6).alias(
            "max_over_mean"
        ),
        _flr(cv, 6).alias("token_cv"),
    )


SQL_SHARD_BALANCE_AUDIT = f"""
WITH per AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
              AS BIGINT) % {N_OUTPUT_SHARDS} AS shard,
         COUNT(*) AS n_docs,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
         CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
         CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
         SUM(CAST(n_tokens AS HUGEINT) * n_tokens) AS ss
  FROM per
)
SELECT n_shards, total_docs, total_tokens, max_tokens, min_tokens,
       FLOOR(CAST((CAST(max_tokens AS DOUBLE)
             / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_over_mean,
       FLOOR(CAST((SQRT(CAST(n_shards * ss
                       - CAST(total_tokens AS HUGEINT) * total_tokens
                  AS DOUBLE))
             / CAST(n_shards AS DOUBLE)
             / (CAST(total_tokens AS DOUBLE) / CAST(n_shards AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS token_cv
FROM stats
"""


def q_dedup_cluster_cohesion(spark, sf_dir):
    """Cohesion audit of the LSH dedup clusters — the over-merge
    detector that B³ alone can't localize: transitive closure happily
    chains A~B~C into one cluster even when A and C share nothing, so
    for every multi-doc predicted cluster this reports the VERIFIED
    edge density (verified near-dup pairs / C(n,2)) banded into a
    histogram. density=1 clusters are cliques (safe to collapse to one
    canonical doc); low-density bands are chain-merges a curator
    should re-verify before deleting.

    Scale shape: the pair/component machinery is dedup_clusters'; the
    cohesion join assigns each verified pair to its cluster (one keyed
    join on the pair's min-label side) and the density histogram runs
    on the CLUSTER domain. Exactness: densities are integer ratios
    (edges·2 vs n·(n−1) cross-products for the band edges — no float
    division ever compared), counts integer."""
    from ..operators.graph import connected_components

    pairs = D.near_dup_pairs(
        _docs_with_dups(spark, sf_dir),
        threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS,
    ).select("id_a", "id_b")
    pairs = _track_cached(pairs.persist())
    comp = connected_components(pairs).select(
        F.col("node").alias("id_a"), F.col("label").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    edges = (
        pairs.join(comp, "id_a")
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    cl = sizes.join(edges, "cluster_id").where(F.col("n_docs") >= 2)
    # density band via integer cross-products: e·2 vs n(n−1)·threshold
    full = F.col("n_edges") * 2 == F.col("n_docs") * (F.col("n_docs") - 1)
    half = F.col("n_edges") * 4 >= F.col("n_docs") * (F.col("n_docs") - 1)
    band = (
        F.when(full, "clique")
        .when(half, "dense(>=0.5)")
        .otherwise("chained(<0.5)")
    )
    return (
        cl.groupBy(band.alias("cohesion_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.max("n_docs").cast("bigint").alias("max_cluster"),
        )
    )


SQL_DEDUP_CLUSTER_COHESION = f"""
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
labels AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS n_docs FROM labels
          GROUP BY cluster_id),
pedges AS (
  SELECT l.cluster_id, COUNT(*) AS n_edges
  FROM pairs p JOIN labels l ON l.node = p.id_a
  GROUP BY l.cluster_id
),
cl AS (
  SELECT s.cluster_id, s.n_docs, e.n_edges
  FROM sizes s JOIN pedges e USING (cluster_id)
  WHERE s.n_docs >= 2
)
SELECT CASE WHEN n_edges * 2 = n_docs * (n_docs - 1) THEN 'clique'
            WHEN n_edges * 4 >= n_docs * (n_docs - 1) THEN 'dense(>=0.5)'
            ELSE 'chained(<0.5)' END AS cohesion_band,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(n_docs) AS BIGINT) AS max_cluster
FROM cl GROUP BY 1
"""


#: "Rare" is RELATIVE: a token whose corpus count sits at least this
#: factor below the mean count per vocabulary entry (c·FACTOR·|V| ≤
#: total — an exact integer cross-product). A fixed hapax threshold is
#: the web-corpus classic, but it is degenerate on any corpus whose
#: generator bounds the vocabulary (this synthetic corpus has 31
#: tokens, min count 26); the relative form is scale-free and keeps
#: the same reading: the order-of-magnitude-below-typical tail.
RARE_TOKEN_FACTOR = 10


def q_rare_token_audit(spark, sf_dir):
    """Lexical-tail health per source: the share of each source's
    vocabulary and token mass carried by corpus-RARE tokens (count at
    least RARE_TOKEN_FACTOR below the per-entry mean — the relative
    hapax screen, see RARE_TOKEN_FACTOR) — high rare-mass flags OCR
    noise, mangled encodings, or synthetic gibberish; near-zero
    rare-mass flags boilerplate. The standard corpus-intake screen
    next to gopher_quality_flags.

    Scale shape: one corpus token explode → global count table (one
    shuffle on the word key, persisted: it feeds the rare set AND the
    per-source join) → per-(source, word) rollup joined against it;
    the corpus totals ride a broadcast 1-row frame. Exactness:
    everything is integer counts, an integer cross-product rare test,
    and integer-ratio rounds."""
    docs = _docs(spark, sf_dir)
    tw = _track_cached(
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )
    cw = tw.groupBy("w").agg(F.sum("cnt").cast("bigint").alias("c"))
    tot = cw.agg(
        F.sum("c").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("v_total"),
    )
    rare = (
        F.col("c").cast("decimal(38,0)")
        * F.lit(RARE_TOKEN_FACTOR)
        * F.col("v_total")
        <= F.col("n_total").cast("decimal(38,0)")
    ).cast("bigint")
    j = tw.join(cw, "w").crossJoin(F.broadcast(tot))
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_vocab"),
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(rare).cast("bigint").alias("rare_vocab"),
            F.sum(rare * F.col("cnt")).cast("bigint").alias("rare_tokens"),
        )
        .select(
            "source",
            "n_vocab",
            "n_tokens",
            "rare_vocab",
            "rare_tokens",
            _flr(F.col("rare_vocab").cast("double")
                / F.col("n_vocab").cast("double"), 6).alias("rare_vocab_share"),
            _flr(F.col("rare_tokens").cast("double")
                / F.col("n_tokens").cast("double"), 6).alias("rare_token_share"),
        )
    )


SQL_RARE_TOKEN_AUDIT = f"""
WITH tw AS (
  SELECT source, w, COUNT(*) AS cnt
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY 1, 2
),
cw AS (SELECT w, SUM(cnt) AS c FROM tw GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS v_total FROM cw),
j AS (
  SELECT source, cnt,
         CASE WHEN CAST(c AS HUGEINT) * {RARE_TOKEN_FACTOR} * v_total
                   <= CAST(n_total AS HUGEINT) THEN 1 ELSE 0 END AS rare
  FROM tw JOIN cw USING (w), tot
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_vocab,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(rare) AS BIGINT) AS rare_vocab,
       CAST(SUM(rare * cnt) AS BIGINT) AS rare_tokens,
       FLOOR(CAST((CAST(SUM(rare) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS rare_vocab_share,
       FLOOR(CAST((CAST(SUM(rare * cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS rare_token_share
FROM j
GROUP BY source
"""


#: t-closeness bands (Li et al. 2007): a QI class fails t-closeness at
#: threshold t when the distance between its sensitive-attribute
#: distribution and the global one exceeds t. For a categorical
#: sensitive attribute the distance is the variational distance
#: (1/2)·Σ|p_s − q_s|. The bands below use t = 0.10 (d·10 ≤ 2·n·N)
#: and t = 0.25 (d·4 ≤ 2·n·N) as pure integer comparisons.
def q_t_closeness_audit(spark, sf_dir):
    """t-closeness release audit (Li, Li & Venkatasubramanian 2007) —
    the distributional companion of k_anonymity_audit's k/l counts:
    k-anonymity hides IDENTITY and l-diversity counts VALUES, but a QI
    class whose sensitive-attribute DISTRIBUTION is skewed far from the
    table's still leaks (attribute disclosure). Same quasi-identifier
    as the k-audit — (lang, coarsened length) — with ``source`` the
    sensitive attribute; per class, the variational distance
    t = (1/2)·Σ_s |c_s/n − g_s/N| to the global source mix, rolled up
    into release bands (t ≤ 0.10 / ≤ 0.25 / > 0.25).

    Exactness: t's numerator is D = Σ_s |c_s·N − g_s·n| — absent
    sources contribute g_s·n, folded in as n·(N − Σ_present g) — all
    DECIMAL(38,0) integer products (HUGEINT in the oracle); band
    predicates compare integers (10·D vs 2·n·N), and the reported max_t
    is the identical exact-integer ratio in both engines. Scale shape:
    ONE corpus scan into a persisted (QI, source) aggregate (bounded by
    |QI|·|sources|) from which the class sizes, source marginals, and
    grand total all derive; then a class-size join co-partitioned on
    the QI key, a broadcast source-marginal join, and a 3-row band
    rollup. No floats in any decision."""
    docs = _docs(spark, sf_dir)
    qi_len = F.floor(F.col("n_chars") / KANON_CHAR_BUCKET).cast("bigint")
    cs = _track_cached(
        docs.groupBy(
            F.col("lang").alias("qi_lang"), qi_len.alias("qi_len"), "source"
        )
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    ncls = cs.groupBy("qi_lang", "qi_len").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    gs = cs.groupBy("source").agg(F.sum("c").cast("bigint").alias("g"))
    tot = cs.agg(F.sum("c").cast("bigint").alias("n_total"))
    j = (
        cs.join(F.broadcast(gs), "source")
        .join(ncls, ["qi_lang", "qi_len"])
        .crossJoin(F.broadcast(tot))
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    per = j.groupBy("qi_lang", "qi_len").agg(
        F.max("n").alias("n"),
        F.max("n_total").alias("n_total"),
        F.sum(F.abs(dec("c") * F.col("n_total") - dec("g") * F.col("n")))
        .cast("decimal(38,0)")
        .alias("d_present"),
        F.sum("g").cast("bigint").alias("g_present"),
    )
    d = (
        F.col("d_present")
        + dec("n") * (F.col("n_total") - F.col("g_present"))
    ).cast("decimal(38,0)")
    den = (F.lit(2).cast("decimal(38,0)") * dec("n") * F.col("n_total")).cast(
        "decimal(38,0)"
    )
    cls = per.select(
        F.col("n"),
        d.alias("d"),
        den.alias("den"),
        F.when(d * 10 <= den, "t<=0.10")
        .when(d * 4 <= den, "0.10-0.25")
        .otherwise(">0.25")
        .alias("t_band"),
    )
    return (
        cls.groupBy("t_band")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_docs"),
            _flr(F.max(F.col("d").cast("double") / F.col("den").cast("double")), 6).alias("max_t"),
        )
    )


SQL_T_CLOSENESS_AUDIT = f"""
WITH cs AS (
  SELECT lang AS qi_lang,
         CAST(FLOOR(n_chars / {KANON_CHAR_BUCKET}) AS BIGINT) AS qi_len,
         source, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3
),
ncls AS (
  SELECT qi_lang, qi_len, CAST(SUM(c) AS BIGINT) AS n
  FROM cs GROUP BY 1, 2
),
gs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS g
       FROM documents GROUP BY source),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
per AS (
  SELECT qi_lang, qi_len, MAX(n) AS n, MAX(n_total) AS n_total,
         SUM(ABS(CAST(c AS HUGEINT) * n_total - CAST(g AS HUGEINT) * n))
           AS d_present,
         CAST(SUM(g) AS BIGINT) AS g_present
  FROM cs JOIN gs USING (source) JOIN ncls USING (qi_lang, qi_len), tot
  GROUP BY 1, 2
),
cls AS (
  SELECT n,
         d_present + CAST(n AS HUGEINT) * (n_total - g_present) AS d,
         2 * CAST(n AS HUGEINT) * n_total AS den
  FROM per
)
SELECT CASE WHEN d * 10 <= den THEN 't<=0.10'
            WHEN d * 4 <= den THEN '0.10-0.25'
            ELSE '>0.25' END AS t_band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       FLOOR(CAST((MAX(CAST(d AS DOUBLE) / CAST(den AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_t
FROM cls GROUP BY 1
"""


QLM_MU = 100  # Dirichlet prior mass (integer, so every ln arg is an
              # exact integer ratio)
QLM_TOPK = 15


def q_qlm_dirichlet_search(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2004) — the language-modeling ranking family next to bm25_search's
    probabilistic-relevance one, and DISJUNCTIVE where BM25's entry is
    conjunctive: every document scores (smoothing covers absent terms),
    via the standard decomposition
    score(d) = Σ_{t∈Q∩d} ln(1 + tf·|C|/(μ·cf_t)) + |Q|·ln(μ/(dl+μ)).

    Exactness: both ln arguments are exact integer ratios (μ integer),
    floor-quantized onto the NLL_LATTICE — the hit term per distinct
    (tf, cf) pair, the length term per distinct dl — summed as BIGINTs;
    the hashed score is lattice/1e9. Scale shape: the posting-list
    probe (term filter pushed into the token stream, one shuffle keyed
    on doc_id carrying only query-term rows, PERSISTED — it feeds both
    the cf marginal and the score join), a broadcast cf frame, one
    corpus scalar, one lens scan, and a final TakeOrdered top-k."""
    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "doc_id", T.token_count(F.col("text")).alias("dl")
    )
    # `or 0`: SUM over an empty corpus is NULL — the degenerate result
    # is then the oracle's empty frame (lens has no rows), not a crash
    # (ADVICE r11)
    c_total = int(
        lens.agg(F.sum("dl").cast("bigint").alias("c")).head()["c"] or 0
    )
    hits = _track_cached(
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .persist()
    )
    cfs = hits.groupBy("tok").agg(F.sum("tf").cast("bigint").alias("cf"))
    lat = F.lit(float(NLL_LATTICE))
    l_hit = F.floor(
        F.log(
            F.lit(1.0)
            + F.col("tf").cast("double")
            * F.lit(float(c_total))
            / (F.lit(float(QLM_MU)) * F.col("cf").cast("double"))
        )
        * lat
    ).cast("bigint")
    hterm = (
        hits.join(F.broadcast(cfs), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(l_hit).alias("hit_lat"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
    )
    l_len = F.floor(
        F.log(
            F.lit(float(QLM_MU))
            / (F.col("dl").cast("double") + F.lit(float(QLM_MU)))
        )
        * lat
    ).cast("bigint")
    scored = lens.join(hterm, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_terms_hit"), F.lit(0)).cast("bigint").alias(
            "n_terms_hit"
        ),
        (
            (
                F.coalesce(F.col("hit_lat"), F.lit(0))
                + F.lit(len(BM25_TERMS)) * l_len
            ).cast("double")
            / lat
        ).alias("s"),
    )
    return (
        scored.select(
            "doc_id", "n_terms_hit", _flr("s", 6).alias("qlm_score")
        )
        .orderBy(F.desc("qlm_score"), "doc_id")
        .limit(QLM_TOPK)
    )


SQL_QLM_DIRICHLET_SEARCH = f"""
WITH lens AS (
  SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS dl FROM documents
),
stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS c_total FROM lens),
hits AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  ) WHERE tok IN ({{terms}}) GROUP BY doc_id, tok
),
cfs AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf FROM hits GROUP BY tok),
hterm AS (
  SELECT h.doc_id,
         SUM(CAST(FLOOR(LN(1.0 + CAST(h.tf AS DOUBLE)
                              * CAST(s.c_total AS DOUBLE)
                              / ({QLM_MU}.0 * CAST(c.cf AS DOUBLE)))
                        * {float(NLL_LATTICE)!r}) AS BIGINT)) AS hit_lat,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM hits h JOIN cfs c USING (tok) CROSS JOIN stats s
  GROUP BY h.doc_id
)
SELECT l.doc_id,
       COALESCE(h.n_terms_hit, 0) AS n_terms_hit,
       FLOOR(CAST((CAST(COALESCE(h.hit_lat, 0)
                  + {{nq}} * CAST(FLOOR(LN({QLM_MU}.0
                        / (CAST(l.dl AS DOUBLE) + {QLM_MU}.0))
                      * {float(NLL_LATTICE)!r}) AS BIGINT) AS DOUBLE)
             / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS qlm_score
FROM lens l LEFT JOIN hterm h USING (doc_id)
ORDER BY qlm_score DESC, doc_id LIMIT {QLM_TOPK}
""".format(
    terms=", ".join(f"'{t}'" for t in BM25_TERMS), nq=len(BM25_TERMS)
)


DOREMI_ETA = 1.0     # excess-loss temperature of the exp reweighting
DOREMI_SMOOTH = 0.1  # uniform-mixture floor (no domain starves to 0)


def q_doremi_domain_weights(spark, sf_dir):
    """DoReMi-style domain reweighting (Xie et al. 2023, one offline
    step) — the EXCESS-LOSS upgrade of temperature_sampling_weights:
    instead of flattening by size alone, upweight the domains a proxy
    model finds hardest RELATIVE to a domain-fit reference. Per source,
    the excess loss is the per-token gap between the corpus-global
    unigram LM's NLL and the source's own — exactly
    KL(source ‖ smoothed-global), ≥ 0 by Gibbs' inequality — and the
    training weight is w_s ∝ token_share_s · e^{η·KL_s}, mixed with a
    uniform floor ε/|S| so no domain starves.

    Exactness: per-(source, word) ln terms are exact-integer-ratio
    arguments floor-quantized onto the NLL_LATTICE, weighted by integer
    counts into DECIMAL sums; the per-source e^{η·KL} is re-quantized
    on the source domain (|S| knife edges); weights are ratios of
    DECIMAL integer products. Scale shape: one token explode → one
    (source, word) aggregate → a word-keyed join against the global
    count table (both sides bounded by the vocabulary), then all
    remaining arithmetic on the |S|-row domain with a 1-row total
    attach."""
    docs = _docs(spark, sf_dir)
    tw = _track_cached(
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )
    gw = tw.groupBy("w").agg(F.sum("cnt").cast("bigint").alias("g"))
    gtot = gw.agg(
        F.sum("g").cast("bigint").alias("g_total"),
        F.count("*").cast("bigint").alias("v_total"),
    )
    ns = tw.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n_s"))
    lat = F.lit(float(NLL_LATTICE))
    j = (
        tw.join(gw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(gtot))
    )
    # ln(p_w/q_w) = ln( cnt·(G+V) / (n_s·(g+1)) ), quantized per word
    l_w = F.floor(
        F.log(
            F.col("cnt").cast("double")
            * (F.col("g_total") + F.col("v_total")).cast("double")
            / (
                F.col("n_s").cast("double")
                * (F.col("g") + F.lit(1)).cast("double")
            )
        )
        * lat
    ).cast("bigint")
    kl = (
        j.groupBy("source")
        .agg(
            F.max("n_s").alias("n_s"),
            F.sum(F.col("cnt").cast("decimal(38,0)") * l_w)
            .cast("decimal(38,0)")
            .alias("kl_lat"),
        )
        .select(
            "source",
            "n_s",
            (
                F.col("kl_lat").cast("double")
                / (F.col("n_s").cast("double") * lat)
            ).alias("kl"),
        )
    )
    e_s = F.floor(F.exp(F.lit(DOREMI_ETA) * F.col("kl")) * lat).cast("bigint")
    w = kl.select(
        "source",
        "n_s",
        _flr("kl", 6).alias("excess_kl"),
        (F.col("n_s").cast("decimal(38,0)") * e_s)
        .cast("decimal(38,0)")
        .alias("raw"),
    )
    tots = w.agg(
        F.sum("raw").cast("decimal(38,0)").alias("raw_total"),
        F.sum("n_s").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    share = F.col("n_s").cast("double") / F.col("n_total").cast("double")
    wnorm = F.col("raw").cast("double") / F.col("raw_total").cast("double")
    final = (
        F.lit(1.0 - DOREMI_SMOOTH) * wnorm
        + F.lit(DOREMI_SMOOTH) / F.col("n_sources").cast("double")
    )
    return w.crossJoin(F.broadcast(tots)).select(
        "source",
        _flr(share, 6).alias("token_share"),
        "excess_kl",
        _flr(final, 6).alias("doremi_weight"),
        _flr(final / share, 6).alias("boost"),
    )


SQL_DOREMI_DOMAIN_WEIGHTS = f"""
WITH tw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY 1, 2
),
gw AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS g FROM tw GROUP BY w),
gtot AS (SELECT CAST(SUM(g) AS BIGINT) AS g_total,
                CAST(COUNT(*) AS BIGINT) AS v_total FROM gw),
ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s FROM tw GROUP BY source),
kl AS (
  SELECT source, MAX(n_s) AS n_s,
         CAST(SUM(CAST(cnt AS HUGEINT)
                  * CAST(FLOOR(LN(CAST(cnt AS DOUBLE)
                                  * CAST(g_total + v_total AS DOUBLE)
                                  / (CAST(n_s AS DOUBLE)
                                     * CAST(g + 1 AS DOUBLE)))
                               * {float(NLL_LATTICE)!r}) AS BIGINT))
              AS DOUBLE)
           / (CAST(MAX(n_s) AS DOUBLE) * {float(NLL_LATTICE)!r}) AS kl
  FROM tw JOIN gw USING (w) JOIN ns USING (source), gtot
  GROUP BY source
),
w AS (
  SELECT source, n_s, FLOOR(CAST((kl) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS excess_kl,
         CAST(n_s AS HUGEINT)
           * CAST(FLOOR(EXP({DOREMI_ETA!r} * kl)
                        * {float(NLL_LATTICE)!r}) AS BIGINT) AS raw
  FROM kl
),
tots AS (
  SELECT SUM(raw) AS raw_total, CAST(SUM(n_s) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM w
)
SELECT source,
       FLOOR(CAST((CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS token_share,
       excess_kl,
       FLOOR(CAST(({1.0 - DOREMI_SMOOTH!r} * (CAST(raw AS DOUBLE)
                                        / CAST(raw_total AS DOUBLE))
             + {DOREMI_SMOOTH!r} / CAST(n_sources AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS doremi_weight,
       FLOOR(CAST((({1.0 - DOREMI_SMOOTH!r} * (CAST(raw AS DOUBLE)
                                         / CAST(raw_total AS DOUBLE))
              + {DOREMI_SMOOTH!r} / CAST(n_sources AS DOUBLE))
             / (CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS boost
FROM w, tots
"""


LPA_ROUNDS = 3
LPA_TOPK = 20


def q_label_propagation_communities(spark, sf_dir):
    """Label-propagation community detection (Raghavan et al. 2007)
    over the co-purchase graph — the COMMUNITY view next to
    pagerank_copurchase's influence view and dedup_clusters' connected
    components: plurality-of-neighbors label updates find dense
    behavioral clusters, not just reachability. Three synchronous
    rounds (operators/graph.py:label_propagation — integer argmax with
    min-label tie-break, so the result is exact and replayable), then
    the top-{k} communities by size.

    Exactness: labels are node ids; the update is max(count) → min
    (label) — a total order over integers, replayed by the oracle as
    {r} unrolled count+QUALIFY CTEs. Scale shape: per round one
    edge⋈label shuffle plus one (node, label) count — Pregel
    relationally, lineage truncated per round; the rollup is one
    aggregate on the label key."""
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(LPA_TOPK)
        .select(
            F.col("community").cast("bigint").alias("community"),
            "n_nodes", "min_node", "max_node",
        )
    )


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
c{i} AS (
  SELECT b.dst AS node, l.label, COUNT(*) AS c
  FROM bidir b JOIN {prev} l ON l.node = b.src
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, CAST(label AS BIGINT) AS label FROM c{i}
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY c DESC, label ASC) = 1
)""")
        prev = f"l{i}"
    return f"""
WITH {_COPURCHASE_EDGES_CTE},
bidir AS (
  SELECT id_a AS src, id_b AS dst FROM e
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM e
),
l0 AS (
  SELECT src AS node, CAST(src AS BIGINT) AS label
  FROM (SELECT DISTINCT src FROM bidir)
),
{','.join(rounds)}
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM {prev}
GROUP BY label
ORDER BY n_nodes DESC, community
LIMIT {LPA_TOPK}
"""


SQL_LABEL_PROPAGATION_COMMUNITIES = _lpa_sql()


KCENTER_PICKS = 6  # seed + 5 greedy farthest-point picks


def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center (farthest-point) coreset selection over the
    embedding table (Gonzalez 1985; Sener & Savarese 2018's diversity
    baseline for data selection): starting from vec_id 0, each round
    picks the point farthest (max min-distance) from the selected set
    — the dist_sq of pick k IS the 2-approximate coverage radius of
    the first k−1 centers, the number a data-curation plan reads to
    size a diverse fine-tuning subset.

    Exactness: coordinates are floor-quantized to integers (EMB_Q_SCALE
    lattice), so every squared L2 distance, min, and argmax is exact
    BIGINT arithmetic — the oracle replays the greedy loop as
    {k}−1 unrolled LEAST/argmax CTE pairs and hash-matches exactly.
    Scale shape: the quantized table is persisted once (one corpus
    scan); each round is one full pass computing min-distance against
    ≤{k} broadcast centers (the literal Sener-Savarese plan at cluster
    scale) plus a 1-row TakeOrdered gather — K bounded driver scalars,
    the bpe_merge_learning collect class."""
    emb = _emb(spark, sf_dir)
    qe = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(EMB_Q_SCALE))
        ).cast("bigint"),
    )
    pts = _track_cached(emb.select("vec_id", qe.alias("qe")).persist())

    def dist_to(center):
        arr = F.lit([int(v) for v in center]).cast("array<bigint>")  # constant-folded array literal
        return F.aggregate(
            F.zip_with(F.col("qe"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed_row = pts.orderBy(F.asc("vec_id")).limit(1).head()
    if seed_row is None:
        # empty embeddings table: mirror the oracle's degenerate rows —
        # its scalar subqueries go NULL, pick 1's dist_sq stays the
        # literal 0 (ADVICE r11)
        rows = [(1, None, 0)] + [
            (k, None, None) for k in range(2, KCENTER_PICKS + 1)
        ]
        return spark.createDataFrame(
            rows, "pick_order bigint, vec_id bigint, dist_sq bigint"
        ).orderBy("pick_order")
    centers = [list(seed_row["qe"])]
    picks = [(1, int(seed_row["vec_id"]), 0)]
    for k in range(2, KCENTER_PICKS + 1):
        dists = [dist_to(c) for c in centers]
        md = F.least(*dists) if len(dists) > 1 else dists[0]
        # the argmax row CARRIES the picked center's quantized vector
        # (r14): one TakeOrdered job per round instead of argmax + a
        # second lookup job — the extra payload is EMB_DIM bigints on a
        # single gathered row
        row = (
            pts.select("vec_id", "qe", md.alias("md"))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .head()
        )
        picks.append((k, int(row["vec_id"]), int(row["md"])))
        centers.append(list(row["qe"]))
    return spark.createDataFrame(
        picks, "pick_order bigint, vec_id bigint, dist_sq bigint"
    ).orderBy("pick_order")


def _kcenter_sql() -> str:
    dist = lambda a, b: (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
    )
    parts = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(EMB_Q_SCALE)!r})
                   AS BIGINT)) AS qe
  FROM embeddings
)""",
        f"""m1 AS (
  SELECT p.vec_id, {dist('p.qe', 'c.qe')} AS md
  FROM q p CROSS JOIN (SELECT qe FROM q
                       WHERE vec_id = (SELECT MIN(vec_id) FROM q)) c
)""",
        "p1 AS (SELECT vec_id, md FROM m1 ORDER BY md DESC, vec_id LIMIT 1)",
    ]
    for k in range(2, KCENTER_PICKS):
        parts.append(f"""m{k} AS (
  SELECT m.vec_id, LEAST(m.md, {dist('p.qe', 'c.qe')}) AS md
  FROM m{k - 1} m JOIN q p USING (vec_id)
  CROSS JOIN (SELECT qe FROM q
              WHERE vec_id = (SELECT vec_id FROM p{k - 1})) c
)""")
        parts.append(
            f"p{k} AS (SELECT vec_id, md FROM m{k} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
    selects = [
        "SELECT CAST(1 AS BIGINT) AS pick_order, "
        "(SELECT CAST(MIN(vec_id) AS BIGINT) FROM q) AS vec_id, "
        "CAST(0 AS BIGINT) AS dist_sq"
    ]
    for k in range(1, KCENTER_PICKS):
        selects.append(
            f"SELECT CAST({k + 1} AS BIGINT), "
            f"(SELECT CAST(vec_id AS BIGINT) FROM p{k}), "
            f"(SELECT CAST(md AS BIGINT) FROM p{k})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY pick_order"
    )


SQL_KCENTER_CORESET = _kcenter_sql()


#: Fellegi-Sunter (1969) probabilistic record linkage over the customer
#: dimension: blocked candidate pairs scored by Σ agreement log-ratios.
#: m = P(field agrees | true match) are the model constants below;
#: u = P(field agrees | random pair) is ESTIMATED EXACTLY from the
#: table's own marginals as Σ n_v(n_v−1) / (N(N−1)), add-one smoothed.
FS_M = (("nat", 0.95), ("seg", 0.90), ("bal", 0.80))
FS_BLOCK_DIV = 50   # blocking key: floor(acctbal / 50)
FS_BAL_DIV = 10     # comparison field: floor(acctbal / 10)
FS_UPPER = 4.0      # weight ≥ 4 → 'match' band
# weight < 0 → 'non-match'; between → 'possible'


def q_fellegi_sunter_linkage(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage — the SCORING model
    the fuzzy/sorted-neighborhood pair generators feed at production
    scale: blocked candidate pairs (same acctbal block, custkey <) get
    a match weight Σ_f [agree: ln(m_f/u_f), disagree:
    ln((1−m_f)/(1−u_f))] over three comparison fields (nation, market
    segment, acctbal decabucket), with u_f estimated exactly from the
    table marginals; pairs roll up into match / possible / non-match
    bands.

    Exactness: every u_f is an add-one-smoothed exact integer ratio
    (Σ n_v(n_v−1) + 1) / (N(N−1) + 2), so each of the six per-field
    weights is ONE floor-lattice value computed in-plan from integer
    aggregates (6 knife edges total); pair weights are BIGINT sums,
    band predicates compare integers against ⌈threshold·LAT⌉, and the
    reported min/max weights are lattice/1e9 doubles. Scale shape:
    customer is scanned once into a persisted projection that feeds the
    three marginal aggregates AND the blocked self-join (block key
    bounds the pair fan-out — never a customers² product); the 1-row
    stats frame rides broadcast."""
    cust = _track_cached(
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("bigint").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / FS_BAL_DIV).cast("bigint").alias("bal"),
            F.floor(F.col("c_acctbal") / FS_BLOCK_DIV)
            .cast("bigint")
            .alias("bkey"),
        )
        .persist()
    )

    def agree_total(col, name):
        return (
            cust.groupBy(F.col(col).alias("v"))
            .agg(F.count("*").cast("bigint").alias("nv"))
            .agg(
                F.sum(F.col("nv") * (F.col("nv") - 1))
                .cast("bigint")
                .alias(name)
            )
        )

    stats = (
        cust.agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(agree_total("nat", "a_nat"))
        .crossJoin(agree_total("seg", "a_seg"))
        .crossJoin(agree_total("bal", "a_bal"))
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).crossJoin(F.broadcast(stats))
    lat = F.lit(float(NLL_LATTICE))
    np_ = (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    w = None
    for f, m in FS_M:
        agree = F.col(f"a.{f}") == F.col(f"b.{f}")
        af = F.col(f"a_{f}").cast("double")
        wa = F.floor(
            F.log(F.lit(m) * (np_ + 2.0) / (af + 1.0)) * lat
        ).cast("bigint")
        wd = F.floor(
            F.log(F.lit(1.0 - m) * (np_ + 2.0) / (np_ - af + 1.0)) * lat
        ).cast("bigint")
        term = F.when(agree, wa).otherwise(wd)
        w = term if w is None else w + term
    upper = int(FS_UPPER * NLL_LATTICE)
    scored = pairs.select(
        w.alias("w"),
        F.when(w >= upper, "match")
        .when(w < 0, "non-match")
        .otherwise("possible")
        .alias("fs_band"),
    )
    return scored.groupBy("fs_band").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        _flr(F.min(F.col("w").cast("double")) / lat, 6).alias("min_weight"),
        _flr(F.max(F.col("w").cast("double")) / lat, 6).alias("max_weight"),
    )


def _fs_sql() -> str:
    lat = float(NLL_LATTICE)
    terms = []
    for f, m in FS_M:
        terms.append(
            f"CASE WHEN a.{f} = b.{f} THEN "
            f"CAST(FLOOR(LN({m!r} * (npairs + 2.0) / (a_{f} + 1.0)) "
            f"* {lat!r}) AS BIGINT) ELSE "
            f"CAST(FLOOR(LN({1.0 - m!r} * (npairs + 2.0) "
            f"/ (npairs - a_{f} + 1.0)) * {lat!r}) AS BIGINT) END"
        )
    w = " + ".join(terms)
    return f"""
WITH cust AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / {FS_BAL_DIV}) AS BIGINT) AS bal,
         CAST(FLOOR(c_acctbal / {FS_BLOCK_DIV}) AS BIGINT) AS bkey
  FROM customer
),
a_nat AS (SELECT CAST(SUM(nv * (nv - 1)) AS BIGINT) AS a_nat FROM
          (SELECT COUNT(*) AS nv FROM cust GROUP BY nat)),
a_seg AS (SELECT CAST(SUM(nv * (nv - 1)) AS BIGINT) AS a_seg FROM
          (SELECT COUNT(*) AS nv FROM cust GROUP BY seg)),
a_bal AS (SELECT CAST(SUM(nv * (nv - 1)) AS BIGINT) AS a_bal FROM
          (SELECT COUNT(*) AS nv FROM cust GROUP BY bal)),
ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
stats AS (
  SELECT CAST(n AS DOUBLE) * (n - 1) AS npairs,
         CAST(a_nat AS DOUBLE) AS a_nat, CAST(a_seg AS DOUBLE) AS a_seg,
         CAST(a_bal AS DOUBLE) AS a_bal
  FROM ntot, a_nat, a_seg, a_bal
),
scored AS (
  SELECT {w} AS w
  FROM cust a JOIN cust b
    ON a.bkey = b.bkey AND a.c_custkey < b.c_custkey, stats
)
SELECT CASE WHEN w >= {int(FS_UPPER * NLL_LATTICE)} THEN 'match'
            WHEN w < 0 THEN 'non-match'
            ELSE 'possible' END AS fs_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(CAST((MIN(CAST(w AS DOUBLE)) / {lat!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS min_weight,
       FLOOR(CAST((MAX(CAST(w AS DOUBLE)) / {lat!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS max_weight
FROM scored
GROUP BY 1
"""


SQL_FELLEGI_SUNTER_LINKAGE = _fs_sql()


#: no language repeats more than 5/2 epochs (cap = t·5 div 2 — kept
#: rational so the cap actually BINDS against B = 2·total on a corpus
#: with ~5 balanced languages; integer floor division in both engines)
UNIMAX_CAP_NUM, UNIMAX_CAP_DEN = 5, 2
UNIMAX_BUDGET_EPOCHS = 2  # training budget B = 2 × total corpus tokens


def q_unimax_budget_allocation(spark, sf_dir):
    """UniMax budget allocation (Chung et al. 2023) — the epoch-capped
    uniform alternative to temperature_sampling_weights: spread the
    token budget B as evenly as possible across languages, except no
    language may repeat more than {c} epochs of its own data. The
    waterfall has the classic water-filling closed form: language l
    gets min(cap_l, θ) where θ is the level at which Σ min(cap_l, θ)
    = B; l is capped iff, in ascending cap order at rank k,
    cap_k·(n−k+1) ≤ B − Σ_(i<k) cap_i.

    Exactness: caps, prefix sums, and the capping predicate are pure
    integer/DECIMAL comparisons; θ = (B − Σ_capped cap)/(n −
    n_capped) is one exact integer ratio evaluated identically in both
    engines; every output is an integer or a rounded exact ratio.
    Scale shape: one corpus scan → per-language token masses; ALL
    remaining work (rank window, prefix sum, 1-row capped totals) runs
    on the |languages| domain — constant-size at any corpus scale."""
    docs = _docs(spark, sf_dir)
    tl = _track_cached(
        docs.select("lang", T.token_count(F.col("text")).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("bigint").alias("t"))
        .persist()
    )
    tot = tl.agg(
        F.sum("t").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    base = tl.select(
        "lang",
        "t",
        F.expr(f"t * {UNIMAX_CAP_NUM} div {UNIMAX_CAP_DEN}")
        .cast("bigint")
        .alias("cap"),
    ).crossJoin(F.broadcast(tot))
    w = Window.orderBy(F.asc("cap"), F.asc("lang"))
    ranked = base.withColumn(
        "k", F.row_number().over(w).cast("bigint")
    ).withColumn(
        "prefix",
        F.coalesce(
            F.sum("cap").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    b = (F.col("total") * UNIMAX_BUDGET_EPOCHS).cast("bigint")
    dec = lambda e: e.cast("decimal(38,0)")
    is_capped = (
        dec(F.col("cap")) * (F.col("n_langs") - F.col("k") + 1)
        <= dec(b - F.col("prefix"))
    ).cast("bigint")
    r2 = ranked.withColumn("is_capped", is_capped)
    caps_tot = r2.agg(
        F.sum(F.when(F.col("is_capped") == 1, F.col("cap")).otherwise(0))
        .cast("bigint")
        .alias("cap_sum"),
        F.sum("is_capped").cast("bigint").alias("n_capped"),
    )
    j = r2.crossJoin(F.broadcast(caps_tot))
    theta = (b - F.col("cap_sum")).cast("double") / (
        F.col("n_langs") - F.col("n_capped")
    ).cast("double")
    alloc = F.when(
        F.col("is_capped") == 1, F.col("cap").cast("double")
    ).otherwise(theta)
    return j.select(
        "lang",
        F.col("t").alias("lang_tokens"),
        F.col("cap").alias("cap_tokens"),
        (F.col("is_capped") == 1).alias("capped"),
        _flr(alloc, 6).alias("alloc_tokens"),
        _flr(alloc / F.col("t").cast("double"), 6).alias("epochs"),
        _flr(alloc / b.cast("double"), 6).alias("budget_share"),
    )


SQL_UNIMAX_BUDGET_ALLOCATION = f"""
WITH tl AS (
  SELECT lang, CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS t
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(t) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_langs FROM tl),
ranked AS (
  SELECT lang, t,
         CAST(t * {UNIMAX_CAP_NUM} // {UNIMAX_CAP_DEN} AS BIGINT) AS cap,
         total, n_langs,
         CAST(row_number() OVER (
              ORDER BY t * {UNIMAX_CAP_NUM} // {UNIMAX_CAP_DEN}, lang)
              AS BIGINT) AS k,
         CAST(COALESCE(SUM(t * {UNIMAX_CAP_NUM} // {UNIMAX_CAP_DEN}) OVER (
              ORDER BY t * {UNIMAX_CAP_NUM} // {UNIMAX_CAP_DEN}, lang
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prefix
  FROM tl, tot
),
r2 AS (
  SELECT *, CASE WHEN CAST(cap AS HUGEINT) * (n_langs - k + 1)
                      <= CAST(total * {UNIMAX_BUDGET_EPOCHS} - prefix
                              AS HUGEINT)
                 THEN 1 ELSE 0 END AS is_capped
  FROM ranked
),
ct AS (
  SELECT CAST(SUM(CASE WHEN is_capped = 1 THEN cap ELSE 0 END) AS BIGINT)
           AS cap_sum,
         CAST(SUM(is_capped) AS BIGINT) AS n_capped
  FROM r2
)
SELECT lang, t AS lang_tokens, cap AS cap_tokens,
       is_capped = 1 AS capped,
       FLOOR(CAST((CASE WHEN is_capped = 1 THEN CAST(cap AS DOUBLE)
                  ELSE CAST(total * {UNIMAX_BUDGET_EPOCHS} - cap_sum
                            AS DOUBLE)
                       / CAST(n_langs - n_capped AS DOUBLE) END) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS alloc_tokens,
       FLOOR(CAST((CASE WHEN is_capped = 1 THEN CAST(cap AS DOUBLE)
                  ELSE CAST(total * {UNIMAX_BUDGET_EPOCHS} - cap_sum
                            AS DOUBLE)
                       / CAST(n_langs - n_capped AS DOUBLE) END
             / CAST(t AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS epochs,
       FLOOR(CAST((CASE WHEN is_capped = 1 THEN CAST(cap AS DOUBLE)
                  ELSE CAST(total * {UNIMAX_BUDGET_EPOCHS} - cap_sum
                            AS DOUBLE)
                       / CAST(n_langs - n_capped AS DOUBLE) END
             / CAST(total * {UNIMAX_BUDGET_EPOCHS} AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS budget_share
FROM r2, ct
"""


def q_packing_truncation_audit(spark, sf_dir):
    """Truncation audit of the concat-and-split training layout
    (Ding et al. 2024 measure fewer-truncations packing against exactly
    this baseline): per language, how many documents the
    sequence_packing layout SPLITS across a {L}-token boundary, how
    many exceed a full sequence outright, the split rate, and the mean
    pieces-per-doc — the numbers that justify (or not) moving to a
    length-aware packer.

    Exactness: offsets come from the same two-phase integer prefix sum
    as sequence_packing; split/pieces/oversize are integer div
    comparisons; rates are exact integer ratios rounded. Scale shape:
    identical to sequence_packing (no corpus-wide window — deterministic
    range buckets) plus one per-language rollup."""
    from ..operators.scaling import stable_prefix_sum

    docs = _docs(spark, sf_dir).select(
        "lang", "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    packed = stable_prefix_sum(
        docs, order_cols=["doc_id"], value_col="n_tokens",
        group_cols=["lang"], out_col="start_tok",
    )
    first_seq = F.expr(f"start_tok div {SEQ_LEN}")
    last_seq = F.expr(f"(start_tok + n_tokens - 1) div {SEQ_LEN}")
    nonempty = F.col("n_tokens") >= 1
    ann = packed.select(
        "lang",
        "n_tokens",
        F.when(nonempty & (first_seq != last_seq), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("split"),
        F.when(nonempty, last_seq - first_seq + 1)
        .otherwise(0)
        .cast("bigint")
        .alias("pieces"),
        F.when(F.col("n_tokens") > SEQ_LEN, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("oversize"),
    )
    return ann.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("split").cast("bigint").alias("n_split_docs"),
        F.sum("oversize").cast("bigint").alias("n_oversize_docs"),
        (F.expr(f"(sum(n_tokens) + {SEQ_LEN} - 1) div {SEQ_LEN}"))
        .cast("bigint")
        .alias("seqs_used"),
        _flr(F.sum("split").cast("double") / F.count("*"), 6).alias("split_rate"),
        _flr(F.sum("pieces").cast("double") / F.count("*"), 6).alias("avg_pieces"),
    )


SQL_PACKING_TRUNCATION_AUDIT = f"""
WITH d AS (
  SELECT lang, doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_tok
  FROM d
),
ann AS (
  SELECT lang, n_tokens,
         CASE WHEN n_tokens >= 1
                   AND start_tok // {SEQ_LEN}
                       <> (start_tok + n_tokens - 1) // {SEQ_LEN}
              THEN 1 ELSE 0 END AS split,
         CASE WHEN n_tokens >= 1
              THEN (start_tok + n_tokens - 1) // {SEQ_LEN}
                   - start_tok // {SEQ_LEN} + 1
              ELSE 0 END AS pieces,
         CASE WHEN n_tokens > {SEQ_LEN} THEN 1 ELSE 0 END AS oversize
  FROM c
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(split) AS BIGINT) AS n_split_docs,
       CAST(SUM(oversize) AS BIGINT) AS n_oversize_docs,
       CAST((SUM(n_tokens) + {SEQ_LEN} - 1) // {SEQ_LEN} AS BIGINT)
         AS seqs_used,
       FLOOR(CAST((CAST(SUM(split) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS split_rate,
       FLOOR(CAST((CAST(SUM(pieces) AS DOUBLE) / COUNT(*)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS avg_pieces
FROM ann GROUP BY lang
"""


COVERAGE_PICKS = 5


def q_coverage_greedy_selection(spark, sf_dir):
    """Greedy maximum-coverage data selection (the facility-location /
    submodular-coverage baseline for instruction-diversity subset
    picking, Nemhauser-style 1−1/e greedy): pick {k} documents, each
    round taking the doc that covers the most NOT-YET-COVERED distinct
    word BIGRAMS (the unigram vocabulary of this corpus is 31 words —
    one doc covers it, so the meaningful coverage universe is the
    bigram space). The phrase-coverage companion of kcenter_coreset's
    geometric diversity.

    Exactness: gains are integer distinct-bigram counts with a (gain
    DESC, doc_id) total-order argmax; the oracle replays the loop as
    {k} unrolled anti-join/argmax CTE pairs. Scale shape: the (doc,
    bigram) distinct table is persisted once (one corpus scan, one
    shuffle); each round is one anti-join against the covered set
    (bounded by the picked docs' bigram vocabularies, broadcastable)
    plus a 1-row TakeOrdered gather — K bounded driver scalars, the
    bpe_merge_learning collect class; the covered set is
    checkpoint-truncated per round."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(
            F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
        ),
    )
    dw = _track_cached(
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("w"))
        .distinct()
        .persist()
    )
    covered = None
    picks: list[tuple[int, int, int, int]] = []
    cov_total = 0
    for k in range(1, COVERAGE_PICKS + 1):
        cand = dw if covered is None else dw.join(
            F.broadcast(covered), "w", "left_anti"
        )
        row = (
            cand.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("c"))
            .orderBy(F.desc("c"), F.asc("doc_id"))
            .limit(1)
            .head()
        )
        if row is None:
            # coverage exhausted: the oracle's p{k} is empty, so its
            # scalar subqueries emit (k, NULL, NULL, covered_total) —
            # mirror that exactly
            picks.append((k, None, None, cov_total))
            continue
        gain = int(row["c"])
        cov_total += gain
        picks.append((k, int(row["doc_id"]), gain, cov_total))
        newcov = dw.where(F.col("doc_id") == int(row["doc_id"])).select("w")
        covered = (
            newcov
            if covered is None
            else covered.union(newcov).distinct()
        ).localCheckpoint(eager=False)  # next round's head() materializes it
    return spark.createDataFrame(
        picks,
        "pick_order bigint, doc_id bigint, gain bigint, covered_total bigint",
    ).orderBy("pick_order")


def _coverage_sql() -> str:
    parts = [
        f"""toks AS (
  SELECT doc_id, {TOKENS_SQL} AS a FROM documents
  WHERE len({TOKENS_SQL}) >= 2
),
dw AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i + 1] AS w
  FROM toks, unnest(range(1, len(a))) AS u(i)
)""",
        "g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM dw "
        "GROUP BY doc_id)",
        "p1 AS (SELECT doc_id, c FROM g1 ORDER BY c DESC, doc_id LIMIT 1)",
        "cov1 AS (SELECT DISTINCT w FROM dw "
        "WHERE doc_id = (SELECT doc_id FROM p1))",
    ]
    for k in range(2, COVERAGE_PICKS + 1):
        parts.append(
            f"g{k} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM dw "
            f"WHERE w NOT IN (SELECT w FROM cov{k - 1}) GROUP BY doc_id)"
        )
        parts.append(
            f"p{k} AS (SELECT doc_id, c FROM g{k} "
            f"ORDER BY c DESC, doc_id LIMIT 1)"
        )
        parts.append(
            f"cov{k} AS (SELECT w FROM cov{k - 1} UNION "
            f"SELECT w FROM dw WHERE doc_id = (SELECT doc_id FROM p{k}))"
        )
    selects = []
    for k in range(1, COVERAGE_PICKS + 1):
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS pick_order, "
            f"(SELECT CAST(doc_id AS BIGINT) FROM p{k}) AS doc_id, "
            f"(SELECT c FROM p{k}) AS gain, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM cov{k}) AS covered_total"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY pick_order"
    )


SQL_COVERAGE_GREEDY_SELECTION = _coverage_sql()


WORDPIECE_MERGES = 6
#: WordPiece score quantum: score = cnt(ab)·1e12 div (cnt(a)·cnt(b)) —
#: the likelihood-gain ratio as an exact integer floor division (Spark
#: DECIMAL `div` truncates, DuckDB HUGEINT `//` floors; both exact and
#: equal on positive values), so the argmax needs no floats at all.
WORDPIECE_SCALE = 1_000_000_000_000


def q_wordpiece_learning(spark, sf_dir):
    """Distributed WordPiece merge learning (Schuster & Nakajima 2012;
    the BERT tokenizer's training rule) — the LIKELIHOOD-scored sibling
    of bpe_merge_learning: instead of adopting the most FREQUENT
    adjacent pair, adopt the pair maximizing cnt(ab)/(cnt(a)·cnt(b)) —
    the unigram-LM likelihood gain of the merge — which prefers
    cohesive rare pairs over products of two already-common symbols.
    Returns the merge table with each rule's pair count and quantized
    score at selection time.

    Cross-engine exactness: pair and symbol counts are integer sums;
    the score is an exact integer floor division onto the 1e12 quantum
    (see WORDPIECE_SCALE — no transcendental, no knife edge); the
    argmax total order is (score DESC, left, right). Scale shape:
    identical to bpe_merge_learning — corpus touched ONCE into the
    word-frequency table; each of the K steps is one pair aggregate
    plus one symbol aggregate over the vocabulary domain and a LIMIT-1
    collect; state persisted one step deep, merges applied by JVM
    string replace."""
    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    base = wf.select(
        F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.substring(F.col("w"), i, 1),
                ),
                "  ",
            ),
            F.lit(" "),
        ).alias("s"),
        "freq",
    )
    state = base.persist()
    prev = None
    merges: list[tuple[int, str, str, int, int]] = []
    try:
        for step in range(1, WORDPIECE_MERGES + 1):
            sy = F.split(F.trim(F.col("s")), "  ")
            symd = state.select(sy.alias("sy"), "freq")
            pairs = (
                symd.where(F.size("sy") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("sy") - 1),
                            lambda i: F.struct(
                                F.element_at("sy", i).alias("s1"),
                                F.element_at("sy", i + 1).alias("s2"),
                            ),
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.s1", "p.s2")
                .agg(F.sum("freq").cast("bigint").alias("cnt"))
            )
            syms = (
                symd.select(F.explode("sy").alias("sym"), "freq")
                .groupBy("sym")
                .agg(F.sum("freq").cast("bigint").alias("c"))
            )
            c1 = syms.select(F.col("sym").alias("s1"), F.col("c").alias("c1"))
            c2 = syms.select(F.col("sym").alias("s2"), F.col("c").alias("c2"))
            scored = (
                pairs.join(F.broadcast(c1), "s1")
                .join(F.broadcast(c2), "s2")
                .select(
                    "s1",
                    "s2",
                    "cnt",
                    F.expr(
                        f"CAST(cnt AS DECIMAL(38,0)) * {WORDPIECE_SCALE} "
                        f"div (CAST(c1 AS DECIMAL(38,0)) * c2)"
                    ).cast("bigint").alias("score_q"),
                )
            )
            best = scored.orderBy(
                F.desc("score_q"), F.asc("s1"), F.asc("s2")
            ).limit(1).collect()
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break
            a, b = best[0]["s1"], best[0]["s2"]
            merges.append(
                (step, a, b, int(best[0]["cnt"]), int(best[0]["score_q"]))
            )
            nxt = state.select(
                F.replace(
                    F.col("s"),
                    F.lit(_bpe_wrap(a) + _bpe_wrap(b)),
                    F.lit(_bpe_wrap(a + b)),
                ).alias("s"),
                "freq",
            ).persist()
            prev, state = state, nxt
    finally:
        state.unpersist()
        if prev is not None:
            prev.unpersist()
    out_schema = (
        "step INT, left_sym STRING, right_sym STRING, merged STRING, "
        "pair_count BIGINT, score_q BIGINT"
    )
    # free side effect: persist the driver-held merge table as the
    # build-once artifact tokenizer_compare_audit consumes
    _store_merge_rows(
        sf_dir,
        "wordpiece",
        [
            {"step": s, "left_sym": a, "right_sym": b, "merged": a + b,
             "pair_count": c, "score_q": q}
            for s, a, b, c, q in merges
        ],
    )
    return spark.createDataFrame(
        [(s, a, b, a + b, c, q) for s, a, b, c, q in merges], out_schema
    )


def _wordpiece_oracle_sql(k: int) -> str:
    """K-step CTE replay of q_wordpiece_learning — the bpe oracle's
    chain plus a per-step symbol-count table and the HUGEINT
    floor-division score (MATERIALIZED for the same ~5^K reason)."""
    parts = [
        f"WITH toks AS (SELECT {TOKENS_SQL} AS t FROM documents),",
        "wf AS (SELECT w, COUNT(*) AS freq FROM"
        " (SELECT unnest(t) AS w FROM toks) GROUP BY w),",
        "w0 AS (SELECT ' ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> substr(w, i, 1)), '  ') || ' '"
        " AS s, freq FROM wf)",
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f", sy{i} AS MATERIALIZED (SELECT"
            f" string_split(trim(s, ' '), '  ') AS sy,"
            f" freq FROM w{p} WHERE s IS NOT NULL)"
            f", pr{i} AS MATERIALIZED (SELECT"
            f" string_split(g, chr(9))[1] AS s1,"
            f" string_split(g, chr(9))[2] AS s2, SUM(freq) AS cnt"
            f" FROM (SELECT unnest(list_transform(range(1, len(sy)),"
            f" j -> sy[j] || chr(9) || sy[j+1])) AS g, freq FROM sy{i}"
            f" WHERE len(sy) >= 2) GROUP BY 1, 2)"
            f", sc{i} AS MATERIALIZED (SELECT sym, SUM(freq) AS c FROM"
            f" (SELECT unnest(sy) AS sym, freq FROM sy{i}) GROUP BY sym)"
            f", b{i} AS MATERIALIZED (SELECT p.s1, p.s2, p.cnt,"
            f" CAST(CAST(p.cnt AS HUGEINT) * {WORDPIECE_SCALE}"
            f" // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_q"
            f" FROM pr{i} p JOIN sc{i} a ON a.sym = p.s1"
            f" JOIN sc{i} b ON b.sym = p.s2"
            f" ORDER BY score_q DESC, p.s1, p.s2 LIMIT 1)"
            f", w{i} AS MATERIALIZED (SELECT replace(s,"
            f" ' ' || (SELECT s1 FROM b{i}) || '  ' ||"
            f" (SELECT s2 FROM b{i}) || ' ',"
            f" ' ' || (SELECT s1 FROM b{i}) ||"
            f" (SELECT s2 FROM b{i}) || ' ') AS s, freq FROM w{p})"
        )
    selects = [
        f"SELECT CAST({i} AS INT) AS step, s1 AS left_sym,"
        f" s2 AS right_sym, s1 || s2 AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count, score_q FROM b{i}"
        for i in range(1, k + 1)
    ]
    parts.append(" " + " UNION ALL ".join(selects))
    return "\n".join(parts)


SQL_WORDPIECE_LEARNING = _wordpiece_oracle_sql(WORDPIECE_MERGES)


GRID_SCALE = 48        # grid cell edge = 1/48 in embedding coordinates
GRID_DENSITY_FACTOR = 2  # core cell ⇔ cnt·n_occupied ≥ 2·N (2× mean)


def q_grid_density_clusters(spark, sf_dir):
    """Grid-based density clustering of the embedding cloud (the
    GriDBSCAN/STING family — DBSCAN's scalable relational cousin):
    quantize the first two embedding coordinates onto a 1/{s} grid,
    call a cell CORE when its density is ≥ {f}× the mean occupied-cell
    density (a scale-free integer cross-product, the rare_token_audit
    convention), and merge core cells that touch (Chebyshev distance
    ≤ 1) into clusters via connected components. Reports each density
    cluster's cell count and point mass — the structure view next to
    doc_topic_clusters' k-means assignment.

    Exactness: cells, densities, the core predicate, and adjacency are
    pure integers; cluster id = min encoded cell id in the component
    (recursive-CTE transitive closure in the oracle, a bounded
    union-find here — identical min-id labels); isolated core cells are
    their own single-cell clusters in both engines. Scale shape: one
    embedding scan → one (cx, cy) aggregate (bounded by the
    occupied-grid size, ≪ N); the component merge runs on the
    CORE-CELL domain only — constant-bounded by the grid, never
    corpus-sized.

    Component labels via ONE bounded driver pre-pass (r15): the r14
    shape ran min-label propagation over the core-cell adjacency —
    adjacent cells form LONG GRID CHAINS, so convergence took ~100
    driver-blocking rounds (O(diameter), ~50 Spark jobs of pure
    per-round overhead on a few-hundred-row table). The core-cell
    domain is the query's own declared scale contract (grid-bounded,
    corpus-size-FREE — the same class as the kmeans quantizer's
    n_lists×dim driver state), so the closure is solved exactly once:
    collect (cell_id, cx, cy), union-find with min-root labels, ship
    the (node, label) table back. Guarded loudly if the domain ever
    stops being grid-bounded."""
    emb = _emb(spark, sf_dir)
    cx = F.floor(F.element_at("embedding", 1).cast("double") * GRID_SCALE)
    cy = F.floor(F.element_at("embedding", 2).cast("double") * GRID_SCALE)
    cells = _track_cached(
        emb.select(cx.cast("bigint").alias("cx"), cy.cast("bigint").alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )
    tot = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("m"),
    )
    core = (
        cells.crossJoin(F.broadcast(tot))
        .where(
            F.col("cnt") * F.col("m")
            >= F.lit(GRID_DENSITY_FACTOR) * F.col("n")
        )
        .select(
            "cx", "cy", "cnt",
            ((F.col("cx") + 1000) * 100000 + F.col("cy") + 1000)
            .cast("bigint")
            .alias("cell_id"),
        )
    )
    core = _track_cached(core.persist())
    # bounded union-find on the grid domain (r15; replaces the r14
    # O(diameter)-round relational CC loop AND its O(core²) non-equi
    # adjacency self-join): adjacency probes the 8 neighbor coordinates
    # of each cell in a dict — O(9·core) integer lookups, one driver
    # pass, exact min-id component labels. The collect is bounded: at
    # most one row past the guard reaches the driver before it raises.
    core_rows = core.select("cell_id", "cx", "cy").limit((1 << 18) + 1).collect()
    if len(core_rows) > (1 << 18):
        raise RuntimeError(
            f"grid_density_clusters: more than {1 << 18} core cells break "
            f"the grid-bounded domain contract (GRID_SCALE={GRID_SCALE} "
            f"⇒ the occupied grid, not the corpus, bounds this set) — "
            f"the embedding coordinates are no longer range-bounded; "
            f"re-derive the bound before raising the guard"
        )
    by_pos = {(r["cx"], r["cy"]): r["cell_id"] for r in core_rows}
    parent = {cid: cid for cid in by_pos.values()}

    def _find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (gx, gy), cid in by_pos.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = by_pos.get((gx + dx, gy + dy))
                if nb is not None and nb != cid:
                    ra, rb = _find(cid), _find(nb)
                    if ra != rb:
                        # min root wins ⇒ every root IS its component's
                        # min id — the oracle's label convention
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra
    labels = spark.createDataFrame(
        [(cid, _find(cid)) for cid in sorted(parent)],
        "node bigint, label bigint",
    )
    j = core.join(F.broadcast(labels), core.cell_id == labels.node)
    return (
        j.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("cnt").cast("bigint").alias("n_points"),
        )
        .select(F.col("cluster_id").cast("bigint").alias("cluster_id"),
                "n_cells", "n_points")
    )


SQL_GRID_DENSITY_CLUSTERS = f"""
WITH RECURSIVE cells AS (
  SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {GRID_SCALE}) AS BIGINT)
           AS cx,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {GRID_SCALE}) AS BIGINT)
           AS cy,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM embeddings GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS m FROM cells),
core AS (
  SELECT cx, cy, cnt,
         CAST((cx + 1000) * 100000 + cy + 1000 AS BIGINT) AS cell_id
  FROM cells, tot
  WHERE cnt * m >= {GRID_DENSITY_FACTOR} * n
),
pairs AS (
  SELECT a.cell_id AS id_a, b.cell_id AS id_b
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND a.cell_id < b.cell_id
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
cclabels AS (SELECT node, MIN(label) AS label FROM walk GROUP BY node),
labels AS (
  SELECT node, label FROM cclabels
  UNION ALL
  SELECT cell_id AS node, cell_id AS label FROM core
  WHERE cell_id NOT IN (SELECT node FROM cclabels)
)
SELECT CAST(l.label AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.cnt) AS BIGINT) AS n_points
FROM core c JOIN labels l ON l.node = c.cell_id
GROUP BY l.label
"""


def _tokenizer_chain_sql(prefix: str, k: int, scored: bool) -> str:
    """Shared K-step merge-chain CTE builder for the tokenizer-compare
    oracle: ``scored=False`` replays BPE's frequency argmax,
    ``scored=True`` replays WordPiece's quantized likelihood argmax —
    same conventions as the standalone oracles, CTE names prefixed so
    both chains live in one WITH clause."""
    q = prefix
    parts = [
        f"{q}w0 AS (SELECT ' ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> substr(w, i, 1)), '  ') || ' '"
        " AS s, freq FROM wf)"
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f"{q}sy{i} AS MATERIALIZED (SELECT"
            f" string_split(trim(s, ' '), '  ') AS sy,"
            f" freq FROM {q}w{p} WHERE s IS NOT NULL)"
        )
        parts.append(
            f"{q}pr{i} AS MATERIALIZED (SELECT"
            f" string_split(g, chr(9))[1] AS s1,"
            f" string_split(g, chr(9))[2] AS s2, SUM(freq) AS cnt"
            f" FROM (SELECT unnest(list_transform(range(1, len(sy)),"
            f" j -> sy[j] || chr(9) || sy[j+1])) AS g, freq FROM {q}sy{i}"
            f" WHERE len(sy) >= 2) GROUP BY 1, 2)"
        )
        if scored:
            parts.append(
                f"{q}sc{i} AS MATERIALIZED (SELECT sym, SUM(freq) AS c FROM"
                f" (SELECT unnest(sy) AS sym, freq FROM {q}sy{i})"
                f" GROUP BY sym)"
            )
            parts.append(
                f"{q}b{i} AS MATERIALIZED (SELECT p.s1, p.s2,"
                f" CAST(CAST(p.cnt AS HUGEINT) * {WORDPIECE_SCALE}"
                f" // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS score_q"
                f" FROM {q}pr{i} p JOIN {q}sc{i} a ON a.sym = p.s1"
                f" JOIN {q}sc{i} b ON b.sym = p.s2"
                f" ORDER BY score_q DESC, p.s1, p.s2 LIMIT 1)"
            )
        else:
            parts.append(
                f"{q}b{i} AS MATERIALIZED (SELECT s1, s2, cnt FROM {q}pr{i}"
                f" ORDER BY cnt DESC, s1, s2 LIMIT 1)"
            )
        parts.append(
            f"{q}w{i} AS MATERIALIZED (SELECT replace(s,"
            f" COALESCE(' ' || (SELECT s1 FROM {q}b{i}) || '  ' ||"
            f" (SELECT s2 FROM {q}b{i}) || ' ', chr(1)),"
            f" COALESCE(' ' || (SELECT s1 FROM {q}b{i}) ||"
            f" (SELECT s2 FROM {q}b{i}) || ' ', '')) AS s,"
            f" freq FROM {q}w{p})"
        )
    return ", ".join(parts)


def q_tokenizer_compare_audit(spark, sf_dir):
    """Tokenizer-training bake-off: learn BPE (frequency merges) and
    WordPiece (likelihood merges) with their registered settings, APPLY
    each learned merge table to the corpus, and report the compression
    each actually buys — symbols after merging vs base characters and
    tokens-per-word — the number a tokenizer-budget decision reads
    (bpe_token_stats/tokenizer_fertility measure a FIXED tokenizer;
    this measures the two LEARNED ones side by side).

    Exactness: merge tables come from the two integer-exact learners;
    application is the same chained sentinel-wrapped replace; all
    outputs are integer sums and exact integer ratios rounded. Scale
    shape: each learner's documented loop (corpus scanned once per
    learner into the word-frequency table, K vocabulary-domain steps),
    then ONE extra vocabulary-domain aggregate per learner over the
    K-fold replace expression — no additional corpus scan. The merge
    tables are build-once artifacts (_learned_merge_rows), so the audit
    never re-pays the BPE + WordPiece training the learners ran."""
    rows = []
    for algo, merges, k in (
        ("bpe", _learned_merge_rows(spark, sf_dir, "bpe"), BPE_MERGES),
        (
            "wordpiece",
            _learned_merge_rows(spark, sf_dir, "wordpiece"),
            WORDPIECE_MERGES,
        ),
    ):
        docs = _docs(spark, sf_dir)
        wf = (
            docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
            .groupBy("w")
            .agg(F.count("*").cast("bigint").alias("freq"))
        )
        s = F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.substring(F.col("w"), i, 1),
                ),
                "  ",
            ),
            F.lit(" "),
        )
        for m in merges:
            s = F.replace(
                s,
                F.lit(_bpe_wrap(m["left_sym"]) + _bpe_wrap(m["right_sym"])),
                F.lit(_bpe_wrap(m["merged"])),
            )
        stats = wf.agg(
            F.sum("freq").cast("bigint").alias("total_words"),
            F.sum(F.col("freq") * F.length("w")).cast("bigint").alias(
                "base_symbols"
            ),
            F.sum(
                F.col("freq") * F.size(F.split(F.trim(s), "  "))
            ).cast("bigint").alias("symbols_after"),
        ).head()
        rows.append(
            (
                algo,
                len(merges),
                int(stats["total_words"]),
                int(stats["base_symbols"]),
                int(stats["symbols_after"]),
            )
        )
    out = spark.createDataFrame(
        rows,
        "algo STRING, n_merges BIGINT, total_words BIGINT, "
        "base_symbols BIGINT, symbols_after BIGINT",
    )
    return out.select(
        "algo", "n_merges", "total_words", "base_symbols", "symbols_after",
        _flr(F.col("symbols_after").cast("double")
            / F.col("base_symbols").cast("double"), 6).alias("compression_ratio"),
        _flr(F.col("symbols_after").cast("double")
            / F.col("total_words").cast("double"), 6).alias("tokens_per_word"),
    )


#: merges that actually happened per chain (an exhausted step's b{i}
#: is empty) — must match the Spark side's len(merges)
_BPE_STEP_COUNT_SQL = " + ".join(
    f"(SELECT COUNT(*) FROM bpb{i})" for i in range(1, BPE_MERGES + 1)
)
_WP_STEP_COUNT_SQL = " + ".join(
    f"(SELECT COUNT(*) FROM wpb{i})" for i in range(1, WORDPIECE_MERGES + 1)
)

SQL_TOKENIZER_COMPARE_AUDIT = f"""
WITH toks AS (SELECT {TOKENS_SQL} AS t FROM documents),
wf AS (SELECT w, COUNT(*) AS freq FROM
 (SELECT unnest(t) AS w FROM toks) GROUP BY w),
{_tokenizer_chain_sql('bp', BPE_MERGES, scored=False)},
{_tokenizer_chain_sql('wp', WORDPIECE_MERGES, scored=True)},
stats AS (
  SELECT 'bpe' AS algo,
         CAST({_BPE_STEP_COUNT_SQL} AS BIGINT) AS n_merges,
         CAST(SUM(freq) AS BIGINT) AS total_words,
         CAST(SUM(freq * len(string_split(trim(s, ' '), '  ')))
              AS BIGINT) AS symbols_after
  FROM bpw{BPE_MERGES}
  UNION ALL
  SELECT 'wordpiece', CAST({_WP_STEP_COUNT_SQL} AS BIGINT),
         CAST(SUM(freq) AS BIGINT),
         CAST(SUM(freq * len(string_split(trim(s, ' '), '  '))) AS BIGINT)
  FROM wpw{WORDPIECE_MERGES}
),
base AS (
  SELECT CAST(SUM(freq * length(w)) AS BIGINT) AS base_symbols FROM wf
)
SELECT algo, n_merges, total_words, base_symbols, symbols_after,
       FLOOR(CAST((CAST(symbols_after AS DOUBLE) / CAST(base_symbols AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS compression_ratio,
       FLOOR(CAST((CAST(symbols_after AS DOUBLE) / CAST(total_words AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS tokens_per_word
FROM stats, base
"""


DELTA_TOP_WORDS = 15  # Burrows' classic "most frequent words" basis
DELTA_TOPK = 15       # most-similar source pairs reported


def q_burrows_delta_stylometry(spark, sf_dir):
    """Burrows' Delta stylometry (Burrows 2002) between sources — the
    authorship/style-drift audit of a multi-source corpus: z-score each
    source's relative frequency of the corpus's top-{w} words against
    the across-source mean/std, then Delta(A,B) = mean_w |z_A − z_B|;
    near-zero Delta between two "different" sources flags duplicated
    provenance or a shared generator. Reports the {k} most similar
    pairs.

    Exactness without a lattice: every arithmetic step is IEEE-exact
    and order-free — relative frequencies are exact-integer-ratio
    doubles; across-source moments and the per-pair |Δz| sums are
    DECIMAL(38,18) sums of identical doubles (order-independent); σ is
    IEEE sqrt (correctly rounded, bit-identical across engines).
    Scale shape: one corpus scan → (source, word) counts persisted;
    the top-word basis, the zero-filled |S|×{w} frequency frame, the
    per-word moments, and the pair join all live on the
    sources×top-words domain — constant-bounded at any corpus size."""
    docs = _docs(spark, sf_dir)
    sw = _track_cached(
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )
    top = (
        sw.groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(DELTA_TOP_WORDS)
        .select("w")
    )
    ns = sw.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n_s"))
    grid = ns.crossJoin(F.broadcast(top))
    freq = grid.join(sw, ["source", "w"], "left").select(
        "source",
        "w",
        (
            F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
            / F.col("n_s").cast("double")
        ).alias("f"),
    )
    freq = _track_cached(freq.persist())
    dec = lambda e: F.sum(e.cast("decimal(38,18)")).cast("double")
    stats = freq.groupBy("w").agg(
        F.count("*").cast("double").alias("k"),
        dec(F.col("f")).alias("sf"),
        dec(F.col("f") * F.col("f")).alias("sff"),
    )
    mu = F.col("sf") / F.col("k")
    # clamp: decimal-summed sff/k and mu² can cancel to a tiny negative
    # (DuckDB's sqrt RAISES on negatives while Spark returns NaN);
    # zero-variance words carry no style signal and would divide by 0,
    # so they leave the basis in BOTH engines identically
    var = F.greatest(F.col("sff") / F.col("k") - mu * mu, F.lit(0.0))
    stats = stats.withColumn("var", var).where(F.col("var") > 0.0)
    sigma = F.sqrt(F.col("var"))
    z = freq.join(F.broadcast(stats), "w").select(
        "source", "w", ((F.col("f") - mu) / sigma).alias("z")
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.w") == F.col("b.w"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.abs(F.col("a.z") - F.col("b.z")).alias("dz"),
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            _flr(F.sum(F.col("dz").cast("decimal(38,18)")).cast("double")
                / F.count("*").cast("double"), 6).alias("delta")
        )
        .orderBy(F.asc("delta"), "src_a", "src_b")
        .limit(DELTA_TOPK)
    )


SQL_BURROWS_DELTA_STYLOMETRY = f"""
WITH sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY 1, 2
),
top AS (
  SELECT w FROM (SELECT w, SUM(cnt) AS c FROM sw GROUP BY w)
  ORDER BY c DESC, w LIMIT {DELTA_TOP_WORDS}
),
ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s FROM sw
       GROUP BY source),
freq AS (
  SELECT ns.source, top.w,
         CAST(COALESCE(sw.cnt, 0) AS DOUBLE) / CAST(ns.n_s AS DOUBLE) AS f
  FROM ns CROSS JOIN top
  LEFT JOIN sw ON sw.source = ns.source AND sw.w = top.w
),
stats AS (
  SELECT w, k, sf, sff,
         GREATEST(sff / k - (sf / k) * (sf / k), 0.0) AS var
  FROM (
    SELECT w, CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(f AS DECIMAL(38,18))) AS DOUBLE) AS sf,
           CAST(SUM(CAST(f * f AS DECIMAL(38,18))) AS DOUBLE) AS sff
    FROM freq GROUP BY w
  ) WHERE GREATEST(sff / k - (sf / k) * (sf / k), 0.0) > 0.0
),
z AS (
  SELECT source, w, (f - sf / k) / sqrt(var) AS z
  FROM freq JOIN stats USING (w)
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, ABS(a.z - b.z) AS dz
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
)
SELECT src_a, src_b,
       FLOOR(CAST((CAST(SUM(CAST(dz AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS delta
FROM pairs GROUP BY src_a, src_b
ORDER BY delta ASC, src_a, src_b LIMIT {DELTA_TOPK}
"""


G2_TOPK = 20


def q_dunning_g2_keyness(spark, sf_dir):
    """Dunning log-likelihood keyness (Dunning 1993 — the corpus-
    linguistics standard for "which words characterize this source"):
    per (source, word), the G² statistic of the 2×2 contingency (word
    in source vs word in rest), signed by direction (over- vs
    under-represented), top-{k} by G². The distribution-free companion
    of chi_square_lang_source for SMALL expected counts — exactly the
    regime a multi-source corpus audit lives in.

    Exactness: all four O·ln(O/E) terms have exact-integer-ratio
    arguments floor-quantized onto the NLL_LATTICE and integer-count
    weights summed in DECIMAL; zero cells contribute 0 by definition
    (guarded CASE, not a NaN); the direction test is an integer
    cross-product. Scale shape: one token explode → one persisted
    (source, word) aggregate; the G² arithmetic runs on the
    sources×vocabulary domain; top-k via TakeOrdered."""
    docs = _docs(spark, sf_dir)
    sw = _track_cached(
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("a"))
        .persist()
    )
    gw = sw.groupBy("w").agg(F.sum("a").cast("bigint").alias("g"))
    ns = sw.groupBy("source").agg(F.sum("a").cast("bigint").alias("n_s"))
    tot = ns.agg(F.sum("n_s").cast("bigint").alias("n"))
    j = (
        sw.join(gw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
    )
    lat = F.lit(float(NLL_LATTICE))
    dbl = lambda e: e.cast("double")

    def term(obs, row_tot, col_tot):
        # obs·ln(obs·N / (row_tot·col_tot)), lattice-quantized; 0 if obs=0
        arg = dbl(obs) * dbl(F.col("n")) / (dbl(row_tot) * dbl(col_tot))
        l = F.floor(F.log(arg) * lat).cast("bigint")
        return F.when(
            obs > 0, obs.cast("decimal(38,0)") * l
        ).otherwise(F.lit(0).cast("decimal(38,0)"))

    o11 = F.col("a")
    o12 = F.col("n_s") - F.col("a")
    o21 = F.col("g") - F.col("a")
    o22 = F.col("n") - F.col("n_s") - F.col("g") + F.col("a")
    g2_lat = (
        term(o11, F.col("n_s"), F.col("g"))
        + term(o12, F.col("n_s"), F.col("n") - F.col("g"))
        + term(o21, F.col("n") - F.col("n_s"), F.col("g"))
        + term(o22, F.col("n") - F.col("n_s"), F.col("n") - F.col("g"))
    ).cast("decimal(38,0)")
    over = (
        F.col("a").cast("decimal(38,0)") * F.col("n")
        > F.col("g").cast("decimal(38,0)") * F.col("n_s")
    )
    scored = j.select(
        "source",
        "w",
        _flr(2.0 * g2_lat.cast("double") / lat, 6).alias("g2"),
        F.when(over, "over").otherwise("under").alias("direction"),
    )
    return scored.orderBy(F.desc("g2"), "source", "w").limit(G2_TOPK)


SQL_DUNNING_G2_KEYNESS = f"""
WITH sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY 1, 2
),
gw AS (SELECT w, CAST(SUM(a) AS BIGINT) AS g FROM sw GROUP BY w),
ns AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s FROM sw GROUP BY source),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM ns),
j AS (
  SELECT source, w, a, g, n_s, n,
         n_s - a AS o12, g - a AS o21, n - n_s - g + a AS o22
  FROM sw JOIN gw USING (w) JOIN ns USING (source), tot
),
terms AS (
  SELECT source, w, a, g, n_s, n,
    (CASE WHEN a > 0 THEN CAST(a AS HUGEINT)
      * CAST(FLOOR(LN(CAST(a AS DOUBLE) * n / (CAST(n_s AS DOUBLE) * g))
             * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END)
    + (CASE WHEN o12 > 0 THEN CAST(o12 AS HUGEINT)
      * CAST(FLOOR(LN(CAST(o12 AS DOUBLE) * n
                      / (CAST(n_s AS DOUBLE) * (n - g)))
             * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END)
    + (CASE WHEN o21 > 0 THEN CAST(o21 AS HUGEINT)
      * CAST(FLOOR(LN(CAST(o21 AS DOUBLE) * n
                      / (CAST(n - n_s AS DOUBLE) * g))
             * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END)
    + (CASE WHEN o22 > 0 THEN CAST(o22 AS HUGEINT)
      * CAST(FLOOR(LN(CAST(o22 AS DOUBLE) * n
                      / (CAST(n - n_s AS DOUBLE) * (n - g)))
             * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END) AS g2_lat
  FROM j
)
SELECT source, w,
       FLOOR(CAST((2.0 * CAST(g2_lat AS DOUBLE) / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS g2,
       CASE WHEN CAST(a AS HUGEINT) * n > CAST(g AS HUGEINT) * n_s
            THEN 'over' ELSE 'under' END AS direction
FROM terms
ORDER BY g2 DESC, source, w LIMIT {G2_TOPK}
"""


JSD_TOPK = 15


def q_jsd_source_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the SYMMETRIC, bounded companion of
    unigram_kl_divergence and the distributional cross-check of
    burrows_delta_stylometry: JS(p,q) = ½Σp·ln(p/m) + ½Σq·ln(q/m)
    with m the midpoint; near-zero JS between two sources flags
    duplicated provenance. Reports the {k} most similar pairs.

    Exactness: each ln argument is the exact integer ratio
    2·a·n_b/(a·n_b + b·n_a) (products cast to double inside the ln —
    identical expression both engines), floor-quantized onto the
    NLL_LATTICE, weighted by integer counts into DECIMAL sums; the
    final value is a ratio of exact integers. Missing words contribute
    their full ln 2 weight via the same quantized constant. Scale
    shape: one persisted (source, word) aggregate; the pair join runs
    on the sources²×vocabulary domain (bounded by |S|²·V, never
    corpus-sized)."""
    docs = _docs(spark, sf_dir)
    sw = _track_cached(
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    ns = sw.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    swn = sw.join(F.broadcast(ns), "source")
    a, b = swn.alias("a"), swn.alias("b")
    # full outer on the word within each source pair: build via the
    # pair-of-sources grid joined to each side, then merge
    pairs = (
        ns.alias("x")
        .join(ns.alias("y"), F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("sa"), F.col("x.n").alias("na"),
            F.col("y.source").alias("sb"), F.col("y.n").alias("nb"),
        )
    )
    ja = pairs.join(
        a, (F.col("sa") == F.col("a.source")), "inner"
    ).select(
        "sa", "sb", "na", "nb", F.col("a.w").alias("w"),
        F.col("a.c").alias("ca"),
    )
    jb = pairs.join(
        b, (F.col("sb") == F.col("b.source")), "inner"
    ).select(
        "sa", "sb", "na", "nb", F.col("b.w").alias("w"),
        F.col("b.c").alias("cb"),
    )
    grid = ja.join(
        jb, ["sa", "sb", "na", "nb", "w"], "full_outer"
    ).select(
        "sa", "sb", "na", "nb",
        F.coalesce(F.col("ca"), F.lit(0)).cast("bigint").alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).cast("bigint").alias("cb"),
    )
    lat = F.lit(float(NLL_LATTICE))
    dbl = lambda e: e.cast("double")
    arg_a = (
        F.lit(2.0) * dbl(F.col("ca")) * dbl(F.col("nb"))
        / (dbl(F.col("ca")) * dbl(F.col("nb")) + dbl(F.col("cb")) * dbl(F.col("na")))
    )
    arg_b = (
        F.lit(2.0) * dbl(F.col("cb")) * dbl(F.col("na"))
        / (dbl(F.col("ca")) * dbl(F.col("nb")) + dbl(F.col("cb")) * dbl(F.col("na")))
    )
    la = F.when(
        F.col("ca") > 0,
        F.col("ca").cast("decimal(38,0)")
        * F.floor(F.log(arg_a) * lat).cast("bigint"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    lb = F.when(
        F.col("cb") > 0,
        F.col("cb").cast("decimal(38,0)")
        * F.floor(F.log(arg_b) * lat).cast("bigint"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    agg = grid.groupBy("sa", "sb", "na", "nb").agg(
        F.sum(la).cast("decimal(38,0)").alias("sla"),
        F.sum(lb).cast("decimal(38,0)").alias("slb"),
    )
    jsd = (
        F.col("sla").cast("double") / (F.col("na").cast("double") * lat)
        + F.col("slb").cast("double") / (F.col("nb").cast("double") * lat)
    ) / 2.0
    return (
        agg.select(
            F.col("sa").alias("src_a"), F.col("sb").alias("src_b"),
            _flr(jsd, 6).alias("jsd"),
        )
        .orderBy(F.asc("jsd"), "src_a", "src_b")
        .limit(JSD_TOPK)
    )


SQL_JSD_SOURCE_DIVERGENCE = f"""
WITH sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({TOKENS_SQL}) AS w FROM documents)
  GROUP BY 1, 2
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sw GROUP BY source),
pairs AS (
  SELECT x.source AS sa, x.n AS na, y.source AS sb, y.n AS nb
  FROM ns x JOIN ns y ON x.source < y.source
),
ja AS (
  SELECT p.sa, p.sb, p.na, p.nb, s.w, s.c AS ca
  FROM pairs p JOIN sw s ON s.source = p.sa
),
jb AS (
  SELECT p.sa, p.sb, p.na, p.nb, s.w, s.c AS cb
  FROM pairs p JOIN sw s ON s.source = p.sb
),
grid AS (
  SELECT COALESCE(ja.sa, jb.sa) AS sa, COALESCE(ja.sb, jb.sb) AS sb,
         COALESCE(ja.na, jb.na) AS na, COALESCE(ja.nb, jb.nb) AS nb,
         COALESCE(ja.ca, 0) AS ca, COALESCE(jb.cb, 0) AS cb
  FROM ja FULL OUTER JOIN jb
    ON ja.sa = jb.sa AND ja.sb = jb.sb AND ja.w = jb.w
),
agg AS (
  SELECT sa, sb, na, nb,
         SUM(CASE WHEN ca > 0 THEN CAST(ca AS HUGEINT)
             * CAST(FLOOR(LN(2.0 * ca * CAST(nb AS DOUBLE)
                 / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
               * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END) AS sla,
         SUM(CASE WHEN cb > 0 THEN CAST(cb AS HUGEINT)
             * CAST(FLOOR(LN(2.0 * cb * CAST(na AS DOUBLE)
                 / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
               * {float(NLL_LATTICE)!r}) AS BIGINT) ELSE 0 END) AS slb
  FROM grid GROUP BY 1, 2, 3, 4
)
SELECT sa AS src_a, sb AS src_b,
       FLOOR(CAST(((CAST(sla AS DOUBLE) / (CAST(na AS DOUBLE)
                                     * {float(NLL_LATTICE)!r})
              + CAST(slb AS DOUBLE) / (CAST(nb AS DOUBLE)
                                       * {float(NLL_LATTICE)!r})) / 2.0) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS jsd
FROM agg
ORDER BY jsd ASC, src_a, src_b LIMIT {JSD_TOPK}
"""


#: RBO persistence p = 9/10, kept rational so every depth weight
#: (1−p)·p^{d−1} = 9^{d−1}/10^d is an exact integer ratio.
RBO_P_NUM, RBO_P_DEN = 9, 10


def q_rbo_rank_agreement(spark, sf_dir):
    """Rank-Biased Overlap (Webber et al. 2010) between the engine's
    two retrieval rankings — bm25_search (probabilistic-relevance,
    conjunctive) and qlm_dirichlet_search (language-model,
    disjunctive) on the same query terms: RBO@k = Σ_d X_d·9^{d−1}/
    (10^d·d) with X_d the prefix-overlap at depth d. The
    retrieval-consistency audit a search migration reads before
    swapping ranking functions.

    Exactness: ranks and prefix overlaps are integers; each depth's
    weight is an exact integer ratio (9^{d−1} and 10^d·d are BIGINT
    literals baked per depth), each term one identical double,
    decimal-cast summed (order-free). Scale shape: both rankings are
    top-k frames (driver-small); everything after them is
    constant-size arithmetic on ≤k² rows."""
    k = min(BM25_TOPK, QLM_TOPK)
    bm = q_bm25_search(spark, sf_dir)
    ql = q_qlm_dirichlet_search(spark, sf_dir)
    # rank re-derived from the VALUES (score desc, doc_id) — never from
    # physical row order, which a re-computed plan need not preserve
    ra = bm.withColumn(
        "ra",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    ).where(F.col("ra") <= k).select("doc_id", "ra")
    rb = ql.withColumn(
        "rb",
        F.row_number().over(
            Window.orderBy(F.desc("qlm_score"), F.asc("doc_id"))
        ),
    ).where(F.col("rb") <= k).select("doc_id", "rb")
    joint = ra.join(rb, "doc_id").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("m")
    )
    depths = joint.select(
        F.explode(F.sequence(F.col("m"), F.lit(k))).alias("d")
    ).groupBy("d").agg(F.count("*").cast("bigint").alias("x"))
    weights = spark.createDataFrame(
        [
            (d, RBO_P_NUM ** (d - 1), (RBO_P_DEN ** d) * d)
            for d in range(1, k + 1)
        ],
        "d INT, wn BIGINT, wd BIGINT",
    )
    terms = depths.join(F.broadcast(weights), "d").select(
        (
            (F.col("x") * F.col("wn")).cast("double")
            / F.col("wd").cast("double")
        ).cast("decimal(38,18)").alias("t"),
        "x", "d",
    )
    return terms.agg(
        F.lit(k).cast("bigint").alias("depth"),
        F.max(F.when(F.col("d") == k, F.col("x"))).cast("bigint").alias(
            "overlap_at_k"
        ),
        _flr(F.sum("t").cast("double"), 6).alias("rbo"),
    )


def _rbo_sql() -> str:
    k = min(BM25_TOPK, QLM_TOPK)
    weights = ", ".join(
        f"({d}, {RBO_P_NUM ** (d - 1)}, {(RBO_P_DEN ** d) * d})"
        for d in range(1, k + 1)
    )
    return f"""
WITH bm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
  FROM ({SQL_BM25_SEARCH}) t
),
ql AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY qlm_score DESC, doc_id) AS rb
  FROM ({SQL_QLM_DIRICHLET_SEARCH}) t
),
joint AS (
  SELECT GREATEST(ra, rb) AS m FROM bm JOIN ql USING (doc_id)
),
depths AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS x
  FROM joint, unnest(range(m, {k} + 1)) AS u(d)
  GROUP BY d
),
weights(d, wn, wd) AS (VALUES {weights}),
terms AS (
  SELECT CAST(CAST(x * wn AS DOUBLE) / CAST(wd AS DOUBLE)
              AS DECIMAL(38,18)) AS t, x, d
  FROM depths JOIN weights USING (d)
)
SELECT CAST({k} AS BIGINT) AS depth,
       CAST(MAX(CASE WHEN d = {k} THEN x END) AS BIGINT) AS overlap_at_k,
       FLOOR(CAST((CAST(SUM(t) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rbo
FROM terms
"""


SQL_RBO_RANK_AGREEMENT = _rbo_sql()


AA_TOPK = 20


def q_adamic_adar_linkpred(spark, sf_dir):
    """Adamic-Adar link prediction on the co-purchase graph (Adamic &
    Adar 2003 — the classic common-neighbor score, rare shared
    neighbors weighted higher): for every NON-adjacent user pair with
    ≥1 common neighbor, AA(a,b) = Σ_{z∈Γ(a)∩Γ(b)} 1/ln(deg z); top-{k}
    predicted links. Completes the graph family's missing category
    (components, PageRank, triangles, BFS, communities → link
    prediction).

    Exactness: each common neighbor contributes the ONE lattice value
    floor(1e9/ln(deg_z)) — deg_z ≥ 2 by construction (z sees both
    endpoints), so ln > 0; sums are BIGINT; the argmax order is
    (aa DESC, id_a, id_b). Scale shape: the wedge plan —
    bidirectional edge list joined to itself through the center z
    (fan-out bounded by degree), minus existing edges via one
    left-anti join; degree is one aggregate; everything shuffles on
    node keys, never a users² product."""
    from ..operators.graph import bidirectional

    edges = _copurchase_edges(spark, sf_dir)
    e = edges.select("id_a", "id_b").localCheckpoint(eager=False)  # bidirectional's own eager checkpoint materializes it
    bidir = bidirectional(e).toDF("src", "dst")
    deg = bidir.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    lat = F.lit(float(NLL_LATTICE))
    # only deg ≥ 2 nodes can be a common neighbor (z sees both a and
    # b), and the filter also keeps ln(deg) > 0 under ANSI division
    w = deg.where(F.col("deg") >= 2).select(
        F.col("src").alias("z"),
        F.floor(lat / F.log(F.col("deg").cast("double")))
        .cast("bigint")
        .alias("wz"),
    )
    za = bidir.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    zb = bidir.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedges = za.join(zb, "z").where(F.col("a") < F.col("b"))
    scored = (
        wedges.join(F.broadcast(w), "z")
        .groupBy("a", "b")
        .agg(
            F.sum("wz").cast("bigint").alias("aa_lat"),
            F.count("*").cast("bigint").alias("common_neighbors"),
        )
    )
    non_edges = scored.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("a").cast("bigint").alias("id_a"),
            F.col("b").cast("bigint").alias("id_b"),
            "common_neighbors",
            _flr(F.col("aa_lat").cast("double") / lat, 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "id_a", "id_b")
        .limit(AA_TOPK)
    )


SQL_ADAMIC_ADAR_LINKPRED = f"""
WITH {_COPURCHASE_EDGES_CTE},
bidir AS (
  SELECT id_a AS src, id_b AS dst FROM e
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM e
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY src),
w AS (
  SELECT src AS z,
         CAST(FLOOR({float(NLL_LATTICE)!r} / LN(CAST(deg AS DOUBLE)))
              AS BIGINT) AS wz
  FROM deg WHERE deg >= 2
),
wedges AS (
  SELECT za.dst AS a, zb.dst AS b, za.src AS z
  FROM bidir za JOIN bidir zb ON za.src = zb.src AND za.dst < zb.dst
),
scored AS (
  SELECT a, b, CAST(SUM(wz) AS BIGINT) AS aa_lat,
         CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM wedges JOIN w USING (z)
  GROUP BY a, b
),
non_edges AS (
  SELECT s.* FROM scored s
  LEFT JOIN e ON e.id_a = s.a AND e.id_b = s.b
  WHERE e.id_a IS NULL
)
SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b,
       common_neighbors,
       FLOOR(CAST((CAST(aa_lat AS DOUBLE) / {float(NLL_LATTICE)!r}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS aa_score
FROM non_edges
ORDER BY aa_score DESC, id_a, id_b LIMIT {AA_TOPK}
"""


def q_degree_distribution_audit(spark, sf_dir):
    """Degree-distribution audit of the co-purchase graph: the degree
    histogram's log-log CCDF slope (heavy-tail exponent — the graph
    twin of zipf_slope; a slope near 0 or a truncated tail flags a
    synthetic or clipped interaction graph) plus the summary moments a
    capacity plan reads (max degree, mean degree, P(deg=1)).

    Exactness: degrees and histogram counts are integers; the OLS
    points are floor-quantized lattice logs per DISTINCT degree
    (degree-domain knife edges, the heaps_law_fit convention); moments
    are exact integer ratios. Scale shape: one edge scan → one degree
    aggregate → one histogram aggregate; the OLS runs on the distinct-
    degree domain."""
    from ..operators.graph import bidirectional

    edges = _copurchase_edges(spark, sf_dir)
    bidir = bidirectional(edges).toDF("src", "dst")
    deg = bidir.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    hist = _track_cached(
        deg.groupBy("d").agg(F.count("*").cast("bigint").alias("cnt")).persist()
    )
    tot = hist.agg(
        F.sum("cnt").cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * F.col("cnt")).cast("bigint").alias("sum_deg"),
        F.max("d").cast("bigint").alias("max_deg"),
        F.sum(F.when(F.col("d") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_deg1"),
    )
    # CCDF: nodes with degree ≥ d, via the two-phase prefix sum over
    # the DISTINCT-degree domain (descending)
    from ..operators.scaling import stable_prefix_sum

    pre = stable_prefix_sum(
        hist.withColumn("negd", -F.col("d")),
        order_cols=["negd"], value_col="cnt", group_cols=[],
        out_col="above",
    ).select("d", (F.col("above") + F.col("cnt")).alias("ccdf_cnt"))
    lat = F.lit(float(NLL_LATTICE))
    x = F.floor(F.log(F.col("d").cast("double")) * lat).cast("bigint").cast(
        "double"
    ) / lat
    y = F.floor(F.log(F.col("ccdf_cnt").cast("double")) * lat).cast(
        "bigint"
    ).cast("double") / lat
    pts = pre.where(F.col("d") >= 1).select(x.alias("x"), y.alias("y"))
    dec = lambda col: F.sum(col.cast("decimal(38,18)")).cast("double")
    ols = pts.agg(
        F.count("*").cast("double").alias("k"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.crossJoin(F.broadcast(tot)).select(
        "n_nodes",
        "max_deg",
        _flr(F.col("sum_deg").cast("double") / F.col("n_nodes").cast("double"), 6).alias("mean_deg"),
        _flr(F.col("n_deg1").cast("double") / F.col("n_nodes").cast("double"), 6).alias("deg1_share"),
        _flr(slope, 6).alias("ccdf_slope"),
    )


SQL_DEGREE_DISTRIBUTION_AUDIT = f"""
WITH {_COPURCHASE_EDGES_CTE},
bidir AS (
  SELECT id_a AS src, id_b AS dst FROM e
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM e
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM bidir GROUP BY src),
hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY d),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_nodes,
         CAST(SUM(d * cnt) AS BIGINT) AS sum_deg,
         CAST(MAX(d) AS BIGINT) AS max_deg,
         CAST(SUM(CASE WHEN d = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_deg1
  FROM hist
),
pre AS (
  SELECT d, SUM(cnt) OVER (ORDER BY d DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccdf_cnt
  FROM hist
),
pts AS (
  SELECT CAST(FLOOR(LN(CAST(d AS DOUBLE)) * {float(NLL_LATTICE)!r})
              AS BIGINT) / {float(NLL_LATTICE)!r} AS x,
         CAST(FLOOR(LN(CAST(ccdf_cnt AS DOUBLE)) * {float(NLL_LATTICE)!r})
              AS BIGINT) / {float(NLL_LATTICE)!r} AS y
  FROM pre WHERE d >= 1
),
ols AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
         CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT n_nodes, max_deg,
       FLOOR(CAST((CAST(sum_deg AS DOUBLE) / CAST(n_nodes AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS mean_deg,
       FLOOR(CAST((CAST(n_deg1 AS DOUBLE) / CAST(n_nodes AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS deg1_share,
       FLOOR(CAST(((k * sxy - sx * sy) / (k * sxx - sx * sx)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ccdf_slope
FROM ols, tot
"""


RRF_K = 60        # the standard reciprocal-rank-fusion constant
RRF_TOPK = 10


def q_rrf_fusion_topk(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al. 2009 — the standard
    hybrid-search combiner) of the engine's two retrieval rankings:
    RRF(d) = Σ_systems 1/(K + rank_d), summed over bm25_search and
    qlm_dirichlet_search; a doc absent from one ranking just
    contributes that system's 0. The ACTIONABLE companion of
    rbo_rank_agreement: RBO measures how much the rankings agree, RRF
    is what you ship when they usefully disagree.

    Exactness: ranks are integers re-derived from (score DESC, doc_id);
    each reciprocal is one IEEE division of integer-valued doubles
    (deterministic, identical expression both engines) and the 2-term
    sum has a fixed evaluation order — no lattice needed. Scale shape:
    both rankings are top-k frames; fusion is a full-outer join and a
    TakeOrdered on ≤2k rows."""
    k = min(BM25_TOPK, QLM_TOPK)
    bm = q_bm25_search(spark, sf_dir)
    ql = q_qlm_dirichlet_search(spark, sf_dir)
    ra = bm.withColumn(
        "ra",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    ).where(F.col("ra") <= k).select("doc_id", "ra")
    rb = ql.withColumn(
        "rb",
        F.row_number().over(
            Window.orderBy(F.desc("qlm_score"), F.asc("doc_id"))
        ),
    ).where(F.col("rb") <= k).select("doc_id", "rb")
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.col("ra").cast("bigint").alias("bm25_rank"),
        F.col("rb").cast("bigint").alias("qlm_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("ra")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rb")), F.lit(0.0)
            )
        ).alias("s"),
    )
    return (
        fused.select(
            "doc_id", "bm25_rank", "qlm_rank",
            _flr("s", 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(RRF_TOPK)
    )


SQL_RRF_FUSION_TOPK = f"""
WITH bm AS (
  SELECT doc_id, ra FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
    FROM ({SQL_BM25_SEARCH}) t
  ) WHERE ra <= {min(BM25_TOPK, QLM_TOPK)}
),
ql AS (
  SELECT doc_id, rb FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY qlm_score DESC, doc_id) AS rb
    FROM ({SQL_QLM_DIRICHLET_SEARCH}) t
  ) WHERE rb <= {min(BM25_TOPK, QLM_TOPK)}
),
fused AS (
  SELECT COALESCE(bm.doc_id, ql.doc_id) AS doc_id,
         CAST(bm.ra AS BIGINT) AS bm25_rank,
         CAST(ql.rb AS BIGINT) AS qlm_rank,
         COALESCE(1.0 / ({RRF_K}.0 + bm.ra), 0.0)
           + COALESCE(1.0 / ({RRF_K}.0 + ql.rb), 0.0) AS s
  FROM bm FULL OUTER JOIN ql ON bm.doc_id = ql.doc_id
)
SELECT doc_id, bm25_rank, qlm_rank, FLOOR(CAST((s) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOPK}
"""


RULES_MIN_PAIR = 3  # min co-purchase count for a rule to be considered
RULES_TOPK = 20


def q_association_rules_lift(spark, sf_dir):
    """Market-basket association rules (Agrawal & Srikant's
    support/confidence plus lift) over per-order item sets — the
    DIRECTED-rule layer above item_cooccurrence_topk's symmetric
    cosine: for item pairs co-purchased ≥ {m} times, both directed
    rules i→j with support = c_ij/N, confidence = c_ij/c_i, and
    lift = c_ij·N/(c_i·c_j); top-{k} by (lift, confidence) — lift > 1
    is the actionable "bought together beyond chance" signal.

    Exactness: all three measures are exact integer ratios rounded,
    and the ordering tie-breaks on the integer ids. Scale shape: the
    basket self-join is keyed on the ORDER (quadratic only in basket
    size, with the same fail-fast mega-basket contract as the cosine
    query); item counts join back as plain shuffle joins; N rides a
    broadcast 1-row frame; output is a TakeOrdered top-k."""
    li = _t(spark, sf_dir, "lineitem")
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
            f"association_rules_lift: basket(s) exceed COOC_MAX_BASKET="
            f"{COOC_MAX_BASKET} ({worst})"
        )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("lhs"), F.col("b.item").alias("rhs")
        )
        .agg(F.count("*").cast("bigint").alias("c_ij"))
        .where(F.col("c_ij") >= RULES_MIN_PAIR)
    )
    cnt = items.groupBy("item").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n_orders = items.agg(
        F.countDistinct("ok").cast("bigint").alias("n")
    )
    j = (
        pairs.join(cnt.select(F.col("item").alias("lhs"), F.col("c").alias("c_lhs")), "lhs")
        .join(cnt.select(F.col("item").alias("rhs"), F.col("c").alias("c_rhs")), "rhs")
        .crossJoin(F.broadcast(n_orders))
    )
    dbl = lambda e: e.cast("double")
    return (
        j.select(
            F.col("lhs").cast("bigint").alias("lhs"),
            F.col("rhs").cast("bigint").alias("rhs"),
            "c_ij",
            _flr(dbl(F.col("c_ij")) / dbl(F.col("n")), 6).alias("support"),
            _flr(dbl(F.col("c_ij")) / dbl(F.col("c_lhs")), 6).alias("confidence"),
            _flr(dbl(F.col("c_ij")) * dbl(F.col("n"))
                / (dbl(F.col("c_lhs")) * dbl(F.col("c_rhs"))), 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("confidence"), "lhs", "rhs")
        .limit(RULES_TOPK)
    )


SQL_ASSOCIATION_RULES_LIFT = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
),
pairs AS (
  SELECT a.item AS lhs, b.item AS rhs, CAST(COUNT(*) AS BIGINT) AS c_ij
  FROM items a JOIN items b ON a.ok = b.ok AND a.item <> b.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= {RULES_MIN_PAIR}
),
cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM items
        GROUP BY item),
n_orders AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM items)
SELECT CAST(lhs AS BIGINT) AS lhs, CAST(rhs AS BIGINT) AS rhs, c_ij,
       FLOOR(CAST((CAST(c_ij AS DOUBLE) / CAST(n AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS support,
       FLOOR(CAST((CAST(c_ij AS DOUBLE) / CAST(cl.c AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS confidence,
       FLOOR(CAST((CAST(c_ij AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(cl.c AS DOUBLE) * CAST(cr.c AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift
FROM pairs
JOIN cnt cl ON cl.item = pairs.lhs
JOIN cnt cr ON cr.item = pairs.rhs
CROSS JOIN n_orders
ORDER BY lift DESC, confidence DESC, lhs, rhs LIMIT {RULES_TOPK}
"""


SEASONAL_MA = 7  # centered weekly moving average (classical decomposition)


def q_seasonal_decomposition_audit(spark, sf_dir):
    """Classical additive seasonal decomposition of daily revenue —
    the DECOMPOSITION companion of dow_seasonality's detection and
    mase_seasonal_naive's evaluation: trend = centered {m}-day moving
    average, seasonal = mean detrended value per day-of-week, and the
    Hyndman seasonal-strength statistic
    1 − Var(remainder)/Var(detrended) — the one number that says
    whether a weekly pattern is real structure or noise.

    Exactness: daily revenue is integer cents; the trend is an exact
    integer ratio (window sum / {m}); day-of-week comes from epoch-day
    modulo (identical integer arithmetic — the engines' native
    dayofweek conventions differ); the detrended doubles are identical
    expressions accumulated with DECIMAL(38,18) order-free sums, and
    strength is a ratio of those moments. Scale shape: one orders scan
    → a daily aggregate (the DAY domain, thousands of rows at any SF);
    the moving-average window, the DOW rollup, and the strength
    moments all live on that domain."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice").cast("double") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    half = SEASONAL_MA // 2
    wma = Window.orderBy("day").rowsBetween(-half, half)
    ann = daily.select(
        "day",
        "rev",
        F.sum("rev").over(wma).cast("bigint").alias("tsum"),
        F.count("rev").over(wma).cast("bigint").alias("tcnt"),
    ).where(F.col("tcnt") == SEASONAL_MA)
    # work in 1e6-cent units: the DECIMAL(38,18) moment sums overflow
    # on raw cents² at sf0.1+ (Σd² ~ 1e21); strength is scale-invariant
    # and the seasonal component scales back at the end
    detr = (
        F.col("rev").cast("double")
        - F.col("tsum").cast("double") / F.lit(float(SEASONAL_MA))
    ) / F.lit(1e6)
    dowi = (
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
    ).cast("bigint")
    base = ann.select(dowi.alias("dow_idx"), detr.alias("d"))
    dec = lambda e: F.sum(e.cast("decimal(38,18)")).cast("double")
    per = base.groupBy("dow_idx").agg(
        F.count("*").cast("bigint").alias("n_days"),
        dec(F.col("d")).alias("sd"),
        dec(F.col("d") * F.col("d")).alias("sdd"),
    )
    tot = per.agg(
        F.sum("n_days").cast("double").alias("n"),
        F.sum(F.col("sd").cast("decimal(38,18)")).cast("double").alias("tsd"),
        F.sum(F.col("sdd").cast("decimal(38,18)")).cast("double").alias("tsdd"),
        F.sum(
            (
                F.col("sd") * F.col("sd") / F.col("n_days").cast("double")
            ).cast("decimal(38,18)")
        ).cast("double").alias("sdow"),
    )
    var_det = F.col("tsdd") - F.col("tsd") * F.col("tsd") / F.col("n")
    strength = (F.col("sdow") - F.col("tsd") * F.col("tsd") / F.col("n")) / var_det
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "dow_idx",
            "n_days",
            _flr(F.col("sd") * F.lit(1e6) / F.col("n_days").cast("double"), 6).alias("seasonal_cents"),
            _flr(strength, 6).alias("seasonal_strength"),
        )
        .orderBy("dow_idx")
    )


SQL_SEASONAL_DECOMPOSITION_AUDIT = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100)
                       AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
),
ann AS (
  SELECT day, rev,
         CAST(SUM(rev) OVER w AS BIGINT) AS tsum,
         CAST(COUNT(rev) OVER w AS BIGINT) AS tcnt
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {SEASONAL_MA // 2} PRECEDING
               AND {SEASONAL_MA // 2} FOLLOWING)
),
base AS (
  SELECT CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow_idx,
         (CAST(rev AS DOUBLE)
          - CAST(tsum AS DOUBLE) / {float(SEASONAL_MA)!r}) / 1e6 AS d
  FROM ann WHERE tcnt = {SEASONAL_MA}
),
per AS (
  SELECT dow_idx, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(d * d AS DECIMAL(38,18))) AS DOUBLE) AS sdd
  FROM base GROUP BY dow_idx
),
tot AS (
  SELECT CAST(SUM(n_days) AS DOUBLE) AS n,
         CAST(SUM(CAST(sd AS DECIMAL(38,18))) AS DOUBLE) AS tsd,
         CAST(SUM(CAST(sdd AS DECIMAL(38,18))) AS DOUBLE) AS tsdd,
         CAST(SUM(CAST(sd * sd / CAST(n_days AS DOUBLE)
                       AS DECIMAL(38,18))) AS DOUBLE) AS sdow
  FROM per
)
SELECT dow_idx, n_days,
       FLOOR(CAST((sd * 1e6 / CAST(n_days AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS seasonal_cents,
       FLOOR(CAST(((sdow - tsd * tsd / n) / (tsdd - tsd * tsd / n)) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS seasonal_strength
FROM per, tot
ORDER BY dow_idx
"""


# ---------------------------------------------------------------------------


# round-14 batch (second wave): sequence packing
# ---------------------------------------------------------------------------

SEQ_PACK_LEN = 128  # tokens per training sequence (block)


def q_sequence_packing_audit(spark, sf_dir):
    """Concat-and-chop sequence-packing audit — the standard LLM
    pretraining layout (concatenate every document in a shard in a
    deterministic order, chop the token stream into fixed
    SEQ_PACK_LEN-token training sequences) measured per shard
    (``source``): document/token volume, how many training sequences
    the shard yields, how many documents straddle a sequence boundary
    (the cross-document attention-contamination count that motivates
    boundary-aware attention masks), and the padding wasted in each
    shard's final partial block. Companion of ``sequence_packing``
    (batteries.py — the per-document seq_id/offset layout): this is the
    shard-level efficiency rollup a data-loader team reads before
    choosing sequence length and shard granularity.

    Scale shape: the token offsets come from
    ``operators/scaling.stable_prefix_sum`` — the bucketed two-phase
    prefix sum, NOT a per-source ORDER BY window (a handful of sources
    over 100 TB would serialize into a handful of single-task sorts) —
    followed by one keyed aggregate. Integer arithmetic end to end
    except the final pad-share ratio."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    )
    from ..operators.scaling import stable_prefix_sum

    packed = stable_prefix_sum(
        docs,
        order_cols=["doc_id"],
        value_col="n_tokens",
        group_cols=["source"],
        out_col="tok_start",
    )
    first_blk = F.expr(f"tok_start div {SEQ_PACK_LEN}")
    last_blk = F.expr(f"(tok_start + n_tokens - 1) div {SEQ_PACK_LEN}")
    crossing = (F.col("n_tokens") > 0) & (first_blk != last_blk)
    agg = packed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(crossing.cast("int")).cast("bigint").alias("crossing_docs"),
    )
    n_blocks = F.expr(
        f"(total_tokens + {SEQ_PACK_LEN - 1}) div {SEQ_PACK_LEN}"
    ).cast("bigint")
    withb = agg.withColumn("n_blocks", n_blocks).withColumn(
        "tail_pad_tokens",
        (F.col("n_blocks") * SEQ_PACK_LEN - F.col("total_tokens")).cast("bigint"),
    )
    pad_share = F.when(F.col("n_blocks") == 0, F.lit(0.0)).otherwise(
        F.col("tail_pad_tokens").cast("double")
        / (F.col("n_blocks") * SEQ_PACK_LEN).cast("double")
    )
    return withb.select(
        "source",
        "n_docs",
        "total_tokens",
        "n_blocks",
        "crossing_docs",
        "tail_pad_tokens",
        _flr(pad_share, 6).alias("pad_share"),
    ).orderBy("source")


SQL_SEQUENCE_PACKING_AUDIT = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM toks
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN n_tokens > 0
                        AND tok_start // {SEQ_PACK_LEN}
                            != (tok_start + n_tokens - 1) // {SEQ_PACK_LEN}
                       THEN 1 ELSE 0 END) AS BIGINT) AS crossing_docs
  FROM packed GROUP BY source
),
blk AS (
  SELECT *,
         CAST((total_tokens + {SEQ_PACK_LEN - 1}) // {SEQ_PACK_LEN} AS BIGINT)
           AS n_blocks
  FROM agg
)
SELECT source, n_docs, total_tokens, n_blocks, crossing_docs,
       CAST(n_blocks * {SEQ_PACK_LEN} - total_tokens AS BIGINT)
         AS tail_pad_tokens,
       CASE WHEN n_blocks = 0 THEN 0.0
            ELSE FLOOR(CAST(n_blocks * {SEQ_PACK_LEN} - total_tokens AS DOUBLE)
                       / CAST(n_blocks * {SEQ_PACK_LEN} AS DOUBLE)
                       * 1e6 + 0.5) / 1e6
       END AS pad_share
FROM blk
ORDER BY source
"""


# round-14 wave 3: positional phrase / proximity search
# ---------------------------------------------------------------------------

PHRASE_A, PHRASE_B = "table", "scan"
PHRASE_PROX_W = 5  # proximity window (positions) for the near count
PHRASE_TOP_K = 50


def q_phrase_search_positional(spark, sf_dir):
    """Positional-postings phrase and proximity search — the IR
    operator the bag-of-words retrieval stack (BM25 / QL / boolean
    aggregates) cannot express: find documents where PHRASE_A is
    IMMEDIATELY followed by PHRASE_B (exact phrase via the positional
    adjacency join pos_b = pos_a + 1), plus the looser
    within-PHRASE_PROX_W proximity count, and the first phrase
    position per document. This is the classic positional inverted
    index probe: postings carry (doc, position), phrase matching is a
    self-join on doc with a position predicate.

    Scale shape: the two term filters prune the postings to the query
    terms BEFORE the join (term-selective, like reading two postings
    lists), the join keys on doc_id, and the per-doc pair fan-out is
    bounded by within-document term frequency — never corpus-sized.
    One keyed aggregate, total-order top-k."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(T.tokens(F.lower(F.col("text")))).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = toks.where(F.col("term") == PHRASE_A).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = toks.where(F.col("term") == PHRASE_B).select(
        "doc_id", F.col("pos").alias("pb")
    )
    is_phrase = F.col("pb") == F.col("pa") + 1
    is_near = (
        F.abs(F.col("pb") - F.col("pa")) <= PHRASE_PROX_W
    )
    per = (
        a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(is_phrase.cast("int")).cast("bigint").alias("n_phrase"),
            F.sum(is_near.cast("int")).cast("bigint").alias("n_near"),
            F.min(F.when(is_phrase, F.col("pa"))).cast("bigint").alias(
                "first_phrase_pos"
            ),
        )
    )
    return (
        per.where((F.col("n_phrase") > 0) | (F.col("n_near") > 0))
        .orderBy(
            F.desc("n_phrase"), F.desc("n_near"), F.asc("doc_id")
        )
        .limit(PHRASE_TOP_K)
    )


SQL_PHRASE_SEARCH_POSITIONAL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           (x, i) -> struct_pack(term := x, pos := i)), recursive := true)
  FROM documents WHERE length(trim(text)) > 0
),
a AS (SELECT doc_id, pos AS pa FROM toks WHERE term = '{PHRASE_A}'),
b AS (SELECT doc_id, pos AS pb FROM toks WHERE term = '{PHRASE_B}'),
per AS (
  SELECT a.doc_id,
         CAST(SUM(CASE WHEN b.pb = a.pa + 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_phrase,
         CAST(SUM(CASE WHEN ABS(b.pb - a.pa) <= {PHRASE_PROX_W}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
         CAST(MIN(CASE WHEN b.pb = a.pa + 1 THEN a.pa END) AS BIGINT)
           AS first_phrase_pos
  FROM a JOIN b USING (doc_id) GROUP BY a.doc_id
)
SELECT doc_id, n_phrase, n_near, first_phrase_pos
FROM per WHERE n_phrase > 0 OR n_near > 0
ORDER BY n_phrase DESC, n_near DESC, doc_id
LIMIT {PHRASE_TOP_K}
"""


# round-14 wave 3: bitmap-index intersection
# ---------------------------------------------------------------------------

BMAP_TERMS = ("merge", "scan", "table")  # indexed terms (sorted)
BMAP_BLOCK = 32  # docs per bitmap word (bits 0..31 — safe bigint shifts)


def q_bitmap_index_intersection(spark, sf_dir):
    """Bitmap-index term intersection — the OLAP indexing technique
    relational engines use for multi-predicate membership: each term's
    posting set is packed into per-block machine words (block =
    doc_id div 32, one bit per doc via BIT_OR), and a two-term
    co-occurrence count is a block-equi-join + bitwise AND + popcount
    sum — word-at-a-time set intersection instead of a row-at-a-time
    postings join. The audit emits, per term pair, the bitmap count,
    the direct postings-join count (provably equal — the correctness
    of the packed representation), and how many blocks the AND
    touches (the bitmap's pruning measure).

    Scale shape: words live on the (term, block) domain — 32x fewer
    rows than postings; the pair join keys on block; popcount
    aggregation is one keyed sum. All integer bit arithmetic, portable
    across engines (bit_or / & / bit_count)."""
    docs = _docs(spark, sf_dir)
    presence = (
        docs.select(
            "doc_id",
            F.explode(T.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .where(F.col("term").isin(*BMAP_TERMS))
        .distinct()
    )
    words = (
        presence.select(
            "term",
            F.expr(f"doc_id div {BMAP_BLOCK}").alias("block"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(doc_id % {BMAP_BLOCK} AS INT))"
            ).alias("bit"),
        )
        .groupBy("term", "block")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    wa, wb = words.alias("wa"), words.alias("wb")
    anded = wa.join(
        wb,
        (F.col("wa.block") == F.col("wb.block"))
        & (F.col("wa.term") < F.col("wb.term")),
    ).select(
        F.col("wa.term").alias("term_a"),
        F.col("wb.term").alias("term_b"),
        (F.col("wa.word").bitwiseAND(F.col("wb.word"))).alias("and_word"),
    )
    via_bitmap = anded.groupBy("term_a", "term_b").agg(
        F.sum(F.expr("bit_count(and_word)")).cast("bigint").alias("n_docs_bitmap"),
        F.sum((F.col("and_word") != 0).cast("int")).cast("bigint").alias(
            "n_blocks_hit"
        ),
    )
    pa, pb = presence.alias("pa"), presence.alias("pb")
    direct = (
        pa.join(
            pb,
            (F.col("pa.doc_id") == F.col("pb.doc_id"))
            & (F.col("pa.term") < F.col("pb.term")),
        )
        .groupBy(
            F.col("pa.term").alias("term_a"), F.col("pb.term").alias("term_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_docs_direct"))
    )
    return (
        via_bitmap.join(direct, ["term_a", "term_b"], "left")
        .select(
            "term_a",
            "term_b",
            "n_docs_bitmap",
            F.coalesce("n_docs_direct", F.lit(0)).cast("bigint").alias(
                "n_docs_direct"
            ),
            "n_blocks_hit",
        )
        .orderBy("term_a", "term_b")
    )


_BMAP_TERMS_SQL = ", ".join(f"'{t}'" for t in BMAP_TERMS)

SQL_BITMAP_INDEX_INTERSECTION = f"""
WITH presence AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
    FROM documents WHERE length(trim(text)) > 0
  ) WHERE term IN ({_BMAP_TERMS_SQL})
),
words AS (
  SELECT term, doc_id // {BMAP_BLOCK} AS block,
         bit_or(CAST(1 AS BIGINT) << CAST(doc_id % {BMAP_BLOCK} AS INTEGER))
           AS word
  FROM presence GROUP BY 1, 2
),
anded AS (
  SELECT wa.term AS term_a, wb.term AS term_b, wa.word & wb.word AS and_word
  FROM words wa JOIN words wb
    ON wa.block = wb.block AND wa.term < wb.term
),
via_bitmap AS (
  SELECT term_a, term_b,
         CAST(SUM(bit_count(and_word)) AS BIGINT) AS n_docs_bitmap,
         CAST(SUM(CASE WHEN and_word != 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blocks_hit
  FROM anded GROUP BY 1, 2
),
direct AS (
  SELECT pa.term AS term_a, pb.term AS term_b,
         CAST(COUNT(*) AS BIGINT) AS n_docs_direct
  FROM presence pa JOIN presence pb
    ON pa.doc_id = pb.doc_id AND pa.term < pb.term
  GROUP BY 1, 2
)
SELECT v.term_a, v.term_b, v.n_docs_bitmap,
       CAST(COALESCE(d.n_docs_direct, 0) AS BIGINT) AS n_docs_direct,
       v.n_blocks_hit
FROM via_bitmap v LEFT JOIN direct d USING (term_a, term_b)
ORDER BY term_a, term_b
"""
