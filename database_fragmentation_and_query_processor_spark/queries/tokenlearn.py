"""Tokenizer-merge learning (BPE) and per-line quality rewrite."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from ..cache import track as _track_cached
from ..functions import text as T
from ..functions.lattice import flr as _flr
from .common import _docs, _store_merge_rows
from .families import TOKENS_SQL

# round-9 additions: tokenizer-merge learning, per-line quality rewrite,
# URL canonicalization + registrable-domain dedup (the web-corpus front
# door / sub-document CCNet pass / BPE training the r8 verdict ranked
# as the highest-value surface gaps)
# ---------------------------------------------------------------------------

#: Number of BPE merge rules to learn. Each step costs one bounded
#: aggregate + a 1-row collect on the VOCABULARY domain (distinct
#: words), not the corpus — the loop's driver state is K (pair, count)
#: triples, corpus-size-free.
BPE_MERGES = 10

#: Fixed token width of a pseudo-line for the per-line quality filter
#: (the synthetic corpus has no newlines, so fixed-width lines stand in
#: — same convention as paragraph_dedup's CHUNK_TOKENS; on real data
#: this is split(text, '\n')).
LINE_TOKENS = 8

#: A line survives when its per-token negative log-likelihood under
#: the corpus unigram LM is at most this multiple of the LM's own
#: entropy (CCNet keeps the low-perplexity head/middle of the corpus;
#: one fixed multiplier stands in for the tercile cut here).
LINE_NLL_MULT = 1.05

#: The multiplier as an exact integer ratio so the keep decision is an
#: integer cross-product in BOTH engines (1.05 = 21/20; no float ever
#: reaches the comparison).
_LINE_NLL_FR = Fraction(str(LINE_NLL_MULT))
LINE_NLL_MULT_NUM = _LINE_NLL_FR.numerator
LINE_NLL_MULT_DEN = _LINE_NLL_FR.denominator

#: The shared per-word negative-log-likelihood lattice: the ONLY
#: transcendental any per-line-LM query hashes is quantized ONCE per
#: vocabulary word as floor(-ln(p) * NLL_LATTICE) BIGINT — identical
#: expression text in both engines — and every downstream sum, keep
#: decision, and reported mean is exact integer / DECIMAL arithmetic on
#: those lattice points. Engine-libm ln streams may differ by ulps
#: (CORRECTNESS_r10's line_quality_filter red: 1310/3609 per-line nll
#: doubles were bitwise different Spark-vs-DuckDB and one per-doc mean
#: sat 1.5e-10 from its round-6dp boundary); on the lattice a libm
#: divergence can only flip a word's q by 1 when -ln(p)*1e9 sits within
#: ulps of an integer — a vocabulary-sized knife-edge population,
#: ~5 orders of magnitude smaller than the per-row-double population,
#: and a single flip moves a 6dp-rounded mean by ~1e-12.
NLL_LATTICE = 1_000_000_000


def _bpe_wrap(sym: str) -> str:
    """A symbol embedded in the merge-state string: space-wrapped, so
    adjacent symbols are separated by exactly two spaces and a merge
    rule (a, b) is the literal non-overlapping replace of
    ``' a  b '`` by ``' ab '`` — replace scans left-to-right and
    resumes AFTER each replacement, which is exactly BPE's greedy
    within-word merge order, and the private sentinel spaces mean
    consecutive occurrences never share boundary characters (the
    classic ``replace(' a a ', …)`` bug on 'a a a a')."""
    return f" {sym} "


def q_bpe_merge_learning(spark, sf_dir):
    """Distributed BPE merge learning (Sennrich-style): start from
    characters, repeatedly (1) count adjacent symbol pairs over the
    vocabulary weighted by word frequency, (2) adopt the most frequent
    pair (ties: lexicographic on (left, right)) as a merge rule, (3)
    apply it greedily inside every word. Returns the learned merge
    table — step, left, right, merged symbol, and the pair's weighted
    count at selection time. Complements bpe_token_stats /
    tokenizer_fertility, which only APPLY a tokenizer.

    Scale shape: the corpus is touched ONCE (tokenize → word-frequency
    aggregate, one shuffle on the word key); all K iterations run on
    the collapsed vocabulary domain (|vocab| rows — millions at web
    scale, never corpus-sized), each step one hash aggregate over the
    pair explode plus a LIMIT-1 collect (driver state: K triples,
    corpus-size-free). The per-step frontier is persisted and the
    predecessor released, so lineage stays one step deep. The merge
    itself is a single JVM string ``replace`` per word — no UDFs.

    Cross-engine exactness: pair counts are integer sums; the argmax
    tie-break is total (count DESC, left, right — binary string order
    both engines); the state string is rebuilt by the same wrap
    convention in the DuckDB oracle, which replays the K steps as a
    chained CTE with scalar-subquery merge rules."""
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
    # Singleton words never re-enter the merge selection: a state
    # string with ONE symbol has no adjacent pair (pairs already filter
    # size≥2) and no future replace can split it — so they leave the
    # iterated state entirely (r15, guide §2.3: shuffle/persist fewer
    # bytes per step). BPE's argmax reads pair counts only, so the
    # merge table is identical; the multi-symbol filter is a cheap
    # contains() on the two-space separator.
    multi = F.col("s").contains("  ")
    state = base.where(multi).persist()
    prev = None  # predecessor frontier: released only AFTER the next
    # step's collect has materialized its successor (no count() jobs)
    merges: list[tuple[int, str, str, int]] = []
    try:
        for step in range(1, BPE_MERGES + 1):
            sy = F.split(F.trim(F.col("s")), "  ")
            pairs = (
                state.select(sy.alias("sy"), "freq")
                .where(F.size("sy") >= 2)
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
            best = pairs.orderBy(
                F.desc("cnt"), F.asc("s1"), F.asc("s2")
            ).limit(1).collect()
            # the collect above materialized `state`'s cache, so the
            # predecessor it was derived from can go now
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break  # every word is a single symbol: pairs exhausted
            a, b, cnt = best[0]["s1"], best[0]["s2"], int(best[0]["cnt"])
            merges.append((step, a, b, cnt))
            nxt = state.select(
                F.replace(
                    F.col("s"),
                    F.lit(_bpe_wrap(a) + _bpe_wrap(b)),
                    F.lit(_bpe_wrap(a + b)),
                ).alias("s"),
                "freq",
            ).where(multi).persist()
            prev, state = state, nxt
    finally:
        state.unpersist()
        if prev is not None:
            prev.unpersist()
    out_schema = (
        "step INT, left_sym STRING, right_sym STRING, merged STRING, "
        "pair_count BIGINT"
    )
    # free side effect: the merge table is already driver-held, so
    # persist it as the build-once artifact tokenizer_compare_audit
    # consumes (r13 verdict task 3)
    _store_merge_rows(
        sf_dir,
        "bpe",
        [
            {"step": s, "left_sym": a, "right_sym": b,
             "merged": a + b, "pair_count": c}
            for s, a, b, c in merges
        ],
    )
    return spark.createDataFrame(
        [(s, a, b, a + b, c) for s, a, b, c in merges], out_schema
    )


def _bpe_oracle_sql(k: int) -> str:
    """The K-step CTE replay of q_bpe_merge_learning: w0 is the
    wrapped-character vocabulary; each step derives pairs{i} from
    w{i-1}, picks best b{i} (same total order), and rewrites w{i} with
    the same sentinel-wrapped literal replace. An exhausted step yields
    an empty b{i} (its scalar subqueries go NULL, poisoning w{i} to
    NULL strings that produce no further pairs) — both engines then
    emit rows only for the steps that happened."""
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
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # w{i} references b{i} four times and w{i-1} once — inlined,
        # the K-step chain re-expands ~5^K scans of the corpus.
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
            f", b{i} AS MATERIALIZED (SELECT s1, s2, cnt FROM pr{i}"
            f" ORDER BY cnt DESC, s1, s2 LIMIT 1)"
            f", w{i} AS MATERIALIZED (SELECT replace(s,"
            f" ' ' || (SELECT s1 FROM b{i}) || '  ' ||"
            f" (SELECT s2 FROM b{i}) || ' ',"
            f" ' ' || (SELECT s1 FROM b{i}) ||"
            f" (SELECT s2 FROM b{i}) || ' ') AS s, freq FROM w{p})"
        )
    selects = [
        f"SELECT CAST({i} AS INT) AS step, s1 AS left_sym,"
        f" s2 AS right_sym, s1 || s2 AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    ]
    parts.append(" " + " UNION ALL ".join(selects))
    return "\n".join(parts)


SQL_BPE_MERGE_LEARNING = _bpe_oracle_sql(BPE_MERGES)


def _doc_lines(spark, sf_dir):
    """The PERSISTED line-explode of the corpus: (doc_id, line_idx,
    lt), where lines are fixed LINE_TOKENS-token windows (the synthetic
    corpus has no newlines). Shared substrate of the per-line family —
    line_quality_filter (score + rewrite) and line_dedup_exact (CCNet
    stage-1 dedup + rewrite) both fan out from it, each consuming it
    twice (per-line decision, per-doc reassembly), so it is persisted
    and registered with cache.track (released by the harness's
    release_all between queries). Each CALL builds its own frame: the
    lifecycle is per-returned-plan, not per-session."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    tl = docs.select("doc_id", toks.alias("t")).where(F.size("t") >= 1)
    n_lines = F.expr(f"(size(t) + {LINE_TOKENS - 1}) div {LINE_TOKENS}")
    lines = F.transform(
        F.sequence(F.lit(0), (n_lines - 1).cast("int")),
        lambda i: F.slice(F.col("t"), i * LINE_TOKENS + 1, LINE_TOKENS),
    )
    return _track_cached(
        tl.select(
            "doc_id", F.posexplode(lines).alias("line_idx", "lt")
        ).persist()
    )


def q_line_quality_filter(spark, sf_dir):
    """CCNet/KenLM-style PER-LINE quality filtering WITH REWRITE — the
    sub-document analogue of paragraph_dedup that C4/CCNet pipelines
    actually run: score every line of every document under a corpus
    language model, drop the high-perplexity lines, and reassemble the
    surviving lines in original order. Lines here are fixed
    LINE_TOKENS-token windows (the synthetic corpus has no newlines;
    see LINE_TOKENS); the LM is the corpus unigram MLE and the cut is
    nll_line <= LINE_NLL_MULT x the LM's entropy (a fixed multiple
    standing in for CCNet's head/middle tercile cut).

    Scale shape: one corpus tokenize feeding (a) the vocabulary count
    table (one shuffle on the word key) and (b) the line-token stream;
    scoring is a join back on the same uniform word key + one
    aggregate per (doc, line); reassembly is one aggregate per doc.
    The line-exploded frame is persisted across its two consumers
    (scoring and rewrite) and registered with cache.track. Corpus
    totals and the entropy scalar ride broadcast 1-row frames — no
    driver-side collects in the returned plan.

    Cross-engine exactness (the NLL_LATTICE convention — rebuilt after
    CORRECTNESS_r10's hash red, where per-row engine-ln doubles summed
    into a 6dp-rounded mean that sat 1.5e-10 from its rounding
    boundary): the ONLY transcendental is quantized ONCE per vocabulary
    word as q = floor(-ln(c/n_total) * NLL_LATTICE) BIGINT, identical
    expression text in both engines. Everything downstream is exact —
    per-line nll is the integer sum of q, the corpus-entropy side is
    the integer Σ c·q, the keep decision is the integer cross-product
    lq·n_total·DEN <= NUM·hq·n_toks (LINE_NLL_MULT as an exact
    fraction), and mean_line_nll_q is the ALL-INTEGER mean lattice
    (Σ_line ((lq·10⁶) div n_toks)) div n_lines — truncating integer
    division on non-negative operands in both engines, so NO double
    arithmetic and NO round(double) reaches the hashed output at all
    (rebuilt again after CORRECTNESS_r11: the previous round-6 double
    mean of decimal-cast per-line ratios still sat on a 6dp HALF_UP
    boundary on the driver's corpus — the round itself was the last
    engine-divergent surface, so it is gone). The per-line numerator
    lq·10⁶ stays < 2^63 (lq ≤ LINE_TOKENS · ln(n_total)·1e9), and the
    per-doc sum rides decimal(38,0)/HUGEINT before the final div. No
    engine-evaluated transcendental ever reaches the hashed output
    (the pr_auc_by_source convention). The rewrite is emitted as md5
    of the kept-line concatenation (rows stay O(1) wide, same
    convention as paragraph_dedup)."""
    lx = _doc_lines(spark, sf_dir)
    wx = lx.select("doc_id", "line_idx", F.explode("lt").alias("w"))
    cw0 = wx.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    tot = cw0.agg(F.sum("c").cast("bigint").alias("n_total"))
    pw = F.col("c").cast("double") / F.col("n_total").cast("double")
    cw = cw0.crossJoin(F.broadcast(tot)).select(
        "w",
        "c",
        F.floor((-F.log(pw)) * F.lit(float(NLL_LATTICE)))
        .cast("bigint")
        .alias("q"),
    )
    hrow = cw.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("q")).alias("hq")
    )
    scored = (
        wx.join(cw.select("w", "q"), "w")
        .groupBy("doc_id", "line_idx")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("q").cast("bigint").alias("lq"),
        )
    )
    keep = (
        scored.crossJoin(F.broadcast(hrow))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "line_idx",
            "n_toks",
            "lq",
            (
                F.col("lq").cast("decimal(38,0)")
                * F.col("n_total")
                * F.lit(LINE_NLL_MULT_DEN)
                <= F.lit(LINE_NLL_MULT_NUM) * F.col("hq") * F.col("n_toks")
            ).alias("kept"),
        )
    )
    jl = lx.join(keep, ["doc_id", "line_idx"])
    return jl.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("kept").cast("bigint")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.size("lt")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
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
        F.expr(
            "sum(cast((cast(lq as decimal(38,0)) * 1000000) div n_toks"
            " as decimal(38,0))) div count(*)"
        )
        .cast("bigint")
        .alias("mean_line_nll_q"),
    )


SQL_LINE_QUALITY_FILTER = f"""
WITH tl AS (
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
),
wx AS (SELECT doc_id, line_idx, unnest(lt) AS w FROM lx),
cw0 AS (SELECT w, COUNT(*) AS c FROM wx GROUP BY w),
tot AS (SELECT SUM(c) AS n_total FROM cw0),
cw AS (
  SELECT w, c,
         CAST(FLOOR((-ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)))
                    * {float(NLL_LATTICE)!r}) AS BIGINT) AS q
  FROM cw0, tot
),
hrow AS (SELECT SUM(CAST(c AS HUGEINT) * q) AS hq FROM cw),
scored AS (
  SELECT doc_id, line_idx, COUNT(*) AS n_toks,
         CAST(SUM(q) AS BIGINT) AS lq
  FROM wx JOIN cw USING (w)
  GROUP BY doc_id, line_idx
),
keep AS (
  SELECT doc_id, line_idx, n_toks, lq,
         (CAST(lq AS HUGEINT) * n_total * {LINE_NLL_MULT_DEN}
            <= {LINE_NLL_MULT_NUM} * hq * n_toks) AS kept
  FROM scored, hrow, tot
)
SELECT lx.doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN len(lt) ELSE 0 END) AS BIGINT) AS kept_tokens,
       md5(COALESCE(string_agg(
         CASE WHEN kept THEN array_to_string(lt, ' ') END,
         ' ' ORDER BY lx.line_idx), '')) AS rewrite_md5,
       CAST(SUM(CAST(lq AS HUGEINT) * 1000000 // n_toks)
            // COUNT(*) AS BIGINT) AS mean_line_nll_q
FROM lx JOIN keep USING (doc_id, line_idx)
GROUP BY lx.doc_id
"""


def q_url_domain_dedup(spark, sf_dir):
    """URL canonicalization + registrable-domain rollup — the
    web-corpus front door (the pass upstream of domain_soft_cap that
    the pipeline previously assumed had already happened). The corpus
    has no URL column, so a deterministic synthetic URL is derived per
    document from (doc_id, source, lang) in BOTH engines — realistic
    mess included: mixed-case scheme/host, www. prefixes, default and
    non-default ports, trailing slashes, utm_* tracking params,
    fragments. The operator then (1) canonicalizes — lowercase
    scheme+host, strip www., strip default ports (80/http, 443/https),
    drop the fragment, drop utm_* params and sort the survivors,
    strip a trailing slash from non-root paths; (2) rolls up to the
    REGISTRABLE domain (public-suffix heuristic: last two labels, or
    three under .co.uk); (3) dedups documents on the canonical URL
    (keeper = min doc_id) and reports per-domain dup structure.

    Scale shape: the synth+canonicalize stage is pure map-side JVM
    string expressions (no UDFs, no shuffle); then ONE shuffle on the
    canonical-URL key (uniform: it embeds doc_id mod classes) and one
    tiny rollup on the domain. Everything is strings/integers —
    hash-exact across engines."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    scheme_raw = F.when(d % 3 == 0, "HTTP").otherwise("https")
    host_core = F.concat(
        F.col("source"),
        F.when(d % 7 == 0, F.lit(".CO.UK")).otherwise(F.lit(".com")),
    )
    host_raw = F.concat(
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.upper(host_core)).otherwise(host_core),
    )
    port_raw = (
        F.when(d % 11 == 0, F.lit(":8080"))
        .when(
            d % 5 == 0,
            F.when(d % 3 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .otherwise(F.lit(""))
    )
    path_raw = F.concat(
        F.lit("/items/"),
        (d % 40).cast("string"),
        F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query_raw = (
        F.when(d % 9 == 0, F.lit(""))
        .when(
            d % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="),
                F.col("lang"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .otherwise(F.concat(F.lit("?ref="), F.col("lang")))
    )
    frag_raw = F.when(d % 8 == 0, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(
        scheme_raw, F.lit("://"), host_raw, port_raw, path_raw, query_raw,
        frag_raw,
    )
    # -- canonicalize (all pieces are rebuilt from the same mod classes,
    #    so the parse is exact — the point under test is the
    #    normalization algebra, the same one a regexp parse would feed)
    scheme = F.lower(scheme_raw)
    host0 = F.lower(host_raw)
    host = F.when(
        F.substring(host0, 1, 4) == "www.",
        F.substr(host0, F.lit(5), F.length(host0)),
    ).otherwise(host0)
    keep_port = F.when(port_raw == ":8080", F.lit(":8080")).otherwise(
        F.lit("")
    )
    path = F.when(
        path_raw.endswith("/") & (F.length(path_raw) > 1),
        F.substr(path_raw, F.lit(1), F.length(path_raw) - 1),
    ).otherwise(path_raw)
    qbody = F.when(query_raw == "", F.lit("")).otherwise(
        F.substr(query_raw, F.lit(2), F.length(query_raw))
    )
    kept_params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qbody, "&"),
                lambda x: (F.substring(x, 1, 4) != "utm_") & (x != ""),
            )
        ),
        "&",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        keep_port,
        path,
        F.when(kept_params == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), kept_params)
        ),
    )
    labels = F.split(host, r"\.")
    domain = F.when(
        host.endswith(".co.uk"),
        F.concat_ws(
            ".",
            F.element_at(labels, -3),
            F.element_at(labels, -2),
            F.element_at(labels, -1),
        ),
    ).otherwise(
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    )
    per_url = (
        docs.select(
            "doc_id",
            url.alias("url"),
            canonical.alias("canonical_url"),
            domain.alias("registrable_domain"),
        )
        .groupBy("registrable_domain", "canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
    )
    return per_url.groupBy("registrable_domain").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_canonical_urls"),
        (F.sum("n_docs") - F.count("*")).cast("bigint").alias("n_dup_docs"),
        _flr((F.sum("n_docs") - F.count("*")).cast("double")
            / F.sum("n_docs").cast("double"), 6).alias("dup_ratio"),
        F.min("keeper_doc_id").cast("bigint").alias("first_keeper_doc_id"),
    )


SQL_URL_DOMAIN_DEDUP = """
WITH synth AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END AS scheme_raw,
         (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
         (CASE WHEN doc_id % 4 = 0
               THEN upper(source || CASE WHEN doc_id % 7 = 0
                                         THEN '.CO.UK' ELSE '.com' END)
               ELSE source || CASE WHEN doc_id % 7 = 0
                                   THEN '.CO.UK' ELSE '.com' END
          END) AS host_raw,
         CASE WHEN doc_id % 11 = 0 THEN ':8080'
              WHEN doc_id % 5 = 0 THEN
                CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END
              ELSE '' END AS port_raw,
         '/items/' || CAST(doc_id % 40 AS VARCHAR) ||
           CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END AS path_raw,
         CASE WHEN doc_id % 9 = 0 THEN ''
              WHEN doc_id % 2 = 0
                THEN '?utm_source=feed&ref=' || lang || '&utm_campaign=x'
              ELSE '?ref=' || lang END AS query_raw
  FROM documents
),
canon AS (
  SELECT doc_id,
         lower(scheme_raw) AS scheme,
         CASE WHEN substr(lower(host_raw), 1, 4) = 'www.'
              THEN substr(lower(host_raw), 5)
              ELSE lower(host_raw) END AS host,
         CASE WHEN port_raw = ':8080' THEN ':8080' ELSE '' END AS keep_port,
         CASE WHEN path_raw LIKE '%/' AND length(path_raw) > 1
              THEN substr(path_raw, 1, length(path_raw) - 1)
              ELSE path_raw END AS path,
         -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
         -- array_join([]) is '' — normalize to the Spark value
         COALESCE(array_to_string(list_sort(list_filter(
           string_split(CASE WHEN query_raw = '' THEN ''
                             ELSE substr(query_raw, 2) END, '&'),
           x -> substr(x, 1, 4) <> 'utm_' AND x <> ''
         )), '&'), '') AS kept_params
  FROM synth
),
urls AS (
  SELECT doc_id,
         scheme || '://' || host || keep_port || path ||
           CASE WHEN kept_params = '' THEN ''
                ELSE '?' || kept_params END AS canonical_url,
         CASE WHEN host LIKE '%.co.uk'
              THEN string_split(host, '.')[-3] || '.' ||
                   string_split(host, '.')[-2] || '.' ||
                   string_split(host, '.')[-1]
              ELSE string_split(host, '.')[-2] || '.' ||
                   string_split(host, '.')[-1] END AS registrable_domain
  FROM canon
),
per_url AS (
  SELECT registrable_domain, canonical_url,
         COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
  FROM urls GROUP BY 1, 2
)
SELECT registrable_domain,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_canonical_urls,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_dup_docs,
       FLOOR(CAST((CAST(SUM(n_docs) - COUNT(*) AS DOUBLE)
             / CAST(SUM(n_docs) AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dup_ratio,
       CAST(MIN(keeper_doc_id) AS BIGINT) AS first_keeper_doc_id
FROM per_url
GROUP BY registrable_domain
"""


# ---------------------------------------------------------------------------
