"""Rounding-margin tripwires for transcendental-derived hash surfaces
(the r10 verdict's task 4 — the generic guard that keeps the
line_quality_filter failure class from recurring silently).

Background (VERDICT r10): the driver's value-hash compare red-flagged
line_quality_filter because its hashed ``mean_line_nll`` was a
6dp-rounded mean of per-row engine-``ln`` doubles — engine libm
streams differ by ulps across environments, and one per-doc mean sat
1.5e-10 from its round-half boundary. The r11 hardening moved every
per-row transcendental in the new-query families onto the shared
NLL_LATTICE (floor(·1e9) BIGINT quantization of the ONE transcendental
term, exact integer/DECIMAL arithmetic downstream).

Three tripwires:

1. **Enumeration** — every registry query whose oracle SQL evaluates a
   transcendental must be classified in ``TRANSCENDENTAL_REGISTRY``
   below. A new query that hashes raw engine-ln doubles fails this
   test until its float surface is reviewed (latticed, or margin-
   classified with eyes open). This is the "can never recur silently"
   guarantee.

2. **Lattice floor-argument margins** — for the latticed families, the
   only cross-engine knife edge left is the floor argument sitting
   within libm-divergence distance of an integer. The r11 verdict
   retired the old <2%-near-boundary-fraction bound (thousands of flip
   candidates on a real vocabulary): the check is now ZERO tolerance —
   every floor argument must sit further from its nearest integer than
   _ULP_SAFETY (16) ulps of its own magnitude, the distance an engine
   libm divergence could actually move it, plus an absolute 1e-9 floor
   against pathological alignment.

3. **Legacy round-boundary margins** — window queries whose hashed
   floats carry engine-transcendental lineage get the verdict's
   literal check: strip every rounding (both legacy ROUND(x, k) and
   the r12 ``FLOOR(CAST((x) AS DOUBLE) * 1eK + 0.5) / 1eK`` lattice —
   the boundary is the same half-point either way), recompute, and
   assert each float output sits > 1e-9 from its rounding boundary —
   i.e. an engine-ln divergence at the observed 1.5e-10 scale cannot
   flip the hashed value.

All probes run in DuckDB/numpy only (margins are measurements of the
data, not a cross-engine contract), so this file is cheap enough for
the sf0.01 sweep.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest

from database_fragmentation_and_query_processor_spark.queries import (
    corpusops,
    docops,
    families,
    registry,
    sequences,
    tokenlearn,
)

from .oracle_harness import duck_connection

LAT = float(tokenlearn.NLL_LATTICE)

#: The registry's first 50 queries as of round 12, the set these
#: margin checks were calibrated on.
ROUND12_HEAD = [
    "frag_range_counts",
    "frag_rr_counts",
    "frag_range_query",
    "frag_point_query",
    "frag_insert_routing",
    "line_quality_filter",
    "logreg_hash_text",
    "exact_substr_incremental",
    "temperature_sampling_weights",
    "dedup_bcubed_eval",
    "heaps_law_fit",
    "data_constrained_effective_tokens",
    "shard_balance_audit",
    "dedup_cluster_cohesion",
    "rare_token_audit",
    "t_closeness_audit",
    "qlm_dirichlet_search",
    "doremi_domain_weights",
    "label_propagation_communities",
    "kcenter_coreset",
    "fellegi_sunter_linkage",
    "unimax_budget_allocation",
    "packing_truncation_audit",
    "coverage_greedy_selection",
    "wordpiece_learning",
    "grid_density_clusters",
    "tokenizer_compare_audit",
    "burrows_delta_stylometry",
    "dunning_g2_keyness",
    "jsd_source_divergence",
    "rbo_rank_agreement",
    "adamic_adar_linkpred",
    "degree_distribution_audit",
    "rrf_fusion_topk",
    "association_rules_lift",
    "seasonal_decomposition_audit",
    "line_dedup_exact",
    "kn_bigram_perplexity",
    "unigram_lm_learning",
    "exact_substr_dedup",
    "nb_quality_classifier",
    "nb_calibration_audit",
    "quality_budget_mix",
    "nb_holdout_eval",
    "k_anonymity_audit",
    "pr_auc_by_source",
    "bpe_merge_learning",
    "url_domain_dedup",
    "intrinsic_dim_twonn",
    "embedding_covariance_topk",
]

_TRANSCENDENTAL_PAT = re.compile(r"\b(ln|exp|log|log10|log2)\s*\(", re.I)

#: Every registry query whose DuckDB oracle evaluates a transcendental,
#: classified by how that value reaches the hashed output:
#:   "lattice"       — floor-quantized onto NLL_LATTICE before any
#:                     hashed column (exact integer arithmetic after).
#:   "legacy-margin" — a rounded double with engine-ln lineage reaches
#:                     the hash; margin-checked in test 3 when in the
#:                     stamp window (every one of these is driver-green
#:                     from earlier rounds in the driver's own env).
TRANSCENDENTAL_REGISTRY: dict[str, str] = {
    # r11 lattice-hardened families
    "line_quality_filter": "lattice",
    "kn_bigram_perplexity": "lattice",
    "unigram_lm_learning": "lattice",
    "nb_quality_classifier": "lattice",
    "nb_calibration_audit": "lattice",
    "quality_budget_mix": "lattice",
    "nb_holdout_eval": "lattice",
    "logreg_hash_text": "lattice",  # clamp-latticed sigmoid + latticed loss
    "temperature_sampling_weights": "lattice",  # per-lang floor(q^a * 1e9)
    "heaps_law_fit": "lattice",  # per-source floor(ln N * 1e9) OLS points
    "data_constrained_effective_tokens": "lattice",  # per-source e^-R/R*
    "qlm_dirichlet_search": "lattice",  # per-(tf,cf) + per-dl floor(ln·1e9)
    "doremi_domain_weights": "lattice",  # per-word KL terms + per-source exp
    "fellegi_sunter_linkage": "lattice",  # six per-field weight constants
    "dunning_g2_keyness": "lattice",  # four O·ln(O/E) lattice terms
    "jsd_source_divergence": "lattice",  # per-(pair,word) midpoint lns
    # rbo's transcendental lineage is bm25's rounded score (already
    # margin-checked there); ranks re-derive from the rounded values
    "rbo_rank_agreement": "legacy-margin",
    "adamic_adar_linkpred": "lattice",  # per-degree floor(1e9/ln deg)
    "degree_distribution_audit": "lattice",  # degree-domain log points
    # rrf, like rbo, only inherits bm25/qlm's transcendental lineage
    # through their rounded, margin-checked scores
    "rrf_fusion_topk": "legacy-margin",
    # legacy rounded-transcendental surfaces (pre-r11 conventions)
    "doc_char_entropy": "legacy-margin",
    "pmi_collocations": "legacy-margin",
    "doc_lm_perplexity": "legacy-margin",
    "tfidf_top_terms": "legacy-margin",
    "scalar_functions": "legacy-margin",
    "dsir_importance_weights": "legacy-margin",
    "zipf_slope": "legacy-margin",
    "lexical_diversity": "legacy-margin",
    "bm25_search": "legacy-margin",
    "woe_binning": "legacy-margin",
    "benford_digit_audit": "legacy-margin",
    "unigram_kl_divergence": "legacy-margin",
    "psi_drift": "legacy-margin",
    "ppl_tercile_buckets": "legacy-margin",
    "domain_mix_entropy": "legacy-margin",
    "mink_prob_contamination": "legacy-margin",
    "dp_noisy_counts": "legacy-margin",
    "mutual_information_matrix": "legacy-margin",
    "intrinsic_dim_twonn": "legacy-margin",
    "bloom_fp_rate_audit": "legacy-margin",
    "hurst_exponent": "legacy-margin",
    "logreg_newton": "legacy-margin",
    "bigram_entropy_rate": "legacy-margin",
    "theil_index_decomposition": "legacy-margin",
}


def test_transcendental_queries_are_enumerated():
    """Any registry query whose oracle evaluates ln/exp/log must be
    classified above — adding one without reviewing its float surface
    fails here."""
    affected = {
        n
        for n in registry._QUERIES_ALL
        if _TRANSCENDENTAL_PAT.search(registry._ORACLE_SQL_ALL.get(n, ""))
    }
    assert affected == set(TRANSCENDENTAL_REGISTRY), (
        affected ^ set(TRANSCENDENTAL_REGISTRY)
    )


def test_every_windowed_lattice_query_is_classified():
    """The round-12 head's transcendental queries are all classified
    (sanity link between that head and the registry above)."""
    win_affected = {
        n
        for n in ROUND12_HEAD
        if _TRANSCENDENTAL_PAT.search(registry.ORACLE_SQL.get(n, ""))
    }
    assert win_affected <= set(TRANSCENDENTAL_REGISTRY)


# ---------------------------------------------------------------------------
# 2. lattice floor-argument margins
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def _int_margins(y: np.ndarray) -> np.ndarray:
    """Distance of each value from its nearest integer, EXCLUDING
    values that are exactly integral (an exact lattice point floors
    identically in both engines — zero distance there is safe)."""
    y = y[np.isfinite(y)]
    frac = y - np.floor(y)
    d = np.minimum(frac, 1.0 - frac)
    return d[d > 0.0]


#: Safety factor over 1-ulp libm divergence: engine ln/exp streams are
#: correctly rounded to within ~1 ulp each, the lattice scale multiply
#: adds ≤0.5 ulp, so 16 ulps of the SCALED argument upper-bounds any
#: realistic cross-engine drift with an order of margin to spare.
_ULP_SAFETY = 16.0


def _assert_lattice_margins(name: str, y: np.ndarray) -> None:
    """ZERO tolerance within a ulp-derived threshold (VERDICT r11: the
    old <2%-fraction bound allowed thousands of flip candidates on a
    real vocabulary — a flip population must be empty, not merely
    small). Each floor argument must sit further from its nearest
    integer than _ULP_SAFETY ulps of its own magnitude — the distance
    an engine-libm divergence could actually move it."""
    y = np.asarray(y, dtype=np.float64)
    y = y[np.isfinite(y)]
    frac = y - np.floor(y)
    d = np.minimum(frac, 1.0 - frac)
    live = d > 0.0  # exact lattice points floor identically — safe
    d, ym = d[live], y[live]
    if d.size == 0:
        return
    assert d.min() > 1e-9, (
        f"{name}: a floor-lattice argument sits {d.min():.3e} from an "
        f"integer — pathologically aligned, review the lattice"
    )
    thr = _ULP_SAFETY * np.spacing(np.abs(ym))
    bad = d <= thr
    assert not bad.any(), (
        f"{name}: {int(bad.sum())} floor-lattice argument(s) sit within "
        f"{_ULP_SAFETY:.0f} ulps of an integer (worst margin "
        f"{float((d / np.maximum(thr, 1e-300)).min()):.2f}× the ulp "
        f"threshold) — an engine-libm divergence could flip the floor; "
        f"review the lattice"
    )


def test_lqf_word_lattice_margins(con):
    """line_quality_filter's per-word -ln(c/n_total)·1e9 arguments.
    (The line windows partition each doc's tokens exactly, so corpus
    word counts equal the line-exploded counts.)"""
    df = con.sql(
        f"""
        WITH tl AS (
          SELECT {families.TOKENS_SQL} AS t FROM documents
          WHERE len({families.TOKENS_SQL}) >= 1
        ),
        wx AS (SELECT unnest(t) AS w FROM tl),
        cw0 AS (SELECT w, COUNT(*) AS c FROM wx GROUP BY w),
        tot AS (SELECT SUM(c) AS n_total FROM cw0)
        SELECT CAST(c AS BIGINT) AS c, CAST(n_total AS BIGINT) AS n
        FROM cw0, tot
        """
    ).df()
    y = -np.log(df["c"].to_numpy() / df["n"].to_numpy()) * LAT
    _assert_lattice_margins("line_quality_filter", y)


def test_nb_llr_lattice_margins(con):
    """The NB family's per-word LLR·1e9 arguments (in-sample and the
    train-split holdout variant, plus the OOV constant and the prior)."""
    for label, where in (("insample", ""), ("holdout", "WHERE split = 'train'")):
        df = con.sql(
            f"""
            WITH base AS (
              SELECT doc_id,
                     CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS INT)
                          % 2 AS INT) AS weak_label,
                     CASE WHEN {docops._SPLIT_BUCKET_SQL} < {docops.SPLIT_TRAIN_PERMILLE}
                          THEN 'train' ELSE 'other' END AS split,
                     {families.TOKENS_SQL} AS t
              FROM documents WHERE len({families.TOKENS_SQL}) >= 1
            ),
            tw AS (
              SELECT doc_id, weak_label, split, w, COUNT(*) AS cnt
              FROM (SELECT doc_id, weak_label, split, unnest(t) AS w
                    FROM base)
              GROUP BY 1, 2, 3, 4
            ),
            cw0 AS (
              SELECT w,
                     SUM(CASE WHEN weak_label = 1 THEN cnt ELSE 0 END) AS c1,
                     SUM(CASE WHEN weak_label = 0 THEN cnt ELSE 0 END) AS c0
              FROM tw {where} GROUP BY w
            ),
            stats AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0, COUNT(*) AS v
                      FROM cw0)
            SELECT CAST(c1 AS BIGINT) AS c1, CAST(c0 AS BIGINT) AS c0,
                   CAST(t1 AS BIGINT) AS t1, CAST(t0 AS BIGINT) AS t0,
                   CAST(v AS BIGINT) AS v
            FROM cw0, stats
            """
        ).df()
        a = corpusops.NB_ALPHA
        llr = np.log((df["c1"] + a) / (df["t1"] + df["v"])) - np.log(
            (df["c0"] + a) / (df["t0"] + df["v"])
        )
        # append the OOV constant (c1=c0=0 on the same totals)
        t1, t0, v = df["t1"].iloc[0], df["t0"].iloc[0], df["v"].iloc[0]
        oov = math.log(a / (t1 + v)) - math.log(a / (t0 + v))
        _assert_lattice_margins(
            f"nb_llr[{label}]", np.append(llr.to_numpy(), oov) * LAT
        )


def test_nb_calibration_sigmoid_lattice_margins(con):
    """nb_calibration_audit's floor(sigmoid·1e9) arguments. NB scores
    saturate the sigmoid to exactly 0.0/1.0 for all but near-boundary
    docs (exact values are excluded as safe by _int_margins), so the
    knife-edge population here should be tiny."""
    df = con.sql(
        f"WITH {corpusops._NB_SCORED_CTE_SQL} "
        f"SELECT CAST(score_q AS DOUBLE) AS s FROM nbscored"
    ).df()
    with np.errstate(over="ignore"):
        p = 1.0 / (1.0 + np.exp(-(df["s"].to_numpy() / LAT)))
    _assert_lattice_margins("nb_calibration_audit", p * LAT)


def test_kn_bigram_lattice_margins(con):
    """kn_bigram_perplexity's per-bigram-type ln(p_kn)·1e9 arguments."""
    df = con.sql(
        f"""
        WITH tl AS (
          SELECT doc_id, {families.TOKENS_SQL} AS t FROM documents
          WHERE len({families.TOKENS_SQL}) >= 2
        ),
        big AS (
          SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
          FROM tl
        ),
        cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        hist AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM cb
                 GROUP BY w1),
        cont AS (SELECT w2, COUNT(*) AS n1b FROM cb GROUP BY w2),
        types AS (SELECT COUNT(*) AS n_types FROM cb)
        SELECT CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
               CAST(n1f AS BIGINT) AS n1f, CAST(n1b AS BIGINT) AS n1b,
               CAST(n_types AS BIGINT) AS nt
        FROM cb JOIN hist USING (w1) JOIN cont USING (w2), types
        """
    ).df()
    d = corpusops.KN_DISCOUNT
    p = np.maximum(df["c12"] - d, 0.0) / df["c1"] + d * df["n1f"] / df[
        "c1"
    ] * (df["n1b"] / df["nt"])
    _assert_lattice_margins("kn_bigram_perplexity", np.log(p.to_numpy()) * LAT)


def test_unigram_lattice_margins(con):
    """unigram_lm_learning's final -ln(cnt/t)·1e9 arguments, recovered
    from the oracle's own output (t = Σ cnt of the final count table)."""
    df = con.sql(corpusops.SQL_UNIGRAM_LM_LEARNING).df()
    t = float(df["cnt"].sum())
    y = -np.log(df["cnt"].to_numpy() / t) * LAT
    _assert_lattice_margins("unigram_lm_learning", y)


def test_qlm_lattice_margins(con):
    """qlm_dirichlet_search's two floor-argument families: the hit term
    ln(1 + tf·C/(μ·cf))·1e9 over distinct (tf, cf) pairs and the length
    term ln(μ/(dl+μ))·1e9 over distinct dl."""
    terms = ", ".join(f"'{t}'" for t in sequences.BM25_TERMS)
    df = con.sql(
        f"""
        WITH lens AS (
          SELECT doc_id, CAST(len({families.TOKENS_SQL}) AS BIGINT) AS dl
          FROM documents
        ),
        stats AS (SELECT SUM(dl) AS c_total FROM lens),
        hits AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest({families.TOKENS_SQL}) AS tok FROM documents
          ) WHERE tok IN ({terms}) GROUP BY doc_id, tok
        ),
        cfs AS (SELECT tok, SUM(tf) AS cf FROM hits GROUP BY tok)
        SELECT DISTINCT CAST(h.tf AS BIGINT) AS tf,
               CAST(c.cf AS BIGINT) AS cf,
               CAST(s.c_total AS BIGINT) AS ct
        FROM hits h JOIN cfs c USING (tok), stats s
        """
    ).df()
    hit = np.log(1.0 + df["tf"].to_numpy() * df["ct"].to_numpy()
                 / (corpusops.QLM_MU * df["cf"].to_numpy()))
    dls = con.sql(
        f"SELECT DISTINCT CAST(len({families.TOKENS_SQL}) AS BIGINT) AS dl "
        f"FROM documents"
    ).df()["dl"].to_numpy()
    length = np.log(corpusops.QLM_MU / (dls + float(corpusops.QLM_MU)))
    _assert_lattice_margins(
        "qlm_dirichlet_search", np.concatenate([hit, length]) * LAT
    )


def test_doremi_lattice_margins(con):
    """doremi_domain_weights' per-(source, word) KL-term arguments
    ln(cnt·(G+V)/(n_s·(g+1)))·1e9 and the per-source e^{η·KL}·1e9
    re-quantization."""
    df = con.sql(
        f"""
        WITH tw AS (
          SELECT source, w, COUNT(*) AS cnt
          FROM (SELECT source, unnest({families.TOKENS_SQL}) AS w FROM documents)
          GROUP BY 1, 2
        ),
        gw AS (SELECT w, SUM(cnt) AS g FROM tw GROUP BY w),
        gtot AS (SELECT SUM(g) AS g_total, COUNT(*) AS v_total FROM gw),
        ns AS (SELECT source, SUM(cnt) AS n_s FROM tw GROUP BY source)
        SELECT source, CAST(cnt AS BIGINT) AS cnt, CAST(g AS BIGINT) AS g,
               CAST(n_s AS BIGINT) AS n_s,
               CAST(g_total + v_total AS BIGINT) AS gv
        FROM tw JOIN gw USING (w) JOIN ns USING (source), gtot
        """
    ).df()
    args = np.log(
        df["cnt"].to_numpy() * df["gv"].to_numpy().astype(np.float64)
        / (df["n_s"].to_numpy().astype(np.float64) * (df["g"].to_numpy() + 1))
    )
    _assert_lattice_margins("doremi_domain_weights[kl-terms]", args * LAT)
    lw = np.floor(args * LAT)
    df = df.assign(term=df["cnt"].to_numpy() * lw)
    per = df.groupby("source").agg(kl=("term", "sum"), n_s=("n_s", "max"))
    kl = per["kl"].to_numpy() / (per["n_s"].to_numpy() * LAT)
    _assert_lattice_margins(
        "doremi_domain_weights[exp]", np.exp(corpusops.DOREMI_ETA * kl) * LAT
    )


def test_fellegi_sunter_lattice_margins(con):
    """fellegi_sunter_linkage's six floor-lattice weight constants
    (agree/disagree per comparison field), recomputed from the table
    marginals."""
    vals = []
    for f, m in corpusops.FS_M:
        col = {"nat": "c_nationkey", "seg": "c_mktsegment",
               "bal": f"CAST(FLOOR(c_acctbal / {corpusops.FS_BAL_DIV}) AS BIGINT)"}[f]
        df = con.sql(
            f"""
            WITH g AS (SELECT COUNT(*) AS nv FROM customer GROUP BY {col}),
            a AS (SELECT SUM(nv * (nv - 1)) AS af FROM g),
            n AS (SELECT COUNT(*) AS n FROM customer)
            SELECT CAST(af AS DOUBLE) AS af,
                   CAST(n AS DOUBLE) * (n - 1) AS npairs
            FROM a, n
            """
        ).df()
        af, npairs = float(df["af"][0]), float(df["npairs"][0])
        vals.append(math.log(m * (npairs + 2.0) / (af + 1.0)))
        vals.append(math.log((1.0 - m) * (npairs + 2.0) / (npairs - af + 1.0)))
    _assert_lattice_margins(
        "fellegi_sunter_linkage", np.asarray(vals) * LAT
    )


def test_dunning_and_jsd_lattice_margins(con):
    """The wave-7 keyness/divergence floor arguments: Dunning G²'s four
    O·ln(O·N/(row·col)) terms over the (source, word) contingency and
    JSD's midpoint-ratio lns over the (source-pair, word) grid."""
    df = con.sql(
        f"""
        WITH sw AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
          FROM (SELECT source, unnest({families.TOKENS_SQL}) AS w FROM documents)
          GROUP BY 1, 2
        ),
        gw AS (SELECT w, SUM(a) AS g FROM sw GROUP BY w),
        ns AS (SELECT source, SUM(a) AS n_s FROM sw GROUP BY source),
        tot AS (SELECT SUM(n_s) AS n FROM ns)
        SELECT CAST(a AS BIGINT) AS a, CAST(g AS BIGINT) AS g,
               CAST(n_s AS BIGINT) AS n_s, CAST(n AS BIGINT) AS n
        FROM sw JOIN gw USING (w) JOIN ns USING (source), tot
        """
    ).df()
    a = df["a"].to_numpy(dtype=np.float64)
    g = df["g"].to_numpy(dtype=np.float64)
    ns_ = df["n_s"].to_numpy(dtype=np.float64)
    n = df["n"].to_numpy(dtype=np.float64)
    args = []
    for obs, rt, ct in (
        (a, ns_, g),
        (ns_ - a, ns_, n - g),
        (g - a, n - ns_, g),
        (n - ns_ - g + a, n - ns_, n - g),
    ):
        mask = obs > 0
        args.append(np.log(obs[mask] * n[mask] / (rt[mask] * ct[mask])))
    _assert_lattice_margins(
        "dunning_g2_keyness", np.concatenate(args) * LAT
    )
    # jsd: midpoint ratios over every source pair sharing a word
    df2 = con.sql(
        f"""
        WITH sw AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source, unnest({families.TOKENS_SQL}) AS w FROM documents)
          GROUP BY 1, 2
        ),
        ns AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source)
        SELECT a.c AS ca, CAST(x.n AS BIGINT) AS na,
               COALESCE(b.c, 0) AS cb, CAST(y.n AS BIGINT) AS nb
        FROM sw a JOIN ns x ON x.source = a.source
        JOIN ns y ON y.source > a.source
        LEFT JOIN sw b ON b.source = y.source AND b.w = a.w
        """
    ).df()
    ca = df2["ca"].to_numpy(dtype=np.float64)
    cb = df2["cb"].to_numpy(dtype=np.float64)
    na = df2["na"].to_numpy(dtype=np.float64)
    nb = df2["nb"].to_numpy(dtype=np.float64)
    den = ca * nb + cb * na
    m1 = ca > 0
    argl = np.log(2.0 * ca[m1] * nb[m1] / den[m1])
    m2 = cb > 0
    argr = np.log(2.0 * cb[m2] * na[m2] / den[m2])
    _assert_lattice_margins(
        "jsd_source_divergence", np.concatenate([argl, argr]) * LAT
    )


# ---------------------------------------------------------------------------
# 3. legacy round-boundary margins (window queries only)
# ---------------------------------------------------------------------------


def _strip_lattices(sql: str) -> tuple[str, int]:
    """Replace every ``FLOOR(CAST((expr) AS DOUBLE) * 1eK + 0.5) / 1eK``
    rounding lattice (the r12 rewrite of ROUND(expr, K)) with
    ``(expr)`` — balanced-paren scan, repeated until none remain."""
    total = 0
    marker = "FLOOR(CAST(("
    while True:
        i = sql.find(marker)
        if i < 0:
            break
        start = i + len(marker) - 1  # the '(' opening expr
        depth, j = 0, start
        while True:
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        expr = sql[start + 1 : j]
        m = re.match(
            r"\) AS DOUBLE\) \* 1e(\d+) \+ 0\.5\) / 1e(\d+)", sql[j:]
        )
        if not m or m.group(1) != m.group(2):
            # not a rounding lattice (some other FLOOR(CAST(( shape)
            sql = sql[:i] + "\x00" + sql[i + 1 :]  # mask and continue
            continue
        sql = sql[:i] + "(" + expr + ")" + sql[j + m.end() :]
        total += 1
    sql = sql.replace("\x00", "F")
    return sql, total


def _strip_rounds(sql: str) -> tuple[str, int]:
    """Replace every ROUND(expr, k) call with (expr) (balanced-paren
    scan, outermost-first, repeated until none remain), then every
    r12 floor-rounding lattice the same way."""
    sql, total_lat = _strip_lattices(sql)
    total = total_lat
    while True:
        m = re.search(r"\bROUND\s*\(", sql, re.I)
        if not m:
            return sql, total
        open_paren = m.end() - 1
        depth, j = 0, open_paren
        while True:
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        inner = sql[open_paren + 1 : j]
        depth2, split = 0, None
        for k2, c in enumerate(inner):
            if c == "(":
                depth2 += 1
            elif c == ")":
                depth2 -= 1
            elif c == "," and depth2 == 0:
                split = k2  # last top-level comma wins
        expr = inner[:split] if split is not None else inner
        sql = sql[: m.start()] + "(" + expr + ")" + sql[j + 1 :]
        total += 1


_LEGACY_IN_WINDOW = [
    n
    for n in ROUND12_HEAD
    if TRANSCENDENTAL_REGISTRY.get(n) == "legacy-margin"
]


@pytest.mark.parametrize("name", _LEGACY_IN_WINDOW)
def test_legacy_round_margins(name, con):
    """The verdict's literal check for window queries that still hash
    rounded engine-transcendental doubles: recompute unrounded, assert
    every float output sits > 1e-9 from its 6dp round-half boundary —
    a libm divergence at the observed 1.5e-10 failure scale cannot
    flip the hashed value at this SF."""
    sql, n_rounds = _strip_rounds(registry.ORACLE_SQL[name])
    if n_rounds == 0:
        pytest.skip(f"{name}: oracle has no ROUND — integer-only hash")
    df = con.sql(sql).df()
    worst = None
    for col in df.columns:
        if df[col].dtype != np.float64:
            continue
        x = df[col].to_numpy()
        x = x[np.isfinite(x)]
        if x.size == 0:
            continue
        y = x * 1e6
        frac = y - np.floor(y)
        margin = np.abs(frac - 0.5).min() * 1e-6
        if worst is None or margin < worst[0]:
            worst = (margin, col)
    if worst is None:
        pytest.skip(f"{name}: no float outputs after unrounding")
    assert worst[0] > 1e-9, (
        f"{name}.{worst[1]}: unrounded value sits {worst[0]:.3e} from "
        f"its round-6dp boundary — thinner than the engine-libm "
        f"divergence scale; lattice this surface before it stamps"
    )
