"""Text-analysis column expressions: tokenization, language-ID
heuristic, quality scoring, fingerprinting.

Every function here is a pure ``pyspark.sql.functions`` expression —
JVM-side, vectorized, codegen-friendly. Each also has an exact ANSI-SQL
mirror used by the DuckDB oracle (see the ``queries/`` modules), so the
semantics are pinned down to the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic. Space-padded so occurrence counting is
#: word-boundary-exact with plain `replace` (mirrorable in ANSI SQL).
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " y "],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def occurrence_count(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring, computed
    as (len(s) - len(replace(s, needle, ''))) / len(needle) — the form
    chosen because `replace` has identical semantics in Spark and ANSI
    SQL engines."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("bigint")


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-marker hit counts per language over ' '-padded text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(
            (occurrence_count(padded, m) for m in markers), F.lit(0).cast("bigint")
        )
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang(text: Column) -> Column:
    """Argmax over lang_scores with a fixed tie-break order
    (en > de > fr > es > unknown when all zero)."""
    s = lang_scores(text)
    best_nonzero = (
        (s["en"] > 0) | (s["de"] > 0) | (s["fr"] > 0) | (s["es"] > 0)
    )
    return (
        F.when(~best_nonzero, F.lit("unknown"))
        .when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


def alpha_ratio(text: Column) -> Column:
    """Fraction of [A-Za-z] characters; blank → NULL."""
    stripped = F.regexp_replace(text, "[A-Za-z]", "")
    return (F.length(text) - F.length(stripped)) / F.nullif(
        F.length(text).cast("double"), F.lit(0.0)
    )


def punct_ratio(text: Column) -> Column:
    kept = F.regexp_replace(text, r"[^.,;:!?'\"()-]", "")
    return F.length(kept) / F.nullif(F.length(text).cast("double"), F.lit(0.0))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards alphabetic content
    and mid-length tokens, penalizes punctuation soup. Deterministic
    arithmetic, mirrored 1:1 in the oracle SQL."""
    a = F.coalesce(alpha_ratio(text), F.lit(0.0))
    p = F.coalesce(punct_ratio(text), F.lit(0.0))
    tl = F.coalesce(avg_token_len(text), F.lit(0.0))
    len_term = F.least(token_count(text).cast("double") / F.lit(100.0), F.lit(1.0))
    tok_term = F.when((tl >= 3) & (tl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return (
        F.lit(0.4) * a + F.lit(0.3) * len_term + F.lit(0.2) * tok_term
        - F.lit(0.1) * p
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. Stable across engines (md5
    is bit-identical everywhere) — the exact-dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def token_hash(tok: Column) -> Column:
    """Portable 53-bit token hash: first 13 hex chars of md5 → bigint.
    `conv(hex, 16, 10)` in Spark == `CAST('0x'||hex AS BIGINT)`-style in
    DuckDB; 13 hex digits keeps it exactly representable everywhere."""
    return F.conv(F.substring(F.md5(tok), 1, 13), 16, 10).cast("bigint")


# polynomial rolling-hash constants — mirrored verbatim in the oracle SQL
ROLL_BASE = 31
ROLL_MOD = 2_147_483_647  # 2^31 - 1: acc*31 + x < 2^36, no int64 overflow


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over the token-hash sequence, ``h = (h*B + t_i) mod M``. Unlike the
    md5 fingerprint it is incrementally computable over a token stream
    and cheap to band into buckets; a pure fold expression (no UDF), so
    it stays inside codegen. Empty text → 0."""
    hashes = F.transform(tokens(text), lambda t: token_hash(t) % F.lit(ROLL_MOD))
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * ROLL_BASE + x) % ROLL_MOD,
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single non-space
#: symbols — the GPT-2-style split classes, portable between Java regex
#: and RE2 (no lookarounds, no \p classes).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text)).cast("bigint")
