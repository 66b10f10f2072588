"""Deduplication operators for large-scale document corpora.

Four families, all shuffle-conscious:

- **Exact**: hash-groupBy on a normalized md5 fingerprint. One shuffle
  on a high-cardinality uniform key — the optimal plan at any scale.
- **MinHash + LSH**: shingle → k minhashes → band buckets → candidate
  pairs via self-join on (band, bucket). The join key is the band
  bucket, so only near-duplicates ever meet in a shuffle partition;
  brute-force O(n²) never happens.
- **SimHash**: 64-bit signature via per-token hash bit-voting; near-dup
  = small Hamming distance within LSH-style prefix buckets.
- **N-gram Jaccard**: exact verification on candidate pairs only.

Hashes are explicit arithmetic over md5 (bit-identical across engines)
rather than Spark's `hash()` (Murmur3, engine-specific) so the DuckDB
oracle can reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..functions.text import fingerprint, token_hash, tokens

# fixed affine-permutation constants for minhash: h_i(x) = (a_i*x + b_i) mod P
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — small odd multipliers, fixed seeds.
    No RNG: the oracle SQL embeds the same constants."""
    return [((2 * i + 1) * 2654435761 % MINHASH_PRIME, (i * 40503 + 7) % MINHASH_PRIME)
            for i in range(k)]


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (space-joined token windows)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_from_shingles(sh: Column, k: int = 16) -> Column:
    """Array of k minhash values over a precomputed distinct shingle
    array — pure column expression (transform + aggregate), no UDF.

    Single-pass shape: ONE aggregate over the md5 hash array with a
    k-wide running-min accumulator, the per-element step mapping each
    hash through all k affine permutations via zip_with over a constant
    (a, b) struct array. The earlier form built k independent
    aggregate trees, each containing the `hashes` subtree — and
    higher-order functions evaluate interpreted (no codegen CSE), so
    every shingle was md5-hashed k times per row. This computes each
    shingle's md5 exactly once; the k-permutation arithmetic (integer
    mul/add/mod on a lambda variable) is the only per-k work.
    """
    # reduce mod P before multiplying: (h % P) * a < 2^62 — no int64
    # overflow (Spark 4 runs ANSI mode, overflow would raise)
    hashes = F.transform(sh, lambda s: token_hash(s) % F.lit(MINHASH_PRIME))
    params = F.array(
        *[
            F.struct(
                F.lit(a).cast("bigint").alias("a"),
                F.lit(b).cast("bigint").alias("b"),
            )
            for a, b in minhash_params(k)
        ]
    )
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("bigint"), k)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m, (h * p["a"] + p["b"]) % F.lit(MINHASH_PRIME)
            ),
        ),
    )


def minhash_signature(text: Column, k: int = 16, shingle_n: int = 3) -> Column:
    """Minhash signature straight from text (one-shot convenience)."""
    return minhash_from_shingles(F.array_distinct(shingles(text, shingle_n)), k)


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per normalized-text group."""
    fp = df.withColumn("_fp", fingerprint(F.col(text_col)))
    w = fp.groupBy("_fp").agg(F.min("doc_id").alias("keep_id"))
    # broadcast-free: both sides shuffle on _fp (high-cardinality key)
    return (
        fp.join(w, "_fp")
        .where(F.col("doc_id") == F.col("keep_id"))
        .drop("_fp", "keep_id")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Histogram of duplicate-group sizes (the dedup audit query)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("group_size"))
        .groupBy("group_size")
        .agg(F.count("*").alias("n_groups"))
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, distinct shingle array) — the shared input of minhash
    signatures AND exact Jaccard verification. Compute once, reuse."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("shingle_set"),
    )


def band_buckets(
    sig_df: DataFrame, k: int, bands: int, carry: list[str] | None = None
) -> DataFrame:
    """Explode an (id, sig) signature table into the banded LSH keying
    (id, band, bucket): rows_per_band consecutive minhashes concatenated
    per band. The one place the band layout is defined — candidate
    generation and incremental index probes must agree on it.
    ``carry`` columns ride along unchanged (the incremental probe
    carries shingle_set so verification happens inside the band join
    instead of re-joining the corpus index per side)."""
    rows_per_band = k // bands
    return sig_df.select(
        "id",
        *(carry or []),
        F.posexplode(
            F.array(*[
                F.concat_ws(
                    ",",
                    *[F.element_at("sig", b * rows_per_band + r + 1)
                      for r in range(rows_per_band)],
                )
                for b in range(bands)
            ])
        ).alias("band", "bucket"),
    )


def build_dedup_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Materializable near-dup index: (id, shingle_set, sig). Write this
    once for the standing corpus; `incremental_near_dup_pairs` then
    prices new-batch dedup at O(batch), not O(corpus)."""
    base = shingle_sets(df, id_col, text_col, shingle_n)
    return base.withColumn("sig", minhash_from_shingles(F.col("shingle_set"), k))


def incremental_near_dup_pairs(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    new_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental LSH index maintenance: given the standing corpus's
    materialized index (from ``build_dedup_index``) and a NEW document
    batch, return (near-dup pairs involving ≥1 new doc, updated index).

    ``new_index`` lets a caller that already materialized the batch's
    index rows (the streaming sink persists them for its delta commit)
    pass them in instead of re-deriving them from ``new_docs``; it must
    be exactly ``build_dedup_index(new_docs, ...)`` with matching k and
    shingle_n, already persisted/checkpointed by the caller. In that
    mode the standing index is assumed parquet-backed (reading it is
    cheaper than caching it), so the union is NOT persisted — each
    consumer re-scans the materialized segments with column pruning
    (sig for the band join, shingle_set for the verify) instead of
    pinning an O(corpus) cache per ingest batch.

    The standing corpus is NEVER re-shingled, re-signed, or self-joined:
    only the new batch's signatures are computed, and the band join
    probes the index solely on buckets the batch actually touches (the
    batch side of the join is small → AQE broadcasts it). At 100 TB
    this is the difference between re-running corpus-wide dedup per
    ingest and paying for the ingest alone. Pair ids are normalized
    (id_a < id_b) and verified by exact Jaccard, identical semantics to
    ``near_dup_pairs`` restricted to pairs touching the batch.
    """
    caller_cached = new_index is not None
    if new_index is None:
        new_index = track(
            build_dedup_index(new_docs, id_col, text_col, k, shingle_n).persist()
        )
    # the UPDATED index feeds both the band join and the Jaccard
    # verification; when the standing index is derived in-session,
    # persist the union so its shingle/signature expressions evaluate
    # once, not per consumer. When the caller passed a materialized
    # new_index (the streaming sink maintains BOTH sides as persisted
    # DataFrames across micro-batches), re-persisting the union would
    # re-copy the whole corpus cache every ingest batch — the lazy
    # union reads the already-cached parents instead.
    updated = index.unionByName(new_index)
    if not caller_cached:
        updated = track(updated.persist())

    # Shingle sets ride through the explode on the NEW side only
    # (batch-bounded — the corpus side explodes (id, sig) alone, never
    # its shingle arrays x bands); the corpus partner's shingle set
    # joins back ONCE against the persisted union. Keeping the pair in
    # (new, other) orientation until after verification is what makes
    # the single join-back sufficient — least/greatest normalization
    # happens on the verified output.
    new_banded = band_buckets(
        new_index.select("id", "sig", "shingle_set"), k, bands,
        carry=["shingle_set"],
    )
    all_banded = band_buckets(updated.select("id", "sig"), k, bands)
    cands = (
        new_banded.alias("n")
        .join(
            all_banded.alias("a"),
            (F.col("n.band") == F.col("a.band"))
            & (F.col("n.bucket") == F.col("a.bucket"))
            & (F.col("n.id") != F.col("a.id")),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("n.shingle_set").alias("ss_new"),
            F.col("a.id").alias("other_id"),
        )
    )
    # no dedup here: a pair matching in several bands verifies up to
    # ``bands`` times (cheap array ops on an already-small candidate
    # set) and collapses in the one keyed dropDuplicates below — one
    # shuffle instead of two
    other = updated.select(
        F.col("id").alias("other_id"), F.col("shingle_set").alias("ss_other")
    )
    jaccard = (
        F.size(F.array_intersect("ss_new", "ss_other")).cast("double")
        / F.nullif(
            F.size(F.array_union("ss_new", "ss_other")).cast("double"),
            F.lit(0.0),
        )
    )
    pairs = (
        cands.join(other, "other_id")
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select(
            F.least("new_id", "other_id").alias("id_a"),
            F.greatest("new_id", "other_id").alias("id_b"),
            "jaccard",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs, updated


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_df: DataFrame | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    rows = k/bands minhashes per band; docs sharing any full band land
    in the same bucket. The self-join shuffles on (band, bucket) —
    bucket cardinality grows with corpus size, so partitions stay small
    at 100 TB. Returns distinct (id_a < id_b) candidate pairs.
    """
    base = (shingle_df if shingle_df is not None
            else shingle_sets(df, id_col, text_col, shingle_n))
    sig = base.select(
        "id", minhash_from_shingles(F.col("shingle_set"), k).alias("sig")
    )
    banded = band_buckets(sig, k, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard — the standard
    generate-then-verify near-dup pipeline.

    Shingle sets are computed ONCE and persisted; signatures, the band
    join and the verification all reuse them (the naive form recomputes
    the shingle expression per join side, which multiplies both runtime
    and codegen cost). At scale the persisted set df is O(corpus
    tokens) but streams from disk; the band join only ever shuffles
    (id, band, bucket) tuples.

    ``shingle_df`` (r15): a caller that ALSO needs the shingle sets —
    near_dup_audit's exact ground-truth side shares the identical
    substrate — passes its own (id, shingle_set) frame (must be exactly
    ``shingle_sets(df, id_col, text_col, shingle_n)``, extra columns
    ignored, already persisted by the caller) so the corpus is shingled
    once per query instead of once per consumer."""
    base = (shingle_df.select("id", "shingle_set")
            if shingle_df is not None
            else track(shingle_sets(df, id_col, text_col, shingle_n).persist()))
    cands = minhash_lsh_candidates(df, id_col, text_col, k, bands, shingle_df=base)
    a = base.select(F.col("id").alias("id_a"), F.col("shingle_set").alias("ss_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("shingle_set").alias("ss_b"))
    pairs = cands.join(a, "id_a").join(b, "id_b")
    jaccard = (
        F.size(F.array_intersect("ss_a", "ss_b")).cast("double")
        / F.nullif(F.size(F.array_union("ss_a", "ss_b")).cast("double"), F.lit(0.0))
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.8,
    shingle_n: int = 3,
    sample_frac: float | None = None,
    max_block_docs: int | None = None,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard dedup with cheap blocking (no LSH): all
    pairs *within a blocking key* are verified, so recall is total
    inside a block and zero across blocks. Complements MinHash-LSH
    (probabilistic recall, no blocking assumption).

    ``shingle_df`` (r15): a precomputed, persisted (id, *block_cols,
    shingle_set) substrate — must be exactly the aliased id, the block
    columns, and ``array_distinct(shingles(text, shingle_n))``. Lets
    near_dup_audit share ONE shingle computation between its LSH and
    exact sides instead of re-shingling the corpus per consumer (and,
    unpersisted, once per self-join side).

    The self-join shuffles on the blocking key — pick keys whose group
    sizes stay bounded as the corpus grows (language alone is fine for
    a demo corpus; at 100 TB compose with a coarse length bucket or a
    cheap content prefix so per-block pair counts stay quadratic in a
    SMALL group, never in the corpus).

    ``sample_frac`` is the 100 TB audit procedure: a DETERMINISTIC
    per-document md5 threshold (operators/sampling.py:hash_bucket — no
    RNG, so reruns audit the identical stratum, permille granularity)
    keeps that fraction of each block's documents BEFORE the self-join,
    cutting pair cost by sample_frac² per block while the surviving
    pairs remain exact ground truth for recall estimation on the
    sampled stratum. None (the default) keeps the audit exhaustive —
    right for oracle-checked test corpora, quadratically wrong at
    production scale.

    ``max_block_docs`` is the audit's scale CONTRACT: the within-block
    pair join is Σ|block|² and nothing else bounds |block|, so when set
    the function verifies every surviving block (after sampling) holds
    at most that many documents — a cheap pre-aggregation over (id,
    block key), no text — and raises before launching the quadratic
    join otherwise, telling the operator to tighten ``block_cols`` or
    pass ``sample_frac``. Failing fast here costs one metadata-sized
    job; failing slow costs a corpus-squared shuffle.
    """
    if shingle_df is not None:
        base = shingle_df.select(
            "id",
            *[F.col(c) for c in block_cols],
            F.col("shingle_set").alias("ss"),
        )
    else:
        base = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in block_cols],
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("ss"),
        )
    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
        from .sampling import HASH_BUCKETS, hash_bucket

        base = base.where(
            hash_bucket(F.col("id"), "jaccard_audit")
            < F.lit(int(round(sample_frac * HASH_BUCKETS)))
        )
    if max_block_docs is not None:
        oversized = (
            base.groupBy(*[F.col(c) for c in block_cols])
            .agg(F.count("*").alias("n_docs"))
            .where(F.col("n_docs") > max_block_docs)
            .limit(5)
            .collect()
        )
        if oversized:
            worst = ", ".join(
                f"{tuple(r[c] for c in block_cols)}={r['n_docs']}"
                for r in oversized
            )
            raise ValueError(
                f"blocked_jaccard_pairs: block(s) exceed max_block_docs="
                f"{max_block_docs} ({worst}...): the within-block pair join "
                f"would be quadratic in an unbounded group — add a finer "
                f"blocking column or pass sample_frac to audit a "
                f"deterministic stratum"
            )
    a = base.select(
        F.col("id").alias("id_a"), *block_cols, F.col("ss").alias("ss_a")
    )
    b = base.select(
        F.col("id").alias("id_b"), *block_cols, F.col("ss").alias("ss_b")
    )
    jaccard = (
        F.size(F.array_intersect("ss_a", "ss_b")).cast("double")
        / F.nullif(F.size(F.array_union("ss_a", "ss_b")).cast("double"), F.lit(0.0))
    )
    return (
        a.join(b, list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash signature: per-token 53-bit hash, bit-vote per position,
    sign of the vote → signature bit. Pure expressions; `bits`≤53.

    Single-pass shape: ONE aggregate over the token hash array with a
    `bits`-wide vote-count accumulator; each element's step maps the
    hash through all bit positions via zip_with against a constant
    mask array (shiftright needs a literal shift in the DataFrame API,
    so the bit test is `h & mask != 0`, and the final signature adds
    the mask itself — 2^i — for every positive vote). The earlier form
    built `bits` independent aggregate trees each embedding the
    token-md5 subtree; higher-order functions evaluate interpreted (no
    codegen CSE), so every token was md5-hashed `bits` times per row.
    """
    toks = F.array_distinct(tokens(text))
    hashes = F.transform(toks, token_hash)
    masks = F.array(
        *[F.lit(1 << i).cast("bigint") for i in range(bits)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
