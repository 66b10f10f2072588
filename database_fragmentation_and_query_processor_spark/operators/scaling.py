"""Physical-parallelism operators: the two places where a plan that is
correct at any scale is *slow* at one of them.

``stable_row_number``
    The reference's round-robin assignment needs a deterministic global
    row number (row k → fragment k mod n, Interface1.py:169-174). The
    naive Spark translation — ``row_number() OVER (ORDER BY keys)`` with
    no PARTITION BY — sorts the whole relation in ONE task: correct at
    60k rows, dead at 100 TB. This operator computes the identical
    numbering with bounded per-task work: deterministically range-bucket
    on the leading key, count per bucket (tiny aggregate), turn counts
    into bucket offsets, then number within buckets in parallel. An
    input whose plan is one file scan split, under narrow operators
    only, already runs as one task: there the naive window costs nothing
    more, and the buckets' pre-pass, exchanges and broadcast would be
    pure fixed cost, so the operator numbers it with the window.

``widen``
    A 600 KB parquet file scans as a single split, so CPU-heavy per-row
    work downstream (shingling, minhash, hashing) runs on ONE core. On a
    real cluster the same table is thousands of splits and no reshuffle
    is wanted — so widening must be conditional: only repartition when
    the scan is narrower than the session's parallelism. Hash-partition
    on a provided key so the placement stays deterministic.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _reject_reserved(df: DataFrame, names: tuple[str, ...]) -> None:
    """These operators inject temporary columns mid-plan; an input
    frame already carrying one would alias-collide into ambiguous
    references or a wrong join condition (r14 ADVICE) — fail loudly."""
    clash = [c for c in df.columns if c in names]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with reserved temporaries "
            f"{list(names)}; rename them before calling"
        )


def scan_tasks(df: DataFrame) -> int | None:
    """The tasks ``df`` runs in when its physical plan is one file scan
    under narrow operators (no exchange), else None. Read from the plan
    and the file listing, without a job: Spark packs small files into,
    and cuts large ones at, splits of min(maxPartitionBytes,
    max(openCostInBytes, bytes / defaultParallelism)), so a multi-file
    input or one larger than a split counts more than one."""
    nodes, leaves = [df._jdf.queryExecution().executedPlan()], []
    while nodes:
        node = nodes.pop()
        name = node.getClass().getSimpleName()
        # an adaptive plan is a leaf that wraps its exchanges
        if "Exchange" in name or name == "AdaptiveSparkPlanExec":
            return None
        kids = node.children()
        if kids.isEmpty():
            leaves.append(name)
            scan = node
        nodes.extend(kids.apply(i) for i in range(kids.length()))
    if leaves != ["FileSourceScanExec"]:
        return None
    return scan.inputRDD().getNumPartitions()


def stable_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    n_buckets: int | None = None,
) -> DataFrame:
    """0-based global row number by ``order_cols`` without a global sort.

    Equivalent to ``ROW_NUMBER() OVER (ORDER BY order_cols) - 1`` when
    ``order_cols`` form a unique key; null leading keys come first, as
    in the window. An input that runs as one scan task
    (``scan_tasks``) is numbered by that window inside its task
    (``coalesce(1)``: no exchange, no pre-pass). Any other input gets
    one eager *narrow* pre-pass (min/max of the leading key —
    column-pruned scan), then ONE lazy plan: per-bucket counts →
    in-plan exclusive bases (bounded explode fan-out, broadcast-joined
    back) → a parallel window partitioned by bucket. Buckets are
    computed from fixed arithmetic on the leading key, so the
    assignment is deterministic across jobs and re-executions (a
    data-sampled ``repartitionByRange`` would not be). The path taken
    is logged at INFO.

    Reserved column names (r14 ADVICE): the plan temporarily injects
    ``_bk``, ``_rn_c``, ``_rn_tb``, ``_rn_base`` into the caller's
    frame; an input already carrying one of these would alias-collide,
    so it is rejected loudly here.
    """
    _reject_reserved(df, ("_bk", "_rn_c", "_rn_tb", "_rn_base"))
    tasks = scan_tasks(df)
    if tasks is not None and tasks <= 1:
        log.info("row numbering by %s: one window inside the input's one "
                 "scan task", order_cols)
        return df.coalesce(1).withColumn(
            out_col,
            (F.row_number().over(Window.orderBy(*order_cols)) - 1).cast("bigint"),
        )
    spark = df.sparkSession
    n = n_buckets or spark.sparkContext.defaultParallelism
    lead = order_cols[0]
    why = "not one file scan" if tasks is None else f"{tasks} scan tasks"
    log.info("row numbering by %s: %d buckets (input: %s)", order_cols, n, why)

    lo, hi = df.agg(F.min(lead), F.max(lead)).head()
    if lo is None:  # no rows, or only null leading keys: one bucket
        lo = hi = 0
    span = max(int(hi) - int(lo) + 1, 1)
    width = -(-span // n)  # ceil — last bucket absorbs the remainder
    # null leads join the first bucket, whose window sorts them first
    bucket = F.when(F.col(lead).isNull(), F.lit(0)).otherwise(F.least(
        F.floor((F.col(lead).cast("bigint") - F.lit(int(lo))) / F.lit(width)),
        F.lit(n - 1),
    )).cast("int")

    b = df.withColumn("_bk", bucket)
    # Bucket base offsets computed IN-PLAN (r14 optimization): the
    # per-bucket counts stay a bounded relation (≤ n_buckets rows);
    # each bucket's count fans out to every LATER bucket (explode over
    # the bucket id range — ≤ n_buckets²/2 rows, data-size-independent)
    # and a keyed aggregate sums them into exclusive bases, which
    # re-attach via a broadcast LEFT join (the first bucket has no
    # predecessors → coalesce 0). Replaces the former bounded driver
    # collect + create_map literal: one blocking driver round trip less
    # per call, no single-task stage anywhere, and the whole numbering
    # is ONE lazy plan instead of prep-job + final job.
    counts = b.groupBy("_bk").agg(F.count("*").alias("_rn_c"))
    fan = counts.where(F.col("_bk") < n - 1).select(
        F.explode(F.sequence(F.col("_bk") + 1, F.lit(n - 1))).alias("_rn_tb"),
        "_rn_c",
    )
    offs = fan.groupBy("_rn_tb").agg(
        F.sum("_rn_c").cast("bigint").alias("_rn_base")
    )

    w = Window.partitionBy("_bk").orderBy(*order_cols)
    return (
        b.join(F.broadcast(offs), F.col("_bk") == F.col("_rn_tb"), "left")
        .withColumn(
            out_col,
            (
                F.row_number().over(w) - 1
                + F.coalesce(F.col("_rn_base"), F.lit(0))
            ).cast("bigint"),
        )
        .drop("_bk", "_rn_tb", "_rn_base")
    )


def stable_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "psum",
    n_buckets: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running sum of ``value_col`` by ``order_cols`` (within
    ``group_cols`` if given) without a global sort — the distributed
    prefix-sum primitive sequence packing and offset assignment need.

    Equivalent to ``COALESCE(SUM(v) OVER (PARTITION BY g ORDER BY o
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)`` when
    ``order_cols`` form a unique key — but the naive window sorts each
    whole group in ONE task (a handful of languages over 100 TB = a
    handful of tasks). Same two-phase shape as ``stable_row_number``:
    deterministic range-bucket on the leading order key, per
    (group, bucket) partial sums (tiny aggregate, bounded by
    #groups × #buckets), in-plan exclusive bucket bases (bounded explode
    fan-out, broadcast-joined back), then an in-bucket window runs in
    parallel — one eager pre-pass (min/max + null check), one lazy plan.

    The leading order column must be non-null (a null has no range
    bucket; rejected loudly here rather than crashing later). Null
    GROUP values are supported: the base re-attachment join is
    null-SAFE on the group columns, so a null group gets its own
    correct running sum.

    Reserved column names (r14 ADVICE): the plan temporarily injects
    ``_bk``, ``_ps_s``, ``_ps_tb``, ``_ps_base`` and ``_ps_g<i>`` (one
    per group column) into the caller's frame; inputs carrying any of
    these are rejected loudly.
    """
    _reject_reserved(
        df,
        ("_bk", "_ps_s", "_ps_tb", "_ps_base")
        + tuple(f"_ps_g{i}" for i in range(len(group_cols or []))),
    )
    spark = df.sparkSession
    n = n_buckets or spark.sparkContext.defaultParallelism
    gcols = list(group_cols or [])
    lead = order_cols[0]

    lo_hi = df.agg(
        F.min(lead).alias("lo"),
        F.max(lead).alias("hi"),
        F.count("*").alias("n_all"),
        F.count(lead).alias("n_lead"),
    ).head()
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    if lo_hi["n_lead"] < lo_hi["n_all"]:
        raise ValueError(
            f"stable_prefix_sum: leading order column {lead!r} contains "
            f"{lo_hi['n_all'] - lo_hi['n_lead']} null(s); a null has no "
            "position in the range-bucket order — filter or sentinel it "
            "before calling"
        )
    if lo is None:  # empty input
        return df.withColumn(out_col, F.lit(0).cast("bigint"))
    span = max(int(hi) - int(lo) + 1, 1)
    width = -(-span // n)
    bucket = F.least(
        F.floor((F.col(lead).cast("bigint") - F.lit(int(lo))) / F.lit(width)),
        F.lit(n - 1),
    ).cast("int")

    b = df.withColumn("_bk", bucket)
    # Bucket base offsets computed IN-PLAN (r14 optimization): the
    # per-(group, bucket) partial sums stay a bounded relation
    # (≤ #groups × n_buckets rows); each bucket's partial fans out to
    # every LATER bucket of its group (explode over the bucket id range
    # — ≤ #groups × n_buckets²/2 rows, data-size-independent) and a
    # keyed aggregate sums them into exclusive bases, which re-attach
    # via a broadcast LEFT join keyed null-SAFE on the group columns (a
    # null group is a legal group of its own — plain equi-join keys
    # would drop it; a group's first bucket has no predecessors →
    # coalesce 0). Replaces the former bounded driver collect +
    # create_map literal: one blocking driver round trip less per call,
    # no single-task stage anywhere, and no groups×buckets-sized literal
    # map in the plan (which codegen re-scans per row at scale).
    partials = b.groupBy(*gcols, "_bk").agg(
        F.sum(F.col(value_col).cast("bigint")).alias("_ps_s")
    )
    fan = partials.where(F.col("_bk") < n - 1).select(
        *[F.col(c).alias(f"_ps_g{i}") for i, c in enumerate(gcols)],
        F.explode(F.sequence(F.col("_bk") + 1, F.lit(n - 1))).alias("_ps_tb"),
        "_ps_s",
    )
    offs = fan.groupBy(
        *[F.col(f"_ps_g{i}") for i in range(len(gcols))], "_ps_tb"
    ).agg(F.sum("_ps_s").cast("bigint").alias("_ps_base"))
    cond = F.col("_bk") == F.col("_ps_tb")
    for i, c in enumerate(gcols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_ps_g{i}"))

    w = (
        Window.partitionBy(*gcols, "_bk")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_bucket = F.coalesce(
        F.sum(F.col(value_col).cast("bigint")).over(w), F.lit(0)
    )
    return (
        b.join(F.broadcast(offs), cond, "left")
        .withColumn(
            out_col,
            (in_bucket + F.coalesce(F.col("_ps_base"), F.lit(0)))
            .cast("bigint"),
        )
        .drop(
            "_bk", "_ps_tb", "_ps_base",
            *[f"_ps_g{i}" for i in range(len(gcols))],
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: a content-derived salt fans each hot
    key of the big side across ``n_salts`` shuffle partitions; the
    small side is replicated once per salt. Result is row-identical to
    ``big.join(small, key, how)`` — only the shuffle distribution
    changes. For when one key holds a double-digit percentage of a
    100 TB fact table and AQE's skew split (which this engine also
    enables) isn't enough. ``how``: inner or left (big side preserved
    exactly once per row).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left only")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)
    ).cast("int")
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, [key, "_salt"], how).drop("_salt")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, "F.Column"],
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe two-phase aggregate for algebraic measures (COUNT/SUM).

    Phase 1 groups by ``keys + salt`` (a content-derived salt fans each
    hot key across ``n_salts`` reducers), phase 2 merges the partials by
    ``keys`` alone — at most ``n_salts`` tiny rows per key. Map-side
    partial aggregation already bounds reducer input by (#map tasks ×
    #keys); the salt matters when a single key's partials still
    concentrate on one reducer at 100 TB (millions of map tasks).
    Result is row-identical to ``df.groupBy(keys).agg(...)``.

    ``sums`` maps output column name → a SUM-remergeable aggregate
    expression (e.g. ``F.sum(col.cast("decimal(18,6)"))``); a
    ``n_rows`` count is always included.
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)
    ).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.count("*").alias("_pn"),
            *[expr.alias(f"_p_{name}") for name, expr in sums.items()],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("_pn").cast("bigint").alias("n_rows"),
        *[F.sum(f"_p_{name}").alias(name) for name in sums],
    )


#: Per-bucket bigint budget for :func:`exact_group_sums` — 2^61 leaves
#: 4x headroom under the 2^63 wrap. The residual hard-bound term
#: (#scan-partitions extra rows per bucket, see docstring) then needs
#: #partitions x max|term| <= 2^61: at 1e12-magnitude terms that is
#: 2.3M partitions, far beyond any deployed topology.
EXACT_SUM_BUDGET = 1 << 61

#: Floor on the per-bucket row budget below which the binomial-tail
#: sizing argument collapses (small mean load ⇒ a 4x-mean bucket is a
#: routine Poisson fluctuation, not a 1e-15 tail — e.g. max|term| =
#: 2^60 gives bucket_rows = 2, where P(load ≥ 8) ≈ 1e-3 PER BUCKET).
#: Terms this large route to the exact per-term DECIMAL(38,0) path
#: instead: slower (~10x, measured round 7) but unconditionally exact.
EXACT_SUM_MIN_BUCKET_ROWS = 1 << 16


def exact_group_sums(
    df: DataFrame,
    keys: list[str],
    terms: dict[str, "F.Column"],
    n_rows: int,
    max_abs_term: int,
) -> DataFrame:
    """Exact, overflow-free SUM of bigint term expressions by ``keys``.

    A single bigint SUM silently wraps (non-ANSI Spark) or raises
    ARITHMETIC_OVERFLOW (ANSI) once a group accumulates ~2^63 /
    max|term| rows — at EMB_Q_SCALE quantization (terms up to 1e12)
    that is ~9.2M rows, a correctness ceiling a 100 TB corpus sails
    past. Per-term DECIMAL(38,0) accumulation is exact but ~10x slower
    (measured round 7: the same corpus x d^2 fan-out ran 14-21s with
    decimal terms vs 1.5s with bigint sums). This two-phase shape gets
    both:

    - phase 1 sums BIGINT per (keys, salt bucket), where the bucket
      fan-out is sized at runtime from a mean-load budget:
      ``bucket_rows = 2^61 // max_abs_term`` and ``n_salts =
      ceil(n_rows / bucket_rows)``;
    - phase 2 merges the <= n_salts bounded partials per key as
      DECIMAL(38,0) (a small aggregate: <= #keys x n_salts rows).

    The salt is ``pmod(xxhash64(monotonically_increasing_id()),
    n_salts)`` materialized as a column. Hashing the id matters: the
    raw id is consecutive, and a key recurring at a fixed stride (the
    posexplode pattern — the same dim index every d rows) would land
    on only gcd-many salt values, concentrating one key's rows onto
    few buckets. The hash decorrelates stride from bucket, so a key
    group of g rows loads each of its n_salts buckets Binomial(g,
    1/n_salts) with mean <= bucket_rows.

    The overflow guarantee is PROBABILISTIC, not absolute: the 2^61
    budget leaves 4x headroom under the 2^63 wrap, so a bucket partial
    overflows only at >= 4x its mean load — a Chernoff tail of order
    exp(-Theta(mean)). That bound is astronomically small ONLY when
    the mean is large; for huge terms ``bucket_rows`` collapses (e.g.
    max|term| = 2^60 gives bucket_rows = 2, where a 4x-mean bucket is
    a ~1e-3-per-bucket event). :data:`EXACT_SUM_MIN_BUCKET_ROWS`
    enforces the large-mean assumption: when ``2^61 // max_abs_term``
    falls below 2^16, the salted shape is abandoned for a per-term
    DECIMAL(38,0) accumulation — unconditionally exact, ~10x slower,
    and acceptable precisely because such callers are summing few-row
    frames of astronomical terms, not corpus-scale quantized products.

    Stage-retry caveat (the SPARK-23207 class): the salt is
    NONDETERMINISTIC, so if a shuffle-fetch failure forces PARTIAL
    recompute of phase-1 map tasks, the recomputed rows can take
    different salts than the already-consumed originals — Spark must
    roll the whole stage back (it marks indeterminate output) or rows
    could be double-counted/dropped. Partition-invariance of integer
    sums covers WHERE a row lands, not a row landing twice. The
    repo's tripwire: every consumer's DuckDB oracle hash-check plus
    the ``n_rows``-vs-deterministic-``count()`` comparison in
    ``tests/test_scale_ops.py`` would surface a retry-induced
    miscount; where row identity exists, a content-derived salt (see
    :func:`salted_aggregate`) avoids the hazard entirely and is the
    preferred shape.

    ``n_rows`` must upper-bound the LARGEST KEY GROUP (not the frame —
    overestimating only raises the fan-out); ``max_abs_term`` must
    bound |term| for EVERY term expression. Result is row-identical to
    ``df.groupBy(keys).agg(count(*), F.sum(term)...)`` computed in
    unbounded integer arithmetic, with a bigint ``n_rows`` count and
    DECIMAL(38,0) sums named by the ``terms`` keys.
    """
    bucket_rows = EXACT_SUM_BUDGET // max(1, int(max_abs_term))
    if bucket_rows < EXACT_SUM_MIN_BUCKET_ROWS:
        proj = df.select(
            *[F.col(k) for k in keys],
            *[
                t.cast("decimal(38,0)").alias(f"_t_{name}")
                for name, t in terms.items()
            ],
        )
        return proj.groupBy(*keys).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            *[
                F.sum(f"_t_{name}").cast("decimal(38,0)").alias(name)
                for name in terms
            ],
        )
    n_salts = max(1, -(-max(1, int(n_rows)) // bucket_rows))
    proj = df.select(
        *[F.col(k) for k in keys],
        *[t.cast("bigint").alias(f"_t_{name}") for name, t in terms.items()],
    ).withColumn(
        # materialized BEFORE the groupBy: grouping directly on a
        # nondeterministic expression is rejected by the analyzer
        "_salt",
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(int(n_salts))
        ).cast("int"),
    )
    inner = proj.groupBy(*keys, "_salt").agg(
        F.count("*").alias("_pn"),
        *[F.sum(f"_t_{name}").alias(f"_p_{name}") for name in terms],
    )
    return inner.groupBy(*keys).agg(
        F.sum("_pn").cast("bigint").alias("n_rows"),
        *[
            F.sum(F.col(f"_p_{name}").cast("decimal(38,0)")).alias(name)
            for name in terms
        ],
    )


def widen(df: DataFrame, key: str | None = None, target: int | None = None) -> DataFrame:
    """Repartition a narrow scan up to session parallelism — only when
    actually narrow, so cluster-scale scans (already thousands of
    splits) pass through untouched. ``key`` hash-partitions
    deterministically; without it Spark round-robins."""
    sc = df.sparkSession.sparkContext
    t = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t, F.col(key)) if key else df.repartition(t)
