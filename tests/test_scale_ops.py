"""Unit tests for operators/scaling.py: distributed row numbering,
skew-salted joins, conditional scan widening."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.operators.scaling import (
    salted_join,
    scan_tasks,
    stable_prefix_sum,
    stable_row_number,
    widen,
)


def test_stable_row_number_matches_global_window(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") * 7 % 997).alias("k"), F.col("id").alias("tie")
    )
    got = {
        (r["k"], r["tie"]): r["rn"]
        for r in stable_row_number(df, ["k", "tie"], n_buckets=8).collect()
    }
    w = Window.orderBy("k", "tie")
    want = {
        (r["k"], r["tie"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w) - 1).collect()
    }
    assert got == want


def test_stable_row_number_no_single_task_sort(spark):
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    out = stable_row_number(df, ["k"], n_buckets=4)
    # the window must be partitioned (bucketed), never a global
    # no-PARTITION window (single-task sort)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "partitionBy" not in plan or "SinglePartition" not in plan


def test_stable_row_number_skewed_and_sparse_keys(spark):
    rows = [(5, i) for i in range(50)] + [(1_000_000, i) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, tie int")
    out = stable_row_number(df, ["k", "tie"], n_buckets=8).collect()
    rns = sorted(r["rn"] for r in out)
    assert rns == list(range(55))  # dense, unique, 0-based
    by_key = {(r["k"], r["tie"]): r["rn"] for r in out}
    assert by_key[(5, 0)] == 0 and by_key[(1_000_000, 4)] == 54


def test_stable_row_number_empty(spark):
    df = spark.createDataFrame([], "k long, tie int")
    assert stable_row_number(df, ["k", "tie"]).count() == 0


def test_stable_row_number_puts_null_leads_first(spark, tmp_path):
    """Null leading keys number first, as in ``ROW_NUMBER() OVER (ORDER
    BY keys)``, on both paths: buckets (an in-memory frame is no file
    scan) and one window (a one-file parquet input scans as one task).
    A frame whose leading keys are all null is numbered too."""
    df = spark.createDataFrame(
        [(9, 3), (None, 5), (1, 1), (None, 4), (2, 2)], "k long, tie int"
    )
    path = str(tmp_path / "one_file")
    df.coalesce(1).write.parquet(path)
    want = {(None, 4): 0, (None, 5): 1, (1, 1): 2, (2, 2): 3, (9, 3): 4}
    for frame, tasks in ((df, None), (spark.read.parquet(path), 1)):
        assert scan_tasks(frame) == tasks
        out = stable_row_number(frame, ["k", "tie"], n_buckets=4).collect()
        assert {(r["k"], r["tie"]): r["rn"] for r in out} == want
    nulls = spark.createDataFrame([(None, 2), (None, 1)], "k long, tie int")
    out = stable_row_number(nulls, ["k", "tie"]).collect()
    assert sorted((r["tie"], r["rn"]) for r in out) == [(1, 0), (2, 1)]


def test_stable_prefix_sum_matches_global_window(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("k"),
        ((F.col("id") * 13) % 29 + 1).alias("v"),
    )
    got = {
        (r["g"], r["k"]): r["psum"]
        for r in stable_prefix_sum(
            df, ["k"], "v", group_cols=["g"], n_buckets=8
        ).collect()
    }
    w = (
        Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r["g"], r["k"]): r["psum"]
        for r in df.withColumn(
            "psum", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    assert got == want


def test_stable_prefix_sum_adversarial_shapes(spark):
    """Skewed groups, negative values, sparse keys, and degenerate
    bucket counts must all reproduce the window-cumsum exactly."""
    import random

    rnd = random.Random(7)
    rows = [(rnd.choice("ab"), i, rnd.randint(-5, 5)) for i in range(300)]
    rows += [("a", 100_000 + i, 1) for i in range(200)]  # skew + sparse keys
    df = spark.createDataFrame(rows, "g string, k long, v long")
    w = (
        Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r["g"], r["k"]): r["psum"]
        for r in df.withColumn(
            "psum", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    for nb in (1, 3, 64):
        got = {
            (r["g"], r["k"]): r["psum"]
            for r in stable_prefix_sum(
                df, ["k"], "v", group_cols=["g"], n_buckets=nb
            ).collect()
        }
        assert got == want, f"n_buckets={nb}"


def test_stable_prefix_sum_ungrouped_and_empty(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    got = {r["k"]: r["psum"] for r in stable_prefix_sum(df, ["k"], "v").collect()}
    assert got == {1: 0, 2: 10, 3: 30}
    empty = spark.createDataFrame([], "k long, v long")
    assert stable_prefix_sum(empty, ["k"], "v").count() == 0


def test_stable_prefix_sum_null_handling(spark):
    """A null LEADING order key is rejected loudly (it has no range
    bucket); a null GROUP value is a legal group of its own and must
    accumulate separately — and never be aliased onto a neighbor by
    concat_ws's null-dropping."""
    import pytest

    bad = spark.createDataFrame([(None, 1), (2, 2)], "k long, v long")
    with pytest.raises(ValueError, match="null"):
        stable_prefix_sum(bad, ["k"], "v")

    rows = [(None, 1, 10), (None, 2, 20), ("a", 1, 1), ("a", 2, 2)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    got = {
        (r["g"], r["k"]): r["psum"]
        for r in stable_prefix_sum(
            df, ["k"], "v", group_cols=["g"], n_buckets=4
        ).collect()
    }
    assert got == {(None, 1): 0, (None, 2): 10, ("a", 1): 0, ("a", 2): 1}


def test_salted_join_equals_plain_join(spark):
    # skewed fact: 90% of rows share one key
    fact = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 != 0, 7).otherwise(F.col("id") % 5).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "k long, label string"
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(fact, dim, "k", n_salts=4, how=how)
            .select("k", "payload", "label").collect()
        )
        want = sorted(
            tuple(r) for r in fact.join(dim, "k", how)
            .select("k", "payload", "label").collect()
        )
        assert got == want, how


def test_widen_narrow_and_wide(spark):
    narrow = spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1)
    assert widen(narrow, key="id").rdd.getNumPartitions() > 1
    wide = spark.range(0, 100).repartition(64, "id")
    assert widen(wide, key="id", target=8).rdd.getNumPartitions() == 64


def test_salted_aggregate_equals_plain_groupby(spark):
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        salted_aggregate,
    )

    # heavily skewed: key 0 holds 90% of rows
    df = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    got = {
        r["k"]: (r["n_rows"], float(r["sv"]))
        for r in salted_aggregate(
            df, ["k"], {"sv": F.sum(F.col("v").cast("decimal(18,6)"))}, n_salts=8
        ).collect()
    }
    want = {
        r["k"]: (r["n"], float(r["sv"]))
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("sv"),
        )
        .collect()
    }
    assert got == want


def test_salted_aggregate_fans_hot_key(spark):
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        salted_aggregate,
    )

    df = spark.range(0, 500).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    out = salted_aggregate(df, ["k"], {"sv": F.sum("v")}, n_salts=8)
    # phase-1 rows: the single hot key must split into multiple salted groups
    partial = (
        df.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("k"), F.col("v")), F.lit(8)).cast("int"),
        )
        .groupBy("k", "_salt")
        .count()
    )
    assert partial.count() > 1
    row = out.collect()[0]
    assert (row["k"], row["n_rows"], row["sv"]) == (1, 500, sum(range(500)))


def test_exact_group_sums_matches_groupby(spark):
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        exact_group_sums,
    )

    df = spark.range(0, 4000, 1, 8).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 97 - 48).alias("v"),
    )
    got = {
        r["k"]: (r["n_rows"], int(r["sv"]), int(r["sv2"]))
        for r in exact_group_sums(
            df,
            ["k"],
            {"sv": F.col("v"), "sv2": F.col("v") * F.col("v")},
            n_rows=4000,
            max_abs_term=48 * 48,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], int(r["sv"]), int(r["sv2"]))
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sv"),
            F.sum(F.col("v") * F.col("v")).alias("sv2"),
        )
        .collect()
    }
    assert got == want


def test_exact_group_sums_survives_bigint_wrap(spark):
    """The overflow-budget tripwire (round-8 verdict item): terms of
    magnitude 2^58 over 64 rows sum to 2^64, past bigint range — a raw
    bigint SUM silently wraps under non-ANSI Spark and raises
    ARITHMETIC_OVERFLOW under ANSI (the session default here); either
    way the query is dead at that scale. The runtime-sized two-phase
    shape (bigint inner sums on buckets provably below 2^61, decimal
    merge) returns the exact value. This is the property that removes
    the EMB_Q_SCALE family's ~9.2M-row scale ceiling; if someone
    reverts the helper to a single bigint sum, this test fails."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        exact_group_sums,
    )

    big = 1 << 58
    df = spark.range(0, 64, 1, 2).select(
        F.lit(0).alias("k"), F.lit(big).alias("v")
    )
    try:
        naive = df.groupBy("k").agg(F.sum("v").alias("s")).collect()[0]["s"]
        wrapped = int(naive) != 64 * big
    except Exception:
        wrapped = True  # ANSI mode: overflow raises instead of wrapping
    assert wrapped  # the failure mode guarded against exists

    row = exact_group_sums(
        df, ["k"], {"s": F.col("v")}, n_rows=64, max_abs_term=big
    ).collect()[0]
    assert (row["k"], row["n_rows"], int(row["s"])) == (0, 64, 64 * big)


def test_exact_group_sums_partition_invariant(spark):
    """Bucket assignment may differ with partitioning (the salt uses
    monotonically_increasing_id), but the merged sums are integers —
    identical for 1, 3, and 16 input partitions."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        exact_group_sums,
    )

    outs = []
    for parts in (1, 3, 16):
        df = spark.range(0, 3000, 1, parts).select(
            (F.col("id") % 4).alias("k"),
            (F.col("id") % 1001 - 500).alias("v"),
        )
        outs.append(
            sorted(
                (r["k"], r["n_rows"], int(r["s"]))
                for r in exact_group_sums(
                    df, ["k"], {"s": F.col("v")},
                    n_rows=3000, max_abs_term=500,
                ).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # key
            st.integers(min_value=-(1 << 57), max_value=1 << 57),  # term
        ),
        min_size=1,
        max_size=200,
    ),
)
def test_exact_group_sums_property(spark, rows):
    """Property: for ANY key/term multiset — including magnitudes where
    a plain bigint SUM would wrap — exact_group_sums equals unbounded
    Python integer arithmetic, with n_rows/max_abs_term derived the way
    callers derive them (measured group max / max |term|)."""
    from collections import defaultdict

    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        exact_group_sums,
    )

    want_n: dict[int, int] = defaultdict(int)
    want_s: dict[int, int] = defaultdict(int)
    for k, v in rows:
        want_n[k] += 1
        want_s[k] += v
    max_group = max(want_n.values())
    max_abs = max((abs(v) for _k, v in rows), default=1)

    df = spark.createDataFrame(rows, "k int, v long")
    got = {
        r["k"]: (r["n_rows"], int(r["s"]))
        for r in exact_group_sums(
            df, ["k"], {"s": F.col("v")},
            n_rows=max_group, max_abs_term=max(max_abs, 1),
        ).collect()
    }
    assert got == {k: (want_n[k], want_s[k]) for k in want_n}


def test_exact_group_sums_huge_terms_take_decimal_fallback(spark):
    """Round-9 ADVICE fix: when 2^61 // max|term| drops below the
    2^16 bucket-row floor the binomial-tail sizing argument collapses
    (mean bucket load O(1) — a 4x-mean bucket is a routine
    fluctuation, not a 1e-15 tail), so the helper must abandon the
    salted shape for unconditionally-exact per-term DECIMAL(38,0)
    accumulation. Checks both the routing (no _salt in the plan) and
    the value (2^60-magnitude terms, far past any bigint sum)."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        EXACT_SUM_BUDGET,
        EXACT_SUM_MIN_BUCKET_ROWS,
        exact_group_sums,
    )

    big = 1 << 60
    assert EXACT_SUM_BUDGET // big < EXACT_SUM_MIN_BUCKET_ROWS
    df = spark.range(0, 40, 1, 4).select(
        (F.col("id") % 2).alias("k"), F.lit(big).alias("v")
    )
    out = exact_group_sums(
        df, ["k"], {"s": F.col("v")}, n_rows=40, max_abs_term=big
    )
    assert "_salt" not in out._jdf.queryExecution().executedPlan().toString()
    got = sorted((r["k"], r["n_rows"], int(r["s"])) for r in out.collect())
    assert got == [(0, 20, 20 * big), (1, 20, 20 * big)]
    # salted path still engages for quantized-product magnitudes
    small = exact_group_sums(
        df.select("k", (F.col("k") + 1).alias("v")),
        ["k"],
        {"s": F.col("v")},
        n_rows=40_000_000,
        max_abs_term=10**12,
    )
    assert "_salt" in small._jdf.queryExecution().executedPlan().toString()


def test_exact_group_sums_n_rows_matches_deterministic_count(spark):
    """The stage-retry tripwire the helper's docstring promises: the
    merged n_rows total must equal a deterministic count() of the same
    input — a recompute-after-fetch-failure double-count/drop (the
    SPARK-23207 class the nondeterministic salt reintroduces) would
    break this equality."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        exact_group_sums,
    )

    df = spark.range(0, 5000, 1, 16).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 101).alias("v")
    )
    out = exact_group_sums(
        df, ["k"], {"s": F.col("v")}, n_rows=5000, max_abs_term=101
    )
    assert sum(r["n_rows"] for r in out.collect()) == df.count()


@settings(max_examples=10, deadline=None)
@given(
    keys=st.sets(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1,
        max_size=150,
    ),
    n_buckets=st.integers(min_value=1, max_value=9),
    n_parts=st.integers(min_value=1, max_value=7),
)
def test_stable_row_number_property(spark, keys, n_buckets, n_parts):
    """Property (r9 verdict task 4): for ANY unique-key multiset, any
    bucket count, and any input partitioning, stable_row_number equals
    the Python sort index — the substrate under ~30 rank/percentile
    operators was example-tested only."""
    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        stable_row_number,
    )

    ordered = sorted(keys)
    want = {k: i for i, k in enumerate(ordered)}
    df = spark.createDataFrame(
        [(k,) for k in sorted(keys, key=lambda x: (x % 3, -x))],
        "k long",
    ).repartition(n_parts)
    got = {
        r["k"]: r["rn"]
        for r in stable_row_number(df, ["k"], n_buckets=n_buckets).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),       # group
            st.integers(min_value=-500, max_value=500),  # order key
            st.integers(min_value=-(1 << 30), max_value=1 << 30),  # value
        ),
        min_size=1,
        max_size=150,
        unique_by=lambda t: (t[0], t[1]),  # unique order key per group
    ),
    n_buckets=st.integers(min_value=1, max_value=9),
    n_parts=st.integers(min_value=1, max_value=7),
)
def test_stable_prefix_sum_property(spark, rows, n_buckets, n_parts):
    """Property: for ANY (group, unique-order-key, value) multiset and
    any bucket count / partitioning, stable_prefix_sum equals the
    exclusive running sum computed by plain Python over the
    group-sorted rows."""
    from collections import defaultdict

    from database_fragmentation_and_query_processor_spark.operators.scaling import (
        stable_prefix_sum,
    )

    want: dict[tuple[int, int], int] = {}
    acc: dict[int, int] = defaultdict(int)
    for g, k, v in sorted(rows):
        want[(g, k)] = acc[g]
        acc[g] += v
    df = spark.createDataFrame(
        [(g, k, v) for g, k, v in sorted(rows, key=lambda t: (t[1] % 5, -t[2]))],
        "g int, k long, v long",
    ).repartition(n_parts)
    got = {
        (r["g"], r["k"]): int(r["psum"])
        for r in stable_prefix_sum(
            df, ["k"], "v", group_cols=["g"], n_buckets=n_buckets
        ).collect()
    }
    assert got == want
