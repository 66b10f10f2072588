"""Grouping sets and scalar/array function batteries; deterministic sampling, TF-IDF, merge-upsert."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.lattice import flr as _flr
from ..operators import merge as MergeOp
from ..operators import sampling as SampleOp
from .common import _docs, _events, _t
from .families import _QUALITY_SQL, TOKENS_SQL, _dec2

# 46-48: grouping sets, scalar-function battery, array-function battery
# ---------------------------------------------------------------------------

def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): status×priority,
    status, and grand total in one pass."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec2(F.col("o_totalprice"))).cast("double").alias("sum_price"),
        )
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_scalar_functions(spark, sf_dir):
    """Scalar-function battery (string/date/math/conditional) with an
    exact cross-engine mirror — pins the semantics of each function,
    not just 'some expression ran'."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("s_upper"),
        F.substring("o_orderpriority", 1, 3).alias("pr_sub"),
        F.length("o_orderpriority").cast("bigint").alias("pr_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("joined"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        _flr(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        _flr(F.log("o_totalprice"), 6).alias("price_ln"),
        _flr(F.pow(F.col("o_custkey") % 7 + 1, 2), 6).alias("pow2"),
        F.greatest(F.col("o_custkey") % 7, F.lit(3)).cast("bigint").alias("gmax"),
        F.least(F.col("o_custkey") % 7, F.lit(3)).cast("bigint").alias("lmin"),
        F.when(F.col("o_totalprice") > 100000, "hi").otherwise("lo").alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias("status_or_open"),
    )


SQL_SCALAR_FUNCTIONS = """
SELECT o_orderkey,
       upper(o_orderstatus) AS s_upper,
       substr(o_orderpriority, 1, 3) AS pr_sub,
       CAST(length(o_orderpriority) AS BIGINT) AS pr_len,
       o_orderstatus || '|' || o_orderpriority AS joined,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       date_trunc('month', o_orderdate) AS month_start,
       FLOOR(CAST((sqrt(o_totalprice)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS price_sqrt,
       FLOOR(CAST((ln(o_totalprice)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS price_ln,
       FLOOR(CAST((pow(o_custkey % 7 + 1, 2)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pow2,
       CAST(greatest(o_custkey % 7, 3) AS BIGINT) AS gmax,
       CAST(least(o_custkey % 7, 3) AS BIGINT) AS lmin,
       CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END AS bucket,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open
FROM orders WHERE o_orderkey < 500
"""


def q_array_functions(spark, sf_dir):
    """Array-function battery over token arrays: distinct, sort, slice,
    contains, intersect with a literal vocabulary."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    vocab = F.array(F.lit("the"), F.lit("data"), F.lit("query"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct(toks)), 1, 5)).alias("first5_sorted"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_intersect(F.array_distinct(toks), vocab)).cast("bigint").alias("vocab_hits"),
    )


SQL_ARRAY_FUNCTIONS = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       array_to_string(list_sort(list_distinct(t))[1:5], ',') AS first5_sorted,
       list_contains(t, 'the') AS has_the,
       CAST(len(list_intersect(list_distinct(t), ['the', 'data', 'query'])) AS BIGINT) AS vocab_hits
FROM toks
"""


Q10_LO, Q10_HI = "1995-01-01", "1995-07-01"


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer over a date
    window, nation-decorated, deterministic top-20. Orders shrink to the
    window before the lineitem join; AQE broadcasts them at runtime if
    the window is actually small (forced broadcast would not survive a
    wide date window at scale)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q10_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_HI).cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


SQL_Q10 = f"""
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{Q10_LO} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q10_HI} 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_event_funnel(spark, sf_dir):
    """Strict ordered-funnel analysis (view → click → purchase, each
    stage strictly after the previous): per-stage conditional-min
    cascade with reaggregation — no row explosion, two tiny shuffles on
    user_id. The match_recognize-style op a pipeline needs without a
    pattern-matching engine."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "tsn")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("tsn").alias("t1")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("tsn") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tsn").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("tsn") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tsn").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


SQL_EVENT_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn FROM events),
v AS (SELECT user_id, MIN(tsn) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(tsn) AS t2 FROM ev e JOIN v USING (user_id)
      WHERE event_type = 'click' AND tsn > t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(tsn) AS t3 FROM ev e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND tsn > t2 GROUP BY e.user_id)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_view_click,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_view_click_purchase
"""


def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ sketch with a hash-checkable shape: the raw sketch
    estimate is engine-specific by construction, so the declared columns
    are the EXACT distinct count plus the sketch's error-bound claim as
    a boolean (|approx - exact| <= 5% of exact). The oracle computes the
    exact side and asserts TRUE for the bound — making the sketch's
    accuracy contract itself the checked value. The raw estimate stays
    observable via the `approx_users` column in pytest
    (tests/test_operators_ext.py::test_approx_distinct_error_bound,
    which bounds the relative error numerically)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("hll_within_5pct"),
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS hll_within_5pct
FROM events
GROUP BY event_type
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: equi-join with an OR of conjunctive residual
    predicates — exercises Catalyst's filter normalization (the common
    p_partkey=l_partkey conjunct is extracted into the join key; the
    disjunction stays a residual). part is small → broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond1 | cond2)
        .agg(
            F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
"""


Q18_QTY = 250.0


def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a join aggregate — customers whose
    total ordered quantity exceeds a threshold. The HAVING filter runs
    on the aggregated side before the order/customer joins; the shrunk
    side is left to AQE to broadcast (its size still scales with the
    data, so a forced broadcast is not scale-safe)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec2(F.col("l_quantity"))).cast("double").alias("order_qty"))
        .where(F.col("order_qty") > Q18_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_big_orders"),
            F.sum(F.col("order_qty").cast("decimal(18,2)")).cast("double").alias("total_qty"),
        )
    )


SQL_Q18 = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS order_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > {Q18_QTY}
)
SELECT c_custkey, c_name,
       CAST(COUNT(*) AS BIGINT) AS n_big_orders,
       CAST(SUM(CAST(order_qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


def q_user_rolling_avg(spark, sf_dir):
    """Bounded window frame: per-user 3-event rolling value average
    (ROWS 2 PRECEDING..CURRENT), decimal-exact inside the frame."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsn", "event_id")
        .rowsBetween(-2, 0)
    )
    roll = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    return ev.select(
        "event_id", "user_id", _flr(roll, 6).alias("rolling_avg_3")
    )


SQL_USER_ROLLING_AVG = """
SELECT event_id, user_id,
       FLOOR(CAST((CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rolling_avg_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_event_gaps(spark, sf_dir):
    """lead/lag as output: per-event gap to the user's next event, then
    per-type mean gap (decimal-exact in micros)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    gap_us = F.lead("tsn").over(w) - F.col("tsn")
    return (
        ev.withColumn("gap_us", gap_us)
        .where(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count("*")).alias("avg_gap_us"),
        )
    )


SQL_EVENT_GAPS = """
WITH g AS (
  SELECT event_type,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


Q12_LO, Q12_HI = "1996-01-01", "1997-01-01"


def q12_priority_line_counts(spark, sf_dir):
    """TPC-H Q12 shape: join + conditional (CASE-sum) aggregation —
    per line-status counts of high- vs low-priority order lines in a
    ship-date year. The priority test is a map-side expression, so the
    only shuffle is the tiny final groupBy."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q12_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_HI).cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


SQL_Q12 = f"""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q12_LO} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q12_HI} 00:00:00'
GROUP BY l_linestatus
"""


def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: filtered LEFT OUTER join + two-level aggregate —
    distribution of customers by how many non-pending orders they have
    (customers with zero orders kept by the outer join). The first
    groupBy shuffles on c_custkey; the histogram groupBy is tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


SQL_Q13 = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


Q14_LO, Q14_HI = "1996-09-01", "1996-10-01"


def q14_promo_revenue_ratio(spark, sf_dir):
    """TPC-H Q14 shape: join + ratio of a conditional sum to the total
    sum (promo-type revenue share for one ship month). Both sums are
    decimal-exact; the division happens once on the final doubles."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q14_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q14_HI).cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    rev = _dec2(F.col("l_extendedprice")) * disc
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(_dec2(F.lit(0)))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"))
            .alias("promo_pct"),
        )
    )


SQL_Q14 = f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{Q14_LO} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q14_HI} 00:00:00'
"""


Q22_CODES = ("01", "13", "25", "37", "49", "61")
Q22_DORMANT_AFTER = "2000-06-01"


def q22_dormant_high_balance(spark, sf_dir):
    """TPC-H Q22 shape: scalar-average subquery + anti join — per
    customer-code (last two digits of c_name, the fixture's stand-in
    for a phone country code) counts of dormant customers (no order on
    or after the cutoff) whose balance beats the positive-balance
    average. The 1-row average is broadcast, never collected; the anti
    join's build side is pre-shrunk by the date filter."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "code", F.expr("right(c_name, 2)")
    ).where(F.col("code").isin(*Q22_CODES))
    # decimal-exact average => identical threshold double on both engines
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec2(F.col("c_acctbal"))).cast("double") / F.count("*")).alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(Q22_DORMANT_AFTER).cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("code")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(_dec2(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )


SQL_Q22 = f"""
WITH eligible AS (
  SELECT c_custkey, c_acctbal, right(c_name, 2) AS code
  FROM customer WHERE right(c_name, 2) IN {Q22_CODES!r}
),
avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM eligible WHERE c_acctbal > 0.0
)
SELECT code,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM eligible e, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = e.c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_DORMANT_AFTER} 00:00:00')
GROUP BY code
"""


# ---------------------------------------------------------------------------
# deterministic sampling / tf-idf / merge-upsert (training-pipeline ops)
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 500, "de": 250, "fr": 125}
SAMPLE_DEFAULT = 50
SAMPLE_SALT = "docs"


def q_doc_sample_stratified(spark, sf_dir):
    """Deterministic per-language document sampling: the keep decision
    is a portable md5-hash threshold (operators/sampling.py), so the
    sample is reproducible across runs, partitionings, and engines —
    a pure map-side filter, zero shuffle before the tiny groupBy."""
    docs = _docs(spark, sf_dir)
    sampled = SampleOp.stratified_sample(
        docs,
        key=F.col("doc_id"),
        stratum=F.col("lang"),
        rates_permille=SAMPLE_RATES,
        salt=SAMPLE_SALT,
        default_permille=SAMPLE_DEFAULT,
    )
    return sampled.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


_SAMPLE_CASE = " ".join(
    f"WHEN '{lang}' THEN {p}" for lang, p in sorted(SAMPLE_RATES.items())
)

SQL_DOC_SAMPLE_STRATIFIED = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE CAST('0x' || substr(md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) % 1000
      < CASE lang {_SAMPLE_CASE} ELSE {SAMPLE_DEFAULT} END
GROUP BY lang
"""


def q_doc_sample_weighted(spark, sf_dir):
    """Quality-weighted deterministic sampling: each document is kept
    with probability equal to its quality score (operators/sampling.py:
    weighted_sample — portable md5 threshold, pure map-side filter,
    zero shuffle). The importance-sampling primitive for corpus mixing:
    high-quality docs survive at higher rates without an RNG, so the
    sampled corpus is reproducible across runs and engines."""
    docs = _docs(spark, sf_dir)
    q = T.quality_score(F.col("text"))
    sampled = SampleOp.weighted_sample(
        docs.withColumn("q", q), key=F.col("doc_id"), weight=F.col("q"),
        salt=SAMPLE_SALT,
    )
    return sampled.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        (F.sum(F.col("q").cast("decimal(18,8)")).cast("double") / F.count("*")
         ).alias("avg_quality_kept"),
    )


SQL_DOC_SAMPLE_WEIGHTED = f"""
WITH d AS (
  SELECT lang, doc_id, ({_QUALITY_SQL}) AS q FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(CAST(q AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_quality_kept
FROM d
WHERE CAST('0x' || substr(md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) % 1000
      < CAST(FLOOR(q * 1000) AS INT)
GROUP BY lang
"""


SEQ_LEN = 2048


def q_sequence_packing(spark, sf_dir):
    """Training-sequence packing (concat-and-split): documents are laid
    out contiguously per language in doc_id order; each doc's global
    token offset determines which fixed-length training sequence it
    starts in and at what offset. The offset comes from
    operators/scaling.py:stable_prefix_sum — a two-phase distributed
    prefix sum (deterministic range buckets, per-(group,bucket) partial
    sums, broadcast base offsets) instead of a whole-group window sort,
    so a handful of language groups over 100 TB still packs in
    parallel across every bucket."""
    from ..operators.scaling import stable_prefix_sum

    docs = _docs(spark, sf_dir).select(
        "lang", "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    packed = stable_prefix_sum(
        docs, order_cols=["doc_id"], value_col="n_tokens",
        group_cols=["lang"], out_col="start_tok",
    )
    return packed.select(
        "lang", "doc_id", "n_tokens",
        F.expr(f"start_tok div {SEQ_LEN}").alias("seq_id"),
        F.expr(f"start_tok % {SEQ_LEN}").alias("seq_offset"),
    )


SQL_SEQUENCE_PACKING = f"""
WITH d AS (
  SELECT lang, doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM d
)
SELECT lang, doc_id, n_tokens,
       CAST(start_tok // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST(start_tok % {SEQ_LEN} AS BIGINT) AS seq_offset
FROM c
"""


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-k distinctive terms per document. Whole pipeline is
    built-in exprs: explode → tf groupBy (shuffle on doc_id+term) →
    df groupBy (shuffle on term) → unhinted term join (AQE) → per-doc
    window. The corpus size is a broadcast 1-row aggregate, never a
    global window. Scores round to 6 digits on both engines before
    ranking; ties break on the term itself."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            _flr(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         FLOOR(CAST((tf * ln(CAST(n_docs AS DOUBLE) / df)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored)
WHERE rk <= {TFIDF_TOP_K}
"""


Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"


def q7_nation_trade_flows(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    nation joined twice under different roles (supplier side vs
    customer side), keeping only the two cross pairs. The nation dim is
    constant-size → broadcast; the fact-side joins are AQE's call."""
    nation_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nation_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == nation_s.s_nkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == nation_c.c_nkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("volume"))
    )


SQL_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
   OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INTEGER)
"""


Q8_REGION = "EUROPE"
Q8_NATION = "NATION_3"


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's yearly order
    revenue — grouped conditional-sum / total-sum ratio. Share stays a
    ratio of two decimal-exact sums, divided once per group."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == Q8_REGION)
    nation_c = _t(spark, sf_dir, "nation").select(
        "n_regionkey", F.col("n_nationkey").alias("c_nkey")
    )
    nation_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    rev = _dec2(F.col("l_extendedprice")) * disc
    target = F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(_dec2(F.lit(0)))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == nation_c.c_nkey)
        .join(F.broadcast(region), nation_c.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == nation_s.s_nkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(target).cast("double").alias("nation_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            (F.sum(target).cast("double") / F.sum(rev).cast("double")).alias("mkt_share"),
        )
    )


SQL_Q8 = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = '{Q8_NATION}'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN n2.n_name = '{Q8_NATION}'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = '{Q8_REGION}'
GROUP BY CAST(year(o_orderdate) AS INTEGER)
"""


Q11_MULTIPLIER = 1.5  # keep parts whose value exceeds this x the mean


def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against a global scalar threshold — parts
    whose lineitem value exceeds a multiple of the MEAN part value (the
    mean-relative form stays meaningful at any scale factor, unlike a
    fixed corpus fraction). The global 1-row aggregate is broadcast into
    the filter, never collected to the driver."""
    li = _t(spark, sf_dir, "lineitem")
    val = _dec2(F.col("l_extendedprice")) * _dec2(F.col("l_quantity"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(val).cast("double").alias("part_value")
    )
    total = li.agg(
        F.sum(val).cast("double").alias("total_value"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("part_value")
            > F.lit(Q11_MULTIPLIER) * F.col("total_value") / F.col("n_parts")
        )
        .select("l_partkey", "part_value")
    )


SQL_Q11 = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey
),
total AS (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         COUNT(DISTINCT l_partkey) AS n_parts
  FROM lineitem
)
SELECT l_partkey, part_value
FROM per_part, total
WHERE part_value > {Q11_MULTIPLIER} * total_value / n_parts
"""


def q15_top_suppliers(spark, sf_dir):
    """TPC-H Q15 shape: max-of-aggregate — supplier(s) with the highest
    revenue, ties kept. The 1-row max re-joins the per-supplier
    aggregate (broadcast), reproducing the view + scalar-subquery
    pattern without a second scan of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("total_revenue")
    )
    best = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per_supp.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_Q15 = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM per_supp)
"""


Q16_EXCLUDED_BRAND = "Brand#5"
Q16_SIZES = (1, 7, 13, 19, 25, 31)


def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-count after a join with an exclusion
    predicate — distinct suppliers per (brand, size) for selected sizes,
    excluding one brand. The distinct agg shuffles once on the group
    key; part is scale-variable so its join is AQE's call."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != Q16_EXCLUDED_BRAND) & F.col("p_size").isin(*Q16_SIZES)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


SQL_Q16 = f"""
SELECT p_brand, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCLUDED_BRAND}' AND p_size IN {Q16_SIZES!r}
GROUP BY p_brand, p_size
"""


Q2_SIZE = 5
Q2_TYPE = "STANDARD"
Q2_REGION = "EUROPE"


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN subquery with a multi-key
    tie-broken top-k. The testdata has no partsupp, so the part-supplier
    cost relation is derived from lineitem (min unit price per
    (part, supplier) — deterministic: MIN of identical IEEE divisions).
    The correlation (cost == min cost among eligible suppliers of the
    same part) is a per-part window MIN — one shuffle on p_partkey, no
    re-scan of the subquery per outer row."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost")
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == Q2_REGION)
    eligible = (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .join(sup, ps.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("min_cost", F.min("supply_cost").over(w))
        .where(F.col("supply_cost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            _flr("supply_cost", 6).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


SQL_Q2 = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name, ps.supply_cost,
         MIN(ps.supply_cost) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM ps
  JOIN part p ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size = {Q2_SIZE} AND p.p_type = '{Q2_TYPE}' AND r.r_name = '{Q2_REGION}'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       FLOOR(CAST((supply_cost) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS supply_cost
FROM eligible WHERE supply_cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


Q9_PART_SUBSTR = "widget"
Q9_COST_FACTOR = 0.6


def q9_nation_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by (nation, year) across a 5-way
    multi-fact join (lineitem x part x supplier x nation x orders).
    Supply cost is proxied as Q9_COST_FACTOR x p_retailprice (no
    partsupp table). Both money sums are DECIMAL-exact and cast to
    DOUBLE once; the factor is applied to the already-exact total so no
    3-decimal product overflows precision rules on either engine."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        F.col("p_name").contains(Q9_PART_SUBSTR)
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    rev = _dec2(F.col("l_extendedprice")) * (_dec2(F.lit(1)) - _dec2(F.col("l_discount")))
    cost = _dec2(F.col("p_retailprice")) * _dec2(F.col("l_quantity"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(rev).cast("double").alias("sum_rev"),
            F.sum(cost).cast("double").alias("sum_cost"),
        )
        .select(
            "nation", "o_year",
            (F.col("sum_rev") - F.lit(Q9_COST_FACTOR) * F.col("sum_cost")).alias("profit"),
        )
    )


SQL_Q9 = f"""
WITH agg AS (
  SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_rev,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%{Q9_PART_SUBSTR}%'
  GROUP BY n_name, YEAR(o_orderdate)
)
SELECT nation, CAST(o_year AS BIGINT) AS o_year,
       sum_rev - {Q9_COST_FACTOR} * sum_cost AS profit
FROM agg
"""


Q20_PART_PREFIX = "small "
Q20_YEAR = 1996
Q20_FRACTION = 0.5
Q20_REGION = "ASIA"


def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: nested semi-join chain — suppliers (in a
    region) who shipped, of some name-filtered part in one year, more
    than a fraction of that part's total shipped quantity (the
    availqty > 0.5*sum(qty) predicate re-expressed over lineitem).
    Both quantity totals are DECIMAL-exact; the part total comes from a
    window over the same aggregate, not a second scan. The supplier
    join is leftsemi — no fan-out, no dedup shuffle."""
    li = _t(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == Q20_YEAR)
    part = _t(spark, sf_dir, "part").where(
        F.col("p_name").startswith(Q20_PART_PREFIX)
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec2(F.col("l_quantity"))).cast("double").alias("qty")
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        per_ps.withColumn("part_total", F.sum("qty").over(w))
        .where(F.col("qty") > F.lit(Q20_FRACTION) * F.col("part_total"))
        .join(part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == Q20_REGION)
    in_region = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return (
        sup.join(excess, sup.s_suppkey == excess.l_suppkey, "leftsemi")
        .join(in_region.select("n_nationkey"), sup.s_nationkey == F.col("n_nationkey"), "leftsemi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


SQL_Q20 = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
  FROM lineitem WHERE YEAR(l_shipdate) = {Q20_YEAR}
  GROUP BY l_partkey, l_suppkey
),
excess AS (
  SELECT * FROM (
    SELECT l_partkey, l_suppkey, qty,
           SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
    FROM per_ps
  ) WHERE qty > {Q20_FRACTION} * part_total
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '{Q20_PART_PREFIX}%')
)
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM excess)
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{Q20_REGION}'
  )
ORDER BY s_name
"""


Q21_LATE_DAYS = 90
Q21_REGION = "AMERICA"


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: the EXISTS / NOT-EXISTS pair over other
    suppliers of the same order, rewritten as per-order aggregates —
    "another supplier exists" ⟺ the order has ≥2 distinct suppliers;
    "no OTHER supplier was late" ⟺ exactly 1 distinct late supplier
    (the candidate itself). Lateness is l_shipdate > o_orderdate + N
    days (no commit/receipt dates in the testdata). One join pass +
    two small per-order aggregates instead of two correlated
    self-joins — the scale-sane plan for the same semantics."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lo = li.join(
        orders.select("o_orderkey", "o_orderstatus", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    late = lo.where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
    )
    n_sups = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sups")
    )
    n_late = late.groupBy(F.col("l_orderkey").alias("lk")).agg(
        F.countDistinct("l_suppkey").alias("n_late_sups")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == Q21_REGION)
    in_region = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    cand = (
        late.where(F.col("o_orderstatus") == "F")
        .join(n_sups, "l_orderkey")
        .join(n_late, F.col("l_orderkey") == F.col("lk"))
        .where((F.col("n_sups") >= 2) & (F.col("n_late_sups") == 1))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .join(in_region.select("n_nationkey"), sup.s_nationkey == F.col("n_nationkey"), "leftsemi")
    )
    return (
        cand.groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


SQL_Q21 = f"""
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey, o.o_orderstatus
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
),
n_sups AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_sups
  FROM lineitem GROUP BY l_orderkey
),
n_late AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_late_sups
  FROM late GROUP BY l_orderkey
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late c
JOIN n_sups USING (l_orderkey)
JOIN n_late USING (l_orderkey)
JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE c.o_orderstatus = 'F' AND n_sups >= 2 AND n_late_sups = 1
  AND s.s_nationkey IN (
    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{Q21_REGION}'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


CDC_MOD = 10
CDC_INS_OFFSET = 10_000_000


def q_orders_cdc_apply(spark, sf_dir):
    """CDC changelog application (insert/update/delete in one batch):
    every 10th order is deleted, the next tenth is re-priced 2x, and a
    synthetic insert batch lands under shifted keys —
    operators/merge.py:apply_cdc resolves all three with ONE per-key
    window over base ∪ changes and a tombstone filter; no join, no
    driver-side diffing. The oracle replays the same semantics as
    set algebra (deleted/updated keys excluded, replacements and
    inserts unioned in)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    m = F.col("o_orderkey") % CDC_MOD
    dels = orders.where(m == 0).withColumn("op", F.lit("D"))
    upds = (
        orders.where(m == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("op", F.lit("U"))
    )
    ins = (
        orders.where(m == 2)
        .withColumn("o_orderkey", F.col("o_orderkey") + CDC_INS_OFFSET)
        .withColumn("op", F.lit("I"))
    )
    changes = dels.unionByName(upds).unionByName(ins)
    merged = MergeOp.apply_cdc(orders, changes, key_cols=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(_dec2(F.col("o_totalprice"))).cast("double").alias("total_price"),
    )


SQL_ORDERS_CDC_APPLY = f"""
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
merged AS (
  SELECT * FROM base WHERE o_orderkey % {CDC_MOD} NOT IN (0, 1)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
  FROM base WHERE o_orderkey % {CDC_MOD} = 1
  UNION ALL
  SELECT o_orderkey + {CDC_INS_OFFSET} AS o_orderkey, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % {CDC_MOD} = 2
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM merged GROUP BY o_orderstatus
"""


MERGE_UPD_MOD = 10


def q_orders_merge_upsert(spark, sf_dir):
    """Merge/upsert (SCD-1): a derived updates batch (every
    MERGE_UPD_MOD-th order re-priced +10%, re-statused 'U') is applied
    over the full orders snapshot via operators/merge.py — union + one
    per-key window, a single shuffle however many rows update."""
    orders = _t(spark, sf_dir, "orders")
    upd = (
        orders.where(F.col("o_orderkey") % MERGE_UPD_MOD == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn(
            "o_totalprice",
            (_dec2(F.col("o_totalprice")) * _dec2(F.lit(1.10))).cast("double"),
        )
    )
    merged = MergeOp.merge_upsert(orders, upd, key_cols=["o_orderkey"])
    # scale-4 decimal sum: the +10% product has 4 decimals, and summing
    # at (18,2) would re-round it — half-up in Spark, half-even in
    # DuckDB — so the wider scale keeps both engines rounding-free
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
    )


SQL_ORDERS_MERGE_UPSERT = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {MERGE_UPD_MOD} = 0
),
tagged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS src FROM upd
),
merged AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rk
    FROM tagged
  ) WHERE rk = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM merged GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
