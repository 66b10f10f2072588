"""The numbered core families: fragmentation (reference surface), TPC-H relational, events, text analysis, MinHash dedup + similarity, multimodal / simhash / ANN / sessionization / as-of / range join / streaming, TPC-H revenue shapes, windows / quantiles / setops / pivot.

Mechanical split of entry_queries.py lines 332-2129 (r13 verdict
task 6); statement order preserved. The fold below reproduces the
original single-module namespace for everything defined earlier.
"""

from __future__ import annotations

import logging

from ._fold import fold_upto

fold_upto(globals(), 'families')

_log = logging.getLogger(__name__)

# 1-5: fragmentation family
# ---------------------------------------------------------------------------

def q_frag_range_counts(spark, sf_dir):
    return (
        _frag_scheme(spark, sf_dir, "range")
        .groupBy("fragment_id")
        .agg(F.count("*").alias("cnt"))
    )


SQL_FRAG_RANGE_COUNTS = f"""
WITH {RATINGS_CTE}
SELECT {_bucket_sql()} AS fragment_id, CAST(COUNT(*) AS BIGINT) AS cnt
FROM ratings GROUP BY 1
"""


def q_frag_rr_counts(spark, sf_dir):
    return (
        _frag_scheme(spark, sf_dir, "rr")
        .groupBy("fragment_id")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("movieid").cast("bigint")).alias("movieid_checksum"),
        )
    )


SQL_FRAG_RR_COUNTS = f"""
WITH {RATINGS_CTE}
SELECT CAST(rn % {RANGE_N} AS INTEGER) AS fragment_id,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(movieid) AS BIGINT) AS movieid_checksum
FROM ratings GROUP BY 1
"""


def q_frag_range_query(spark, sf_dir):
    """Reference rangeQuery(1.5, 3.5) on the fragmented warehouse
    (api.range_query, Interface1.py:261-308)."""
    return api.range_query(spark, RQ_LO, RQ_HI, _frag_warehouse(spark, sf_dir))


SQL_FRAG_RANGE_QUERY = f"""
WITH {RATINGS_CTE}
SELECT 'range_ratings_part' || CAST({_bucket_sql()} AS VARCHAR) AS fragment_name,
       userid, movieid, rating
FROM ratings WHERE rating BETWEEN {RQ_LO} AND {RQ_HI}
UNION ALL
SELECT 'round_robin_ratings_part' || CAST(rn % {RANGE_N} AS VARCHAR) AS fragment_name,
       userid, movieid, rating
FROM ratings WHERE rating BETWEEN {RQ_LO} AND {RQ_HI}
"""


def q_frag_point_query(spark, sf_dir):
    """Reference pointQuery(4.5) (api.point_query, Interface1.py:310-347)."""
    return api.point_query(spark, PQ_VALUE, _frag_warehouse(spark, sf_dir))


SQL_FRAG_POINT_QUERY = f"""
WITH {RATINGS_CTE}
SELECT 'range_ratings_part' || CAST({_bucket_sql()} AS VARCHAR) AS fragment_name,
       userid, movieid, rating
FROM ratings WHERE rating = {PQ_VALUE}
UNION ALL
SELECT 'round_robin_ratings_part' || CAST(rn % {RANGE_N} AS VARCHAR) AS fragment_name,
       userid, movieid, rating
FROM ratings WHERE rating = {PQ_VALUE}
"""


def q_frag_reconstruction(spark, sf_dir):
    """Completeness/disjointness/reconstruction triple as one row
    (testHelper1.py:116-150 style): the relation against each scheme's
    fragments."""

    def side(scheme):
        return _frag_scheme(spark, sf_dir, scheme).agg(
            F.count("*").alias(f"{scheme}_cnt"),
            F.countDistinct("fragment_id").alias(f"n_{scheme}_fragments"),
        )

    base = _ratings(spark, sf_dir).agg(F.count("*").alias("base_cnt"))
    return base.crossJoin(side("range")).crossJoin(side("rr"))


SQL_FRAG_RECONSTRUCTION = f"""
WITH {RATINGS_CTE}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ratings) AS base_cnt,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ratings) AS range_cnt,
       (SELECT CAST(COUNT(DISTINCT {_bucket_sql()}) AS BIGINT) FROM ratings) AS n_range_fragments,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ratings) AS rr_cnt,
       (SELECT CAST(COUNT(DISTINCT rn % {RANGE_N}) AS BIGINT) FROM ratings) AS n_rr_fragments
"""


# ---------------------------------------------------------------------------
# 6-14: relational family (TPC-H-shaped)
# ---------------------------------------------------------------------------

def _dec2(c):
    return c.cast("decimal(18,2)")


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    charge_mult = _dec2(F.lit(1)) + _dec2(F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec2(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec2(F.col("l_extendedprice")) * disc * charge_mult).cast("double").alias("sum_charge"),
            (F.sum(_dec2(F.col("l_quantity"))).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec2(F.col("l_extendedprice"))).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(_dec2(F.col("l_discount"))).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_Q1 = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark, sf_dir):
    """Join + agg + deterministic top-k. orders/customer scale with the
    data, so no forced broadcast — AQE converts to broadcast joins at
    runtime when the filtered sides are actually small."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == Q3_SEGMENT)
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_nation_revenue(spark, sf_dir):
    """Star-join through region→nation→(customer,supplier)→orders→lineitem.
    Only the constant-size dims (region: 5 rows, nation: 25 rows) are
    force-broadcast; customer/supplier/orders scale with the data, so
    those joins are left to AQE."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == Q5_REGION)
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_HI).cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec2(F.lit(1)) - _dec2(F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_dec2(F.col("l_extendedprice")) * disc).cast("double").alias("revenue"))
    )


SQL_Q5 = f"""
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_LO} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{Q5_HI} 00:00:00'
GROUP BY n_name
"""


def q_customers_without_orders(spark, sf_dir):
    """Anti join: customers that never ordered, per market segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_customers_with_open_orders(spark, sf_dir):
    """Semi join: customers having at least one open ('O') order, per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_CUSTOMERS_WITH_OPEN_ORDERS = """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_nationkey
"""


def q_top_order_per_customer(spark, sf_dir):
    """Window row_number with unique tie-break (o_orderkey)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


SQL_TOP_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk = 1
"""


def q_sales_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


SQL_SALES_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_orders_cube(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec2(F.col("o_totalprice"))).cast("double").alias("sum_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


SQL_ORDERS_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_distinct_parts_per_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_items"),
    )


SQL_DISTINCT_PARTS_PER_FLAG = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# 15-17: events family (JSON, time, window)
# ---------------------------------------------------------------------------

def q_events_json_kpis(spark, sf_dir):
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k_val", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k_val").alias("sum_k"),
            (F.sum("k_val").cast("double") / F.count("*")).alias("avg_k"),
        )
    )


SQL_EVENTS_JSON_KPIS = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events GROUP BY event_type
"""


def q_events_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("hour", F.col("event_time")).alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_events_variant_kpis(spark, sf_dir):
    """Semi-structured ingestion via Spark 4 VARIANT: ``props`` is
    parsed ONCE into a typed variant column (binary-encoded — repeated
    extraction doesn't re-parse the JSON text, the way repeated
    get_json_object does) and fields come out with
    ``try_variant_get(..., type)``. Output is a k-value histogram
    (bucket width 20), a different shape from events_json_kpis so both
    extraction paths stay covered."""
    ev = _events(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        ev.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .withColumn("k_bucket", F.expr("k div 20"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EVENTS_VARIANT_KPIS = """
WITH e AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT k // 20 AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM e WHERE k IS NOT NULL
GROUP BY 1
"""


def q_user_growth(spark, sf_dir):
    """Growth accounting: daily new users + cumulative user base. The
    scale shape: cumulative distinct-to-date is NOT a COUNT(DISTINCT)
    over expanding windows (that rescans history per day) — each user
    contributes only their FIRST active day (one groupBy on user_id),
    daily news collapse to a ~thousands-row day series, and the
    cumulative sum windows over THAT series (the no-PARTITION window is
    fine: it sorts days, not events)."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("event_time")).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


SQL_USER_GROWTH = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
daily AS (SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users FROM first GROUP BY first_day)
SELECT strftime(first_day, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM daily
"""


def q_retention_cohorts(spark, sf_dir):
    """Retention triangle: daily signup cohorts × week offset → distinct
    active users. Built from (user, active-day) pairs de-duplicated
    FIRST (one distinct on the composite key), joined to each user's
    cohort day, then one aggregate on (cohort, offset) — the whole
    history is never rescanned per cohort."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("event_time")).alias("first_day")
    )
    act = ev.select("user_id", F.to_date("event_time").alias("d")).distinct()
    j = act.join(first, "user_id").select(
        "user_id", "first_day",
        F.floor(F.datediff("d", "first_day") / 7).cast("bigint").alias("wk"),
    )
    return (
        j.groupBy("first_day", "wk")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .select(
            F.date_format("first_day", "yyyy-MM-dd").alias("cohort_day"),
            "wk", "n_active",
        )
    )


SQL_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT strftime(first_day, '%Y-%m-%d') AS cohort_day,
       CAST((d - first_day) // 7 AS BIGINT) AS wk,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM act JOIN first USING (user_id)
GROUP BY first_day, (d - first_day) // 7
"""


def q_rollup_cascade_daily(spark, sf_dir):
    """Multi-resolution rollup cascade (the hypertable / continuous-
    aggregate pattern): the daily aggregate is computed FROM the hourly
    aggregate, not from raw events — at scale each coarser resolution
    reads the one below it (24 rows/day instead of millions), which is
    how incremental rollup trees stay cheap."""
    hourly = q_events_hourly(spark, sf_dir)
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum(F.col("sum_value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.count("*").alias("n_hours"),
        )
    )


SQL_ROLLUP_CASCADE_DAILY = f"""
WITH hourly AS ({SQL_EVENTS_HOURLY})
SELECT date_trunc('day', hour) AS day,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CAST(sum_value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM hourly GROUP BY 1
"""


def q_top_event_per_user(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


SQL_TOP_EVENT_PER_USER = """
SELECT user_id, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# 18-21: text-analysis family (documents)
# ---------------------------------------------------------------------------

TOKENS_SQL = ("CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
              "ELSE regexp_split_to_array(trim(text), '\\s+') END")


def q_doc_token_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("n_tokens", T.token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


SQL_DOC_TOKEN_STATS = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS total_tokens,
       CAST(MAX(len({TOKENS_SQL})) AS BIGINT) AS max_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY lang
"""


def _docs_with_dups(spark, sf_dir):
    """Corpus with synthesized duplicates: every doc_id % 7 == 0 appears
    again under doc_id + DUP_SALT (same text) — gives the dedup operators
    real duplicate groups to find."""
    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + DUP_SALT
    )
    return docs.unionByName(dups)


DOCS_WITH_DUPS_CTE = f"""
corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + {DUP_SALT} AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0
)
"""


def q_dedup_exact_groups(spark, sf_dir):
    return D.duplicate_groups(_docs_with_dups(spark, sf_dir))


SQL_DEDUP_EXACT_GROUPS = f"""
WITH {DOCS_WITH_DUPS_CTE},
fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM corpus
),
groups AS (SELECT fp, COUNT(*) AS group_size FROM fp GROUP BY fp)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups
FROM groups GROUP BY group_size
"""


def _occ_sql(expr: str, needle: str) -> str:
    return (f"CAST((length({expr}) - length(replace({expr}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


def _lang_score_sql(lang: str) -> str:
    padded = "(' ' || lower(text) || ' ')"
    return " + ".join(_occ_sql(padded, m) for m in T.LANG_MARKERS[lang])


def q_lang_id_confusion(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("predicted_lang", T.predicted_lang(F.col("text")))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_LANG_ID_CONFUSION = f"""
WITH scored AS (
  SELECT lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS predicted_lang
  FROM scored
)
SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, predicted_lang
"""

# quality score: identical arithmetic on both sides, then DECIMAL-exact avg
_ALPHA_SQL = ("(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
              " / NULLIF(CAST(length(text) AS DOUBLE), 0.0)")
_PUNCT_SQL = ("length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g'))"
              " / NULLIF(CAST(length(text) AS DOUBLE), 0.0)")
_AVG_TOK_LEN_SQL = (
    f"list_sum(list_transform({TOKENS_SQL}, t -> CAST(length(t) AS BIGINT)))"
    f" / NULLIF(CAST(len({TOKENS_SQL}) AS DOUBLE), 0.0)"
)
_NTOK_SQL = f"CAST(len({TOKENS_SQL}) AS BIGINT)"
_QUALITY_SQL = (
    f"0.4 * COALESCE({_ALPHA_SQL}, 0.0)"
    f" + 0.3 * LEAST(CAST({_NTOK_SQL} AS DOUBLE) / 100.0, 1.0)"
    f" + 0.2 * (CASE WHEN ({_AVG_TOK_LEN_SQL}) >= 3 AND ({_AVG_TOK_LEN_SQL}) <= 10"
    f" THEN 1.0 ELSE 0.5 END)"
    f" - 0.1 * COALESCE({_PUNCT_SQL}, 0.0)"
)


def q_quality_by_source(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    q = T.quality_score(F.col("text"))
    return (
        docs.withColumn("q", q)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum(F.col("q").cast("decimal(18,8)")).cast("double") / F.count("*")
             ).alias("avg_quality"),
        )
    )


SQL_QUALITY_BY_SOURCE = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(({_QUALITY_SQL}) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_quality
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# 22-25: dedup (minhash) + similarity (embeddings)
# ---------------------------------------------------------------------------

_MINHASH_SQL_HASHES = (
    f"list_transform(list_distinct(s), x -> "
    f"CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % {D.MINHASH_PRIME})"
)


def _minhash_cte(src: str = "corpus") -> str:
    """CTE producing doc_id, mh0..mh{k-1} from ``src`` (any relation
    with doc_id + text columns)."""
    mh_cols = ", ".join(
        f"list_min(list_transform(h, v -> (v * {a} + {b}) % {D.MINHASH_PRIME})) AS mh{i}"
        for i, (a, b) in enumerate(D.minhash_params(MINHASH_K))
    )
    return f"""
toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM {src}),
sh AS (SELECT doc_id,
       CASE WHEN len(t) < {SHINGLE_N} THEN [array_to_string(t, ' ')]
            ELSE list_transform(range(0, len(t) - {SHINGLE_N - 1}),
                                i -> array_to_string(t[i+1:i+{SHINGLE_N}], ' '))
       END AS s
       FROM toks),
hs AS (SELECT doc_id, {_MINHASH_SQL_HASHES} AS h FROM sh),
mh AS (SELECT doc_id, {mh_cols} FROM hs)
"""


def q_minhash_signatures(spark, sf_dir):
    docs = _docs_with_dups(spark, sf_dir)
    sig = docs.select(
        "doc_id", D.minhash_signature(F.col("text"), MINHASH_K, SHINGLE_N).alias("sig")
    )
    cols = [F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(MINHASH_K)]
    return sig.select("doc_id", *cols)


SQL_MINHASH_SIGNATURES = f"""
WITH {DOCS_WITH_DUPS_CTE},
{_minhash_cte()}
SELECT * FROM mh
"""


def q_minhash_near_dup_pairs(spark, sf_dir):
    """Full generate-then-verify near-dup pipeline: banded MinHash-LSH
    candidates, exact n-gram-Jaccard verification."""
    docs = _docs_with_dups(spark, sf_dir)
    return D.near_dup_pairs(
        docs, threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS
    ).select("id_a", "id_b", _flr("jaccard", 6).alias("jaccard"))


INCR_BATCH_MOD = 5  # "new batch" = docs where doc_id % 5 == 0 (pre-dup ids)


def q_incremental_near_dup(spark, sf_dir):
    """Incremental LSH index maintenance as a checkable query: the
    standing corpus's materialized index (operators/dedup.py:
    build_dedup_index) plus a new-batch probe must produce EXACTLY the
    full-recompute near-dup pairs restricted to pairs touching the
    batch — the identity that makes O(batch)-cost ingest dedup safe to
    run instead of corpus-wide recompute. The oracle replays the full
    SQL pipeline with that restriction."""
    docs = _docs_with_dups(spark, sf_dir)
    is_new = (F.col("doc_id") % DUP_SALT) % INCR_BATCH_MOD == 0
    index = D.build_dedup_index(docs.where(~is_new), k=MINHASH_K)
    pairs, _updated = D.incremental_near_dup_pairs(
        index, docs.where(is_new),
        threshold=NEAR_DUP_THRESHOLD, k=MINHASH_K, bands=MINHASH_BANDS,
    )
    return pairs.select("id_a", "id_b", _flr("jaccard", 6).alias("jaccard"))


def _bands_sql() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    cases = " ".join(
        "WHEN {band} THEN {expr}".format(
            band=b,
            expr=" || ',' || ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return (
        f"SELECT doc_id, band, CASE band {cases} END AS bucket "
        f"FROM mh, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band)"
    )


def _near_dup_ctes(src: str = "corpus") -> str:
    """CTE chain producing ``verified``(id_a, id_b, j) — the MinHash-LSH
    generate-then-verify pipeline over ``src`` (doc_id + text)."""
    return f"""{_minhash_cte(src)},
bands AS ({_bands_sql()}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id
),
shingle_sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
verified AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
         / NULLIF(CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE), 0.0) AS j
  FROM cand
  JOIN shingle_sets a ON a.doc_id = id_a
  JOIN shingle_sets b ON b.doc_id = id_b
)"""


SQL_MINHASH_NEAR_DUP_PAIRS = f"""
WITH {DOCS_WITH_DUPS_CTE},
{_near_dup_ctes()}
SELECT id_a, id_b, FLOOR(CAST((j) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
FROM verified WHERE j >= {NEAR_DUP_THRESHOLD}
"""

SQL_INCREMENTAL_NEAR_DUP = f"""
SELECT id_a, id_b, jaccard FROM ({SQL_MINHASH_NEAR_DUP_PAIRS}) p
WHERE (id_a % {DUP_SALT}) % {INCR_BATCH_MOD} = 0
   OR (id_b % {DUP_SALT}) % {INCR_BATCH_MOD} = 0
"""

_COS_SQL_TEMPLATE = (
    "list_sum(list_transform(range(1, {dim1}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cosine_sql(a: str, b: str) -> str:
    dim1 = EMB_DIM + 1
    dot = _COS_SQL_TEMPLATE.format(dim1=dim1, a=a, b=b)
    na = _COS_SQL_TEMPLATE.format(dim1=dim1, a=a, b=a)
    nb = _COS_SQL_TEMPLATE.format(dim1=dim1, a=b, b=b)
    return f"({dot}) / NULLIF(sqrt({na}) * sqrt({nb}), 0.0)"


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-k against the vec_id=0 embedding."""
    emb = _emb(spark, sf_dir)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return S.brute_force_topk(emb, list(qvec), k=KNN_K)


SQL_KNN_BRUTEFORCE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, FLOOR(CAST(({_cosine_sql('embedding', 'q.qv')}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM embeddings, q
ORDER BY cosine_sim DESC, vec_id
LIMIT {KNN_K}
"""


EMB_DUP_PLANES = 12


def _plane_literal(p: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in p) + "]"


def _sig_sql(col: str, n_planes: int = ANN_PLANES) -> str:
    """DuckDB mirror of ``vectors.sign_bits`` for the deterministic
    hyperplanes (same xorshift64 sequence, same bit order)."""
    planes = S.deterministic_planes(EMB_DIM, n_planes)
    terms = []
    for i, p in enumerate(planes):
        dot = (f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
               f"j -> CAST({col}[j] AS DOUBLE) * ({_plane_literal(p)})[j]))")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def q_embedding_near_dup(spark, sf_dir):
    """LSH-bucketed near-dup pairs — the 100 TB path IS the declared
    query: candidates come from a self-join on the 12-bit sign-random-
    projection signature (bounded buckets, never O(n²)), then exact
    cosine verify. The all-pairs exact variant survives as the small-sf
    recall audit (tests/test_operators_ext.py)."""
    emb = _emb(spark, sf_dir)
    return S.embedding_near_dup_pairs(
        emb, threshold=EMB_DUP_THRESHOLD, bucketed=True,
        n_planes=EMB_DUP_PLANES, dim=EMB_DIM,
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH sigs AS (
  SELECT vec_id, embedding, {_sig_sql('embedding', EMB_DUP_PLANES)} AS sig
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       FLOOR(CAST(({_cosine_sql('a.embedding', 'b.embedding')}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE FLOOR(CAST(({_cosine_sql('a.embedding', 'b.embedding')}) AS DOUBLE) * 1e6 + 0.5) / 1e6 >= {EMB_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# 26-33: multimodal, simhash, ANN, sessionization, as-of join, range join,
# streaming
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Binary-column metadata path: bytes → (size, content hash) with
    JVM expressions only (multimodal/binary_ops.py)."""
    from ..multimodal.binary_ops import documents_as_media, with_media_meta

    docs = _docs(spark, sf_dir)
    return with_media_meta(documents_as_media(docs), mime="text/plain")


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha256,
       'text/plain' AS mime
FROM documents
"""


MM_FEATURE_DIM = 8


def q_multimodal_features(spark, sf_dir):
    """Arrow-batched (mapInPandas) stub feature extraction. The decode
    step is the designated stub (multimodal/binary_ops.py:decode_stub)
    but it is DETERMINISTIC byte arithmetic, so it has an exact DuckDB
    mirror — per-byte access via hex()+substr over the same UTF-8
    payload.

    The library API returns the feature as ``array<double>``; the
    declared query projects it to a canonical comma-joined string so the
    driver's pandas canonicalizer (which sorts/hashes scalar cells) can
    handle it.  Each component is scaled to integer micro-units
    (round(v*1e6) as BIGINT) rather than fixed-decimal-formatted:
    Spark's format_string('%.6f') (Java HALF_UP) and DuckDB's printf
    (half-to-even) disagree on exact .xxxxxx5 ties, which byte means
    over power-of-two payload lengths do produce.  Both engines compute
    the same IEEE double and round() half-up/half-away agrees on
    non-negative ties, so integers compare exactly."""
    from ..multimodal.binary_ops import documents_as_media, extract_features

    docs = _docs(spark, sf_dir)
    feats = extract_features(documents_as_media(docs), dim=MM_FEATURE_DIM)
    return feats.select(
        "media_id",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform(
                "feature", lambda v: F.round(v * F.lit(1e6)).cast("long")
            ),
        ).alias("feature_micro_csv"),
    )


#: DuckDB mirror of decode_stub + extract_features: mean_byte is the
#: byte-histogram mean over the UTF-8 payload; feature[i] = (mean+i)%256,
#: scaled to integer micro-units (see q_multimodal_features docstring for
#: why integers, not printf('%.6f')).
SQL_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n,
         hex(encode(text)) AS h
  FROM documents
),
s AS (
  SELECT media_id, n,
         CASE WHEN n = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(range(0, n),
                     i -> CAST(concat('0x', substr(h, i*2+1, 2)) AS INT))) AS DOUBLE) / n
         END AS mean_byte
  FROM m
)
SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
       array_to_string(list_transform(range(0, {MM_FEATURE_DIM}),
         i -> CAST(round(fmod(mean_byte + i, 256) * 1e6) AS BIGINT)), ',') AS feature_micro_csv
FROM s
"""


SIMHASH_BITS = 32


def q_simhash_signatures(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", D.simhash(F.col("text"), SIMHASH_BITS).alias("simhash32")
    )


def _simhash_cte(table: str = "documents") -> str:
    """CTE body producing (doc_id, simhash32) from ``table``."""
    votes = ", ".join(
        f"list_sum(list_transform(h, v -> CASE WHEN (v >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
tokss AS (SELECT doc_id, {TOKENS_SQL} AS t FROM {table}),
hs2 AS (SELECT doc_id,
      list_transform(list_distinct(t),
                     x -> CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT)) AS h
      FROM tokss),
votes AS (SELECT doc_id, {votes} FROM hs2),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash32 FROM votes)
"""


SQL_SIMHASH_SIGNATURES = f"""
WITH {_simhash_cte('documents')}
SELECT doc_id, simhash32 FROM sigs
"""

SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # < bands ⇒ banding has FULL recall (pigeonhole)


def q_simhash_near_dup_pairs(spark, sf_dir):
    """SimHash near-dup pair finding: band the 32-bit signature into 4
    bytes; docs sharing any band byte are candidates (pigeonhole: any
    pair within Hamming 3 shares ≥1 untouched band → total recall);
    verify with bit_count(xor). The join key is (band, byte) — bounded
    bucket sizes, never O(n²)."""
    docs = _docs_with_dups(spark, sf_dir)
    sig = docs.select("doc_id", D.simhash(F.col("text"), SIMHASH_BITS).alias("sig"))
    band_vals = F.array(*[
        F.shiftright("sig", b * 8).bitwiseAND(F.lit(255)) for b in range(SIMHASH_BANDS)
    ])
    banded = sig.select(
        "doc_id", "sig", F.posexplode(band_vals).alias("band", "bval")
    )
    x, y = banded.alias("x"), banded.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"),
            F.col("x.sig").alias("sa"), F.col("y.sig").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cands.where(hamming <= SIMHASH_MAX_HAMMING)
        .select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
    )


SQL_SIMHASH_NEAR_DUP_PAIRS = f"""
WITH {DOCS_WITH_DUPS_CTE},
{_simhash_cte('corpus')},
banded AS (
  SELECT doc_id, simhash32, band,
         (simhash32 >> (band * 8)) & 255 AS bval
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band)
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                  x.simhash32 AS sa, y.simhash32 AS sb
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
"""

ANN_PROBE_HAMMING = 2


def q_ann_lsh_topk(spark, sf_dir):
    """ANN top-k: sign-random-projection bucket probe + exact re-rank
    (in-memory variant; the storage-pruned variant is ann_lsh_indexed)."""
    emb = _emb(spark, sf_dir)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return S.lsh_topk(
        emb, list(qvec), k=KNN_K, n_planes=ANN_PLANES,
        probe_hamming=ANN_PROBE_HAMMING, dim=EMB_DIM,
    )


def q_ann_lsh_indexed(spark, sf_dir):
    """ANN top-k against a MATERIALIZED signature-partitioned index
    (similarity.write_lsh_index → partitionBy(sig_prefix)): the probe
    enumerates the Hamming-ball bucket values, so the parquet scan is
    partition-pruned (PartitionFilters, asserted in
    tests/test_plan_quality.py) — result-identical to ann_lsh_topk."""
    emb = _emb(spark, sf_dir)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    # build-once, probe-many: the index is the durable artifact (like
    # the fragment warehouse); rebuild only when absent, shared with
    # the recall/NDCG audits (_ann_lsh_index). At 100 TB raise
    # LSH_INDEX_PREFIX_BITS so each bucket stays a few hundred MB —
    # pruning ratio improves with every bit.
    idx_path = _ann_lsh_index(spark, sf_dir)
    return S.lsh_topk_indexed(
        spark, idx_path, list(qvec), k=KNN_K, n_planes=ANN_PLANES,
        probe_hamming=ANN_PROBE_HAMMING, prefix_bits=LSH_INDEX_PREFIX_BITS,
        dim=EMB_DIM,
    )


def _lsh_topk_sql(probe_hamming: int) -> str:
    """Parameterized DuckDB mirror of similarity.lsh_topk (probe radius
    is the tuning dial the recall audit sweeps)."""
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT {_sig_sql('qv')} AS qsig, qv FROM q),
sigs AS (SELECT vec_id, embedding, {_sig_sql('embedding')} AS sig FROM embeddings),
cands AS (
  SELECT s.vec_id, s.embedding, qs.qv
  FROM sigs s, qs
  WHERE bit_count(xor(s.sig, qs.qsig)) <= {probe_hamming}
)
SELECT vec_id, FLOOR(CAST(({_cosine_sql('embedding', 'qv')}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM cands
ORDER BY cosine_sim DESC, vec_id
LIMIT {KNN_K}
"""


SQL_ANN_LSH_TOPK = _lsh_topk_sql(ANN_PROBE_HAMMING)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: deterministic k-means coarse quantizer (seeded by
    lowest-id vectors, one Lloyd step as DataFrame aggs), nprobe-list
    probe, exact re-rank (operators/similarity.py:ivf_topk). The whole
    pipeline — seeds, round-6 Lloyd means, round-6 distance argmins —
    is deterministic arithmetic, so the DuckDB oracle replays it as
    static SQL (SQL_ANN_IVF_TOPK). The probe runs against the
    build-once MATERIALIZED index (_ann_ivfpq_index → partition-pruned
    nprobe-list read), result-identical to the inline operator with
    the same cached quantizer — and the honest 100 TB serving shape:
    assignment happens once at index-build time, never per probe."""
    emb = _emb(spark, sf_dir)
    idx_path, cents, _books = _ann_ivfpq_index(spark, sf_dir)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return S.ivf_topk_indexed(
        spark, idx_path, list(qvec), cents, k=KNN_K, nprobe=IVF_NPROBE
    )


def _sq_l2_sql(a: str, b: str) -> str:
    """Squared-L2 between two DuckDB lists, mirroring similarity._sq_l2
    (elementwise (x-y)*(x-y), summed)."""
    diff = f"(CAST({a}[j] AS DOUBLE) - CAST({b}[j] AS DOUBLE))"
    return (f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
            f"j -> {diff} * {diff}))")


# Static-SQL replay of the deterministic IVF pipeline: seeds = the
# n_lists lowest-id vectors; one Lloyd step whose per-dim means are
# FLOOR(CAST((...) AS DOUBLE) * 1e6 + 0.5) / 1e6; every argmin compares FLOOR(CAST((dist) AS DOUBLE) * 1e6 + 0.5) / 1e6 with ties to the
# lowest list index — exactly similarity.kmeans_centroids/ivf_topk.
SQL_ANN_IVF_TOPK = f"""
WITH seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id,
         embedding AS seed
  FROM embeddings ORDER BY vec_id LIMIT {IVF_N_LISTS}
),
assign0 AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, s.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY FLOOR(CAST(({_sq_l2_sql('e.embedding', 's.seed')}) AS DOUBLE) * 1e6 + 0.5) / 1e6, s.list_id
           ) AS rk
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rk = 1
),
dims AS (SELECT CAST(range AS INT) AS j FROM range(1, {EMB_DIM + 1})),
means AS (
  SELECT a.list_id, d.j, FLOOR(CAST((AVG(CAST(e.embedding[d.j] AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS m
  FROM assign0 a JOIN embeddings e USING (vec_id) CROSS JOIN dims d
  GROUP BY a.list_id, d.j
),
cents AS (
  SELECT s.list_id,
         COALESCE(mm.c, list_transform(s.seed, v -> CAST(v AS DOUBLE))) AS cent
  FROM seeds s LEFT JOIN (
    SELECT list_id, list(m ORDER BY j) AS c FROM means GROUP BY list_id
  ) mm USING (list_id)
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.list_id FROM cents c, q
  ORDER BY FLOOR(CAST(({_sq_l2_sql('q.qv', 'c.cent')}) AS DOUBLE) * 1e6 + 0.5) / 1e6, c.list_id
  LIMIT {IVF_NPROBE}
),
assign1 AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY FLOOR(CAST(({_sq_l2_sql('e.embedding', 'c.cent')}) AS DOUBLE) * 1e6 + 0.5) / 1e6, c.list_id
           ) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
)
SELECT e.vec_id, FLOOR(CAST(({_cosine_sql('e.embedding', 'q.qv')}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM embeddings e JOIN assign1 a USING (vec_id) CROSS JOIN q
WHERE a.list_id IN (SELECT list_id FROM probe)
ORDER BY cosine_sim DESC, e.vec_id
LIMIT {KNN_K}
"""


def q_ann_index_balance_audit(spark, sf_dir):
    """IVF index health audit over the MATERIALIZED index: per-list
    vector count, corpus share, and load factor (n·n_lists/total — 1.0
    is perfectly balanced). List skew is THE operational failure mode
    of IVF at 100 TB: a hot list turns the nprobe partition-pruned
    read into a near-full scan, and this audit is what a reindexing
    decision reads. One groupBy over the index's partition column plus
    a broadcast one-row total — no raw-vector arithmetic at all (the
    assignment was paid at index-build time). The oracle replays the
    deterministic assignment statically (the SQL_ANN_IVF_TOPK CTE
    chain) and aggregates the same counts."""
    idx_path, _cents, _books = _ann_ivfpq_index(spark, sf_dir)
    idx = spark.read.parquet(idx_path)
    counts = idx.groupBy(
        F.col("_list").cast("int").alias("list_id")
    ).agg(F.count("*").cast("bigint").alias("n_vectors"))
    tot = counts.agg(F.sum("n_vectors").cast("bigint").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "n_vectors",
            _flr(
                F.col("n_vectors").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("share"),
            _flr(
                F.col("n_vectors").cast("double")
                * F.lit(float(IVF_N_LISTS))
                / F.col("_tot").cast("double"),
                6,
            ).alias("load_factor"),
        )
        .orderBy("list_id")
    )


#: static replay of the deterministic one-Lloyd-step assignment (the
#: same seeds/assign0/means/cents/assign1 chain as SQL_ANN_IVF_TOPK,
#: minus the query-probe half), aggregated to per-list counts.
SQL_ANN_INDEX_BALANCE_AUDIT = f"""
WITH seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id,
         embedding AS seed
  FROM embeddings ORDER BY vec_id LIMIT {IVF_N_LISTS}
),
assign0 AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, s.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY FLOOR(CAST(({_sq_l2_sql('e.embedding', 's.seed')}) AS DOUBLE) * 1e6 + 0.5) / 1e6, s.list_id
           ) AS rk
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rk = 1
),
dims AS (SELECT CAST(range AS INT) AS j FROM range(1, {EMB_DIM + 1})),
means AS (
  SELECT a.list_id, d.j, FLOOR(CAST((AVG(CAST(e.embedding[d.j] AS DOUBLE))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS m
  FROM assign0 a JOIN embeddings e USING (vec_id) CROSS JOIN dims d
  GROUP BY a.list_id, d.j
),
cents AS (
  SELECT s.list_id,
         COALESCE(mm.c, list_transform(s.seed, v -> CAST(v AS DOUBLE))) AS cent
  FROM seeds s LEFT JOIN (
    SELECT list_id, list(m ORDER BY j) AS c FROM means GROUP BY list_id
  ) mm USING (list_id)
),
assign1 AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY FLOOR(CAST(({_sq_l2_sql('e.embedding', 'c.cent')}) AS DOUBLE) * 1e6 + 0.5) / 1e6, c.list_id
           ) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
counts AS (
  SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assign1 GROUP BY list_id
),
tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS t FROM counts)
SELECT list_id, n_vectors,
       FLOOR(CAST((CAST(n_vectors AS DOUBLE) / CAST(t AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share,
       FLOOR(CAST((CAST(n_vectors AS DOUBLE) * {float(IVF_N_LISTS)} / CAST(t AS DOUBLE)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS load_factor
FROM counts CROSS JOIN tot
ORDER BY list_id
"""


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (batch form): lag + cumulative-sum
    session ids, per-user session stats. The streaming form of the same
    semantics lives in streaming/events.py (applyInPandasWithState)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    prev = F.lag("tsn").over(w)
    new_s = F.when(prev.isNull() | ((F.col("tsn") - prev) > SESSION_GAP_US), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        ev.withColumn("sess_id", F.sum(new_s).over(wc))
        .groupBy("user_id")
        .agg(
            F.max("sess_id").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_SESSIONIZATION = f"""
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
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id
"""


def q_asof_click_attribution(spark, sf_dir):
    """As-of join (operator Spark lacks natively, operators/joins.py):
    each purchase attributed to the user's most recent prior click."""
    from ..operators.joins import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "tsn"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "tsn", F.col("event_id").alias("click_id")
    )
    joined = asof_join(purchases, clicks, on=["user_id"], ts_col="tsn")
    return joined.select(
        "purchase_id", "user_id",
        F.col("click_id_right").alias("click_id"),
        (F.col("tsn") - F.col("tsn_right")).cast("bigint").alias("gap_us"),
    )


SQL_ASOF_CLICK_ATTRIBUTION = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

PRICE_BANDS = [
    ("p0_50k", 0.0, 50_000.0),
    ("p50_100k", 50_000.0, 100_000.0),
    ("p100_200k", 100_000.0, 200_000.0),
    ("p200_350k", 200_000.0, 350_000.0),
    ("p350k_up", 350_000.0, 500_000.0),
]


def q_range_join_price_bands(spark, sf_dir):
    """Interval/range join (operators/joins.py): orders classified into
    price bands; small band table broadcasts."""
    from ..operators.joins import range_join_bucketed

    orders = _t(spark, sf_dir, "orders")
    # VALUES literal, not createDataFrame: keeps the tiny dim table
    # JVM-side (createDataFrame routes through a Python RDD scan that
    # costs a Python-worker spin-up per execution)
    bands = spark.sql(
        "SELECT band_name, CAST(lo AS DOUBLE) lo, CAST(hi AS DOUBLE) hi FROM (VALUES "
        + ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)
        + ") AS t(band_name, lo, hi)"
    )
    joined = range_join_bucketed(orders, bands, "o_totalprice", "lo", "hi")
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec2(F.col("o_totalprice"))).cast("double").alias("sum_price"),
    )


_BANDS_VALUES = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)

SQL_RANGE_JOIN_PRICE_BANDS = f"""
SELECT band_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
JOIN (VALUES {_BANDS_VALUES}) b(band_name, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_name
"""


#: state shards for the AvailableNow replays: one state store opens per
#: shuffle partition per micro-batch, so at test scale fewer, fuller
#: shards beat 32 nearly-empty ones (~5x on the stream-stream join).
#: See streaming/events.py:_run_to_memory for how to size this at
#: cluster scale.
STREAM_STATE_SHARDS = 8


def _stream_join_shards(sf_dir: str) -> int:
    """State shards for stream-stream JOIN replays, derived from the
    events fixture's row count (parquet FOOTER reads — no Spark job;
    a directory of parquet files sums its files' counts). Falls back to
    ``STREAM_STATE_SHARDS``, with a warning, when the fixture is
    missing or pyarrow is not installed.

    A stream-stream join opens FOUR state stores per shard per
    micro-batch (two sides × keyed/value stores), so its per-shard init
    cost is ~4× an aggregation's and the break-even shard size is
    correspondingly larger: one shard per ~50k source rows, floor 2
    (never serialize below two tasks), cap 256 (the r15 A/B at sf0.1 —
    100k events — read 3.55s@2 / 4.70s@8 / 5.96s@16 on the louter
    replay, while the AGGREGATION replays were flat-to-worse below 8,
    so only the join queries use this). A derived value: at warehouse
    scale the same rule yields hundreds of shards."""
    path = f"{sf_dir}/events.parquet"
    try:
        import pyarrow.dataset as pads

        n = pads.dataset(path, format="parquet").count_rows()
    except (FileNotFoundError, ImportError) as exc:
        _log.warning(
            "no row count for %s (%s); using %d state shards",
            path, exc, STREAM_STATE_SHARDS,
        )
        return STREAM_STATE_SHARDS
    return max(2, min(256, n // 50_000))


def q_streaming_hourly(spark, sf_dir):
    """Structured Streaming (AvailableNow) hourly rollup — must equal
    the batch hourly aggregate (same oracle as events_hourly)."""
    from ..streaming.events import hourly_rollup, read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(
        hourly_rollup(stream), spark, state_partitions=STREAM_STATE_SHARDS
    )


SQL_STREAMING_HOURLY = SQL_EVENTS_HOURLY


def q_streaming_enriched(spark, sf_dir):
    """Stream-static dimension enrichment (AvailableNow): the events
    stream joins the static customer table per micro-batch (no join
    state — streaming/events.py:enrich_with_dimension), then aggregates
    spend by market segment. Must equal the batch join, which is the
    oracle."""
    from ..streaming.events import (
        enrich_with_dimension,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = enrich_with_dimension(stream, dim, "user_id", "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return run_available_now(agg, spark, state_partitions=STREAM_STATE_SHARDS)


SQL_STREAMING_ENRICHED = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# 34-39: TPC-H q6/q4/q17 shapes + rolling-hash fingerprints, BPE tokens,
# blocked exact n-gram Jaccard
# ---------------------------------------------------------------------------

Q6_LO, Q6_HI = "1995-01-01", "1996-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY = 24


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: scan + conjunctive filter + global agg, zero
    joins — the pure pushdown showcase (all three predicates reach the
    parquet scan, see tests/test_plan_quality.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(Q6_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q6_HI).cast("timestamp"))
            & F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI)
            & (F.col("l_quantity") < Q6_QTY)
        )
        .agg(
            F.sum(_dec2(F.col("l_extendedprice")) * _dec2(F.col("l_discount")))
            .cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_Q6 = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_LO} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q6_HI} 00:00:00'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY}
"""


def q4_priority_returns(spark, sf_dir):
    """TPC-H Q4 shape: grouped EXISTS — orders with ≥1 returned line,
    counted per priority. Left-semi join: the lineitem side is reduced
    to its join key before the shuffle, no row multiplication."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


SQL_Q4 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg
    quantity) decorrelated into an aggregate + self-join — the form
    Catalyst can plan as a shuffle join on l_partkey with AQE sizing.
    The threshold avg is DECIMAL-exact so both engines agree."""
    li = _t(spark, sf_dir, "lineitem")
    th = li.groupBy("l_partkey").agg(
        ((F.sum(_dec2(F.col("l_quantity"))).cast("double") / F.count("*"))
         * F.lit(0.5)).alias("qty_thresh")
    )
    return (
        li.join(th, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(_dec2(F.col("l_extendedprice"))).cast("double") / F.lit(7.0))
            .alias("avg_yearly"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_Q17 = """
WITH th AS (
  SELECT l_partkey,
         (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) * 0.5 AS qty_thresh
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem JOIN th USING (l_partkey)
WHERE l_quantity < qty_thresh
"""


def q_doc_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprinting (functions/text.py): an
    order-sensitive polynomial fold over the token-hash stream."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("fp_roll")
    )


SQL_DOC_FINGERPRINTS = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
h AS (SELECT doc_id,
      list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 13)) AS BIGINT) % {T.ROLL_MOD}) AS h
      FROM toks)
SELECT doc_id,
       CAST(CASE WHEN len(h) = 0 THEN 0
            ELSE list_reduce(h, (acc, x) -> (acc * {T.ROLL_BASE} + x) % {T.ROLL_MOD})
            END AS BIGINT) AS fp_roll
FROM h
"""


def q_bpe_token_stats(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs /
    digit runs / single symbols) next to plain whitespace tokens."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("n_bpe", T.bpe_token_count(F.col("text")))
        .withColumn("n_ws", T.token_count(F.col("text")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            (F.sum("n_bpe").cast("double") / F.count("*")).alias("avg_bpe_tokens"),
            F.sum("n_ws").alias("total_ws_tokens"),
        )
    )


_BPE_LEN_SQL = f"CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT)"

SQL_BPE_TOKEN_STATS = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({_BPE_LEN_SQL}) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM({_BPE_LEN_SQL}) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens,
       CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS total_ws_tokens
FROM documents GROUP BY source
"""


LEN_BUCKET = 64  # chars per length-blocking bucket


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Standalone exact n-gram Jaccard dedup (no LSH): total recall
    within a blocking key (operators/dedup.py:blocked_jaccard_pairs).
    Blocked on (lang, length bucket) — near-dups virtually always agree
    on language and approximate length, and the composite key keeps
    each block's pair count quadratic in a SMALL group regardless of
    corpus size."""
    docs = _docs_with_dups(spark, sf_dir).withColumn(
        "len_bucket", F.floor(F.col("n_chars") / F.lit(LEN_BUCKET))
    )
    return D.blocked_jaccard_pairs(
        docs, block_cols=("lang", "len_bucket"),
        threshold=NEAR_DUP_THRESHOLD, shingle_n=SHINGLE_N,
    ).select("id_a", "id_b", _flr("jaccard", 6).alias("jaccard"))


_JACCARD_EXPR = (
    "CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)"
    " / NULLIF(CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE), 0.0)"
)

SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {DOCS_WITH_DUPS_CTE},
toksj AS (SELECT doc_id, lang, FLOOR(n_chars / {LEN_BUCKET}) AS len_bucket,
                 {TOKENS_SQL} AS t FROM corpus),
shj AS (SELECT doc_id, lang, len_bucket,
        CASE WHEN len(t) < {SHINGLE_N} THEN [array_to_string(t, ' ')]
             ELSE list_transform(range(0, len(t) - {SHINGLE_N - 1}),
                                 i -> array_to_string(t[i+1:i+{SHINGLE_N}], ' '))
        END AS s
        FROM toksj),
ssj AS (SELECT doc_id, lang, len_bucket, list_distinct(s) AS ss FROM shj)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, FLOOR(CAST(({_JACCARD_EXPR}) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
FROM ssj a JOIN ssj b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE {_JACCARD_EXPR} >= {NEAR_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# 40-44: sliding windows, native session windows, exact quantiles,
# set operations, pivot
# ---------------------------------------------------------------------------

SLIDE_US = 900_000_000  # 15 min
WIN_US = 3_600_000_000  # 1 hour
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_sliding_windows(spark, sf_dir):
    """Sliding-window aggregate (1h window, 15min slide): each event
    lands in 4 overlapping windows — Spark's window() generator; the
    oracle reproduces it with an explicit 4-offset unnest."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("event_time", "1 hour", "15 minutes").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value")
    )


SQL_EVENTS_SLIDING_WINDOWS = f"""
WITH ev AS (SELECT epoch_us(ts) AS tus, value FROM events),
assigned AS (
  SELECT (tus - (tus % {SLIDE_US})) - CAST(k AS BIGINT) * {SLIDE_US} AS win_start_us, value
  FROM ev, (SELECT unnest([0, 1, 2, 3]) AS k)
  WHERE (tus - (tus % {SLIDE_US})) - CAST(k AS BIGINT) * {SLIDE_US} > tus - {WIN_US}
)
SELECT make_timestamp(win_start_us) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM assigned GROUP BY win_start_us
"""

def q_session_windows(spark, sf_dir):
    """Native session_window (gap-merged event-time windows) — the
    built-in counterpart of the custom applyInPandasWithState
    sessionizer; window end = last event + gap."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("event_time", "30 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


SQL_SESSION_WINDOWS = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
flagged AS (
  SELECT user_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)
),
sess AS (
  SELECT user_id, tus,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       make_timestamp(MIN(tus)) AS session_start,
       make_timestamp(MAX(tus) + {SESSION_GAP_US}) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


def q_events_value_quantiles(spark, sf_dir):
    """Exact percentiles (linear interpolation — percentile(), not the
    approx sketch) per event type; rounded to 6 digits on both sides.

    Scale note: Spark's exact percentile buffers each GROUP's values in
    that group's aggregation buffer — fine while groups fit a task
    (event-type cardinality is tiny but per-type volume is not, at
    100 TB). Computed via operators/stats.grouped_percentiles_df
    (iterative histogram bisection, ≤segments·bins aggregation state
    per scan, group-cardinality-bounded driver result) — the identical
    percentile_cont interpolation arithmetic, without any O(group)
    task buffer; the tiny per-group result broadcast-joins back onto
    the one-shuffle counts."""
    from ..operators.stats import grouped_percentiles_df

    ev = _events(spark, sf_dir)
    pct = grouped_percentiles_df(ev, ["event_type"], "value", [0.5, 0.95])
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return counts.join(F.broadcast(pct), "event_type").select(
        "event_type",
        _flr(F.col("percentiles")[0], 6).alias("p50"),
        _flr(F.col("percentiles")[1], 6).alias("p95"),
        "n_events",
    )


SQL_EVENTS_VALUE_QUANTILES = """
SELECT event_type,
       FLOOR(CAST((quantile_cont(value, 0.5)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p50,
       FLOOR(CAST((quantile_cont(value, 0.95)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p95,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def q_user_setops(spark, sf_dir):
    """Set operations: INTERSECT / EXCEPT / UNION-DISTINCT over the
    clicker and buyer user-id sets, as one row of counts."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    click_only = clicks.subtract(buys).agg(F.count("*").alias("n_click_only"))
    both = clicks.intersect(buys).agg(F.count("*").alias("n_both"))
    either = clicks.union(buys).distinct().agg(F.count("*").alias("n_either"))
    return click_only.crossJoin(both).crossJoin(either)


SQL_USER_SETOPS = """
WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buys AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM clicks EXCEPT SELECT * FROM buys)) AS n_click_only,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM clicks INTERSECT SELECT * FROM buys)) AS n_both,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT * FROM clicks UNION SELECT * FROM buys)) AS n_either
"""


def q_events_pivot(spark, sf_dir):
    """Pivot: hour-of-day × event_type matrix of decimal-exact value
    sums (explicit pivot values for a deterministic schema)."""
    ev = _events(spark, sf_dir)
    hod = F.expr(f"CAST((tsn div {US_PER_HOUR}) % 24 AS INT)")
    return (
        ev.withColumn("hod", hod)
        .groupBy("hod")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"))
    )


_PIVOT_COLS_SQL = ",\n       ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS \"{t}\""
    for t in EVENT_TYPES
)

SQL_EVENTS_PIVOT = f"""
SELECT CAST((epoch_us(ts) // {US_PER_HOUR}) % 24 AS INTEGER) AS hod,
       {_PIVOT_COLS_SQL}
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------


# round-14 second wave: SQ8 scalar-quantized ANN
# ---------------------------------------------------------------------------

SQ8_LEVELS = 255  # uint8 code range: 0..255


def q_ann_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN top-k — the third quantizer family
    next to IVF (coarse) and PQ (subvector): every dimension is
    affinely mapped to a uint8 level by the corpus per-dim (min, max),
    giving 4x compression at full dimensionality with no codebook
    training. Scoring is ASYMMETRIC (full-precision query against
    decoded codes), the standard SQ serving arrangement. The (min,
    max) table is build-once corpus metadata (common._sq8_minmax,
    an `artifacts.build_once` artifact); the scan itself is one
    stateless projection + top-k — at 100 TB the codes column is what
    sits on disk and the decode is expression-level arithmetic inside
    whole-stage codegen, no Python anywhere. Every step (affine code,
    decode, round-6 cosine) is deterministic IEEE arithmetic, so the
    DuckDB oracle replays it statically."""
    emb = _emb(spark, sf_dir)
    # empty corpus: None[0] trips the registry's degenerate guard, the
    # same contract as the other ANN top-k entries
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    mins, maxs = _sq8_minmax(spark, sf_dir)
    spans = [(mx - mn) / float(SQ8_LEVELS) for mn, mx in zip(mins, maxs)]
    mins_arr = F.lit([float(m) for m in mins]).cast("array<double>")
    spans_arr = F.lit([float(s) for s in spans]).cast("array<double>")
    diff = F.zip_with(
        F.col("embedding").cast("array<double>"), mins_arr, lambda v, m: v - m
    )
    codes = F.zip_with(
        diff,
        spans_arr,
        lambda d, s: F.when(s == F.lit(0.0), F.lit(0.0)).otherwise(
            F.floor(d / s + F.lit(0.5)).cast("double")
        ),
    )
    vhat = F.zip_with(
        F.zip_with(codes, spans_arr, lambda c, s: c * s),
        mins_arr,
        lambda x, m: x + m,
    )
    qlit = F.lit([float(v) for v in qvec]).cast("array<double>")
    scored = emb.select(
        "vec_id", _flr(V.cosine(vhat, qlit), 6).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col("vec_id")).limit(KNN_K)


SQL_ANN_SQ8_TOPK = f"""
WITH dims AS (SELECT CAST(range AS INT) AS j FROM range(1, {EMB_DIM + 1})),
mm AS (
  SELECT d.j, MIN(CAST(e.embedding[d.j] AS DOUBLE)) AS mn,
         MAX(CAST(e.embedding[d.j] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN dims d GROUP BY d.j
),
meta AS (
  SELECT list(mn ORDER BY j) AS mins,
         list((mx - mn) / {float(SQ8_LEVELS)!r} ORDER BY j) AS spans
  FROM mm
),
dec AS (
  SELECT e.vec_id,
         list_transform(range(1, {EMB_DIM + 1}), i ->
           meta.mins[i] + (CASE WHEN meta.spans[i] = 0.0 THEN 0.0
             ELSE FLOOR((CAST(e.embedding[i] AS DOUBLE) - meta.mins[i])
                        / meta.spans[i] + 0.5) END) * meta.spans[i]) AS vh
  FROM embeddings e CROSS JOIN meta
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT d.vec_id,
       FLOOR(CAST(({_cosine_sql('d.vh', 'q.qv')}) AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS cosine_sim
FROM dec d CROSS JOIN q
ORDER BY cosine_sim DESC, d.vec_id
LIMIT {KNN_K}
"""
