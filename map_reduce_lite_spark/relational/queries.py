"""Relational query library over the TPC-H-ish synthetic tables.

Covers the full operator checklist from SURVEY.md §2.3 — scans,
projection/filter, all join flavors (inner/semi/anti/broadcast),
aggregation (plain, distinct, rollup, pivot), window functions (rank,
running totals, sessionization), sorts/limits/top-k, set ops, scalar
string/date/json functions — expressed as DataFrame plans so Catalyst
handles pushdown, pruning, join strategy and AQE.

Scale notes (100 TB): every query here is a straight Catalyst plan —
filters sit directly on the parquet scan (PushedFilters), small dims
(region/nation/customer at TPC-H ratios) broadcast under the configured
64 MB threshold, fact-fact joins shuffle on their keys and AQE handles
skew/coalescing. No collects, no driver-side loops, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import Query, davg, dsum, sql_davg, sql_dsum
from map_reduce_lite_spark.relational.tables import load_table


# --------------------------------------------------------------------------
# TPC-H-style analytics
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + wide aggregation.

    Reference analog: this is the `wc` pattern (filter→group→sum,
    workload/src/wc.rs) over a real fact table.
    """
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg(F.col("l_quantity"), 2).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 2)} AS sum_qty,
       {sql_dsum('l_extendedprice', 2)} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {sql_davg('l_quantity', 2)} AS avg_qty,
       {sql_davg('l_extendedprice', 2)} AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + agg + deterministic top-k.

    customer (segment-filtered, but still ~1/5 of a big dim at 100 TB)
    carries NO broadcast hint: Catalyst's size stats broadcast it at
    small scale, AQE falls back to shuffle at cluster scale;
    orders⋈lineitem shuffles on orderkey (the natural co-partition key).
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > TIMESTAMP '1999-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, dims broadcast, facts shuffle once."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, 6).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Join flavors
# --------------------------------------------------------------------------

def join_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain broadcast equi-join (the matrix-multiply join pattern,
    matrix_multiply.rs:54-96, on real dims)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


JOIN_NATION_REGION_SQL = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers that placed at least one high-value order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
"""


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers who never placed an URGENT order
    (filtered build side keeps the result non-empty at every SF)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + agg: order count per customer including zeroes
    (TPC-H Q13 shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


OUTER_JOIN_SQL = """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
"""


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------

def window_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() top-N per group with a deterministic tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))
    )


WINDOW_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer over order date (exact decimal window sum)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate", running.alias("running_total")
    )


WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS DOUBLE) AS running_total
FROM orders
"""


def window_lag_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): days since the customer's previous order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    gap_days = ((ms - prev_ms) / 86400000).cast("long")
    return o.select("o_custkey", "o_orderkey", gap_days.alias("gap_days"))


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       CAST((epoch_ms(o_orderdate) - lag(epoch_ms(o_orderdate)) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) / 86400000
            AS BIGINT) AS gap_days
FROM orders
"""


# --------------------------------------------------------------------------
# Aggregation shapes
# --------------------------------------------------------------------------

def agg_stats_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate with COUNT DISTINCT per group."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        davg(F.col("p_retailprice"), 2).alias("avg_price"),
        F.countDistinct("p_type").alias("n_types"),
    )


AGG_STATS_SQL = f"""
SELECT p_brand, COUNT(*) AS n_parts,
       MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price,
       {sql_davg('p_retailprice', 2)} AS avg_price,
       COUNT(DISTINCT p_type) AS n_types
FROM part
GROUP BY p_brand
"""


def rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (grouping sets coverage)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 2)} AS sum_qty,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (columnar re-shape) — fixed pivot values keep the plan static."""
    l = load_table(spark, sf_dir, "lineitem")
    out = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum(F.col("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_o"),
        F.col("F").alias("qty_f"),
    )


PIVOT_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 2)} AS qty_o,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 2)} AS qty_f
FROM lineitem
GROUP BY l_returnflag
"""


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (dedup-by-all-columns primitive)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


DISTINCT_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


def topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic top-k (Spark runs TakeOrderedAndProject — no
    full sort of the table)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(20)
    )


TOPK_SQL = """
SELECT p_partkey, p_name, p_retailprice
FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def setop_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION in one result: per-nation membership in
    the customer-nations and supplier-nations sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn("membership", F.lit("customer_only"))
    supp_only = s.distinct().exceptAll(c.distinct()).withColumn("membership", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(supp_only)


SETOP_SQL = """
SELECT nk, 'both' AS membership
FROM (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nk, 'customer_only' AS membership
FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
      EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nk, 'supplier_only' AS membership
FROM (SELECT DISTINCT s_nationkey AS nk FROM supplier
      EXCEPT SELECT DISTINCT c_nationkey FROM customer)
"""


# --------------------------------------------------------------------------
# Scalar functions
# --------------------------------------------------------------------------

def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (upper/length/substr/concat/replace)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
    )


STRING_FUNCS_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
       SUBSTR(p_type, 1, 3) AS type_prefix,
       p_brand || '-' || p_type AS brand_type,
       REPLACE(p_name, ' ', '_') AS name_snake
FROM part
"""


def date_funcs_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction + time-grouped aggregation."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.month("o_orderdate").cast("int").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


DATE_FUNCS_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(month(o_orderdate) AS INT) AS o_month,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS revenue
FROM orders
GROUP BY 1, 2
"""


def case_bucket_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + conditional aggregation."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return c.groupBy(bucket.alias("balance_bucket")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


CASE_BUCKET_SQL = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS balance_bucket,
       COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY 1
"""


def json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props column."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("int").alias("min_k"),
        F.max(k).cast("int").alias("max_k"),
    )


JSON_EVENTS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Event-time (batch form; streaming variants in streaming/)
# --------------------------------------------------------------------------

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window as a batch groupBy (streaming analog:
    streaming/windows.py uses the same expression under readStream)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 4).alias("sum_value"),
        )
    )


EVENTS_HOURLY_SQL = f"""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value', 4)} AS sum_value
FROM events
GROUP BY 1, 2
"""


# inactivity gap that ends a session, for every Spark-side sessionizer
SESSION_GAP_MS = 30 * 60 * 1000


def sessionize(events: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """Sessionization (inactivity gap) via gaps-and-islands windows over
    any (user_id, ts, event_id) DataFrame.

    At scale this is one shuffle by user_id; the two window passes share
    the partitioning. Streaming analog: applyInPandasWithState
    (streaming/sessions.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    new_sess = F.when(
        prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > gap_ms), 1
    ).otherwise(0)
    sess_id = F.sum(new_sess).over(w)
    sessions = events.withColumn("session_id", sess_id)
    return sessions.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_millis("ts")).alias("start_ms"),
        F.max(F.unix_millis("ts")).alias("end_ms"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms
FROM numbered
GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# Multi-dimensional grouping, subqueries, non-equi joins
# --------------------------------------------------------------------------

def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one
    pass — Spark Expand + single shuffle, not 4 scans."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity"), 2).alias("sum_qty"),
    )


CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {sql_dsum('l_quantity', 2)} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def subquery_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity)
    decorrelated into an aggregate + join — the plan Catalyst/DuckDB both
    produce; here it's written decorrelated so the shuffle structure is
    explicit (one agg over lineitem, one broadcast-joined filter pass)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    half_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (davg(F.col("l_quantity"), 2) * 0.5).alias("half_avg")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(half_avg, l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg((dsum(F.col("l_extendedprice"), 2) / 7.0).alias("avg_yearly"))
    )


SUBQUERY_Q17_SQL = f"""
SELECT {sql_dsum('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < (
    SELECT {sql_davg('l2.l_quantity', 2)} * 0.5
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def range_join_qty_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join: lineitems into quantity bands.

    The band dim is tiny → broadcast nested-loop, which at any scale is
    one narrow pass over the fact (each row tests 5 intervals). The
    general big-big range join strategy is interval bucketing: overlap
    each row with bucket floor(qty/width) and equi-join on the bucket."""
    l = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [(float(i * 10), float((i + 1) * 10), f"({i * 10},{(i + 1) * 10}]") for i in range(5)],
        "lo double, hi double, band string",
    )
    return (
        l.join(
            F.broadcast(bands),
            (l.l_quantity > bands.lo) & (l.l_quantity <= bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


RANGE_JOIN_SQL = f"""
SELECT band, COUNT(*) AS n_items, {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem
JOIN (VALUES (0.0, 10.0, '(0,10]'), (10.0, 20.0, '(10,20]'),
             (20.0, 30.0, '(20,30]'), (30.0, 40.0, '(30,40]'),
             (40.0, 50.0, '(40,50]')) AS b(lo, hi, band)
  ON l_quantity > lo AND l_quantity <= hi
GROUP BY band
"""


def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest strictly-
    earlier view event.

    Expressed as the scalable union+window formulation: tag both sides,
    sort within user by (ts, side, event_id) — purchases before views on
    ts ties keeps the match strict — and carry the last non-null view via
    an unbounded-preceding window. ONE shuffle on user_id, no per-row
    subquery, no range self-join; this is the form that survives
    billions of events per day (DuckDB's native ASOF JOIN is the same
    semantics; the oracle uses the identical window so tie-breaks are
    bit-for-bit)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        purchases.unionByName(views)
        .withColumn("prior_view_id", F.last("view_id", ignorenulls=True).over(w))
        .withColumn("prior_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            "prior_view_id",
            "prior_view_ts",
        )
    )


ASOF_JOIN_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, 0 AS side,
         CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS TIMESTAMP) AS view_ts
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, 1, event_id, ts
  FROM events WHERE event_type = 'view'
), matched AS (
  SELECT user_id, ts, event_id, side,
         last_value(view_id IGNORE NULLS) OVER w AS prior_view_id,
         last_value(view_ts IGNORE NULLS) OVER w AS prior_view_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_id, user_id, ts, prior_view_id, prior_view_ts
FROM matched WHERE side = 0
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of multi-column conjuncts across a join.

    Catalyst pushes the common parts of the disjunction to both scans and
    evaluates the residual OR post-join; the part side broadcasts."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#33") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(cond).agg(
        dsum(revenue, 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size <= 20 AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#33' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 40)
"""


def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with an extra predicate →
    left-semi join; counting by priority after."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # correlated condition references both sides → semi-join-with-condition
    # (interval add keeps timestamp type; date_add would truncate to date)
    semi = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def array_agg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array building + array functions: per order-priority, the sorted
    distinct status set (array_sort makes collect_set deterministic) and
    its cardinality. The set is emitted string-joined because the driver
    harness canonicalizes results via pandas sort_values, which cannot
    hash list cells; raw-array semantics stay pinned in
    tests/test_oracle_parity.py."""
    o = load_table(spark, sf_dir, "orders")
    statuses = F.array_sort(F.collect_set("o_orderstatus"))
    return o.groupBy("o_orderpriority").agg(
        F.array_join(statuses, ",").alias("statuses"),
        F.size(statuses).cast("int").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ARRAY_AGG_SQL = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       CAST(len(list_sort(list(DISTINCT o_orderstatus))) AS INT) AS n_statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


RELATIONAL_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("q1_pricing_summary", q1_pricing_summary, Q1_SQL, "TPC-H Q1 shape"),
        Query("q3_top_orders", q3_top_orders, Q3_SQL, "join + agg + top-k"),
        Query("q5_region_revenue", q5_region_revenue, Q5_SQL, "6-way star join"),
        Query("join_nation_region", join_nation_region, JOIN_NATION_REGION_SQL, "broadcast join"),
        Query("semi_join_customers", semi_join_customers, SEMI_JOIN_SQL, "left semi / EXISTS"),
        Query("anti_join_customers", anti_join_customers, ANTI_JOIN_SQL, "left anti / NOT EXISTS"),
        Query("outer_join_order_counts", outer_join_order_counts, OUTER_JOIN_SQL, "left outer + agg"),
        Query("window_top3_orders", window_top3_orders, WINDOW_TOP3_SQL, "row_number top-N"),
        Query("window_running_revenue", window_running_revenue, WINDOW_RUNNING_SQL, "running sum"),
        Query("window_lag_order_gap", window_lag_order_gap, WINDOW_LAG_SQL, "lag()"),
        Query("agg_stats_by_brand", agg_stats_by_brand, AGG_STATS_SQL, "multi-agg + distinct"),
        Query("rollup_returnflag", rollup_returnflag, ROLLUP_SQL, "rollup + grouping()"),
        Query("pivot_qty_by_status", pivot_qty_by_status, PIVOT_SQL, "pivot"),
        Query("distinct_segments", distinct_segments, DISTINCT_SQL, "distinct"),
        Query("topk_parts", topk_parts, TOPK_SQL, "global top-k"),
        Query("setop_nations", setop_nations, SETOP_SQL, "intersect/except/union"),
        Query("string_funcs", string_funcs, STRING_FUNCS_SQL, "string scalars"),
        Query("date_funcs_monthly", date_funcs_monthly, DATE_FUNCS_SQL, "date parts"),
        Query("case_bucket_acctbal", case_bucket_acctbal, CASE_BUCKET_SQL, "case/when buckets"),
        Query("json_events", json_events, JSON_EVENTS_SQL, "json extraction"),
        Query("events_hourly", events_hourly, EVENTS_HOURLY_SQL, "event-time tumbling window"),
        Query("sessionize_events", sessionize_events, SESSIONIZE_SQL, "sessionization"),
        Query("cube_flag_status", cube_flag_status, CUBE_SQL, "CUBE grouping sets"),
        Query(
            "subquery_small_qty_revenue",
            subquery_small_qty_revenue,
            SUBQUERY_Q17_SQL,
            "correlated scalar subquery (Q17)",
        ),
        Query("range_join_qty_bands", range_join_qty_bands, RANGE_JOIN_SQL, "non-equi range join"),
        Query(
            "asof_join_purchase_view",
            asof_join_purchase_view,
            ASOF_JOIN_SQL,
            "as-of join (union+window form)",
        ),
        Query("array_agg_priorities", array_agg_priorities, ARRAY_AGG_SQL, "array agg + sort"),
        Query(
            "q19_disjunctive_revenue",
            q19_disjunctive_revenue,
            Q19_SQL,
            "disjunctive multi-column predicates (Q19)",
        ),
        Query("q4_late_orders", q4_late_orders, Q4_SQL, "correlated EXISTS semi-join (Q4)"),
    ]
}
