"""Second tranche of the relational library: TPC-H shapes Q6/Q10/Q12/
Q14/Q18, GROUPING SETS, the rank-family window suite, exact math
scalars, interpolated percentiles, and driver-checked versions of the
skew utilities (salted join / two-stage agg).

Same determinism contract as queries.py (registry.py module doc):
doubles leaving a query are bit-identical to the DuckDB oracle — sums
via decimal, divisions of identical operands, IEEE-exact scalars only
(sqrt/floor/ceil/abs/sign/mod; NOT ln/exp/round-on-ties, whose libm
rounding differs across engines).

Scale notes (100 TB): all straight Catalyst plans — selective filters
sit on the scans, dims broadcast, facts shuffle once on their join
keys. The salted variants exist for the one case AQE can't fix (a
single hot key inside one task); correctness of salting is proven by
oracle equivalence to the plain plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from map_reduce_lite_spark.registry import Query, davg, dsum, sql_davg, sql_dsum
from map_reduce_lite_spark.relational.queries import SESSION_GAP_MS
from map_reduce_lite_spark.relational.skew import salted_join, two_stage_agg
from map_reduce_lite_spark.relational.tables import load_table


# --------------------------------------------------------------------------
# TPC-H shapes
# --------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + agg — the
    pushdown showcase. All three predicates reach the parquet reader
    (PushedFilters); no shuffle at all until the single-row agg."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    lineitem⋈orders shuffles on orderkey; nation broadcasts (25 rows at
    any SF); customer is a big dim so it gets no hint — AQE broadcasts
    at test scale, shuffles on custkey at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation — counts of
    high- vs low-priority orders per lineitem status."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("long").alias("high_line_count"),
            F.sum(1 - high).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional sum over a
    broadcast join, one double division of identical operands."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (100.0 * dsum(promo_rev, 6) / dsum(rev, 6)).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q14_SQL = f"""
SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 6)}
       / {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding a join (large-
    quantity orders with their customers), deterministic top 20.

    The qty aggregate shuffles lineitem once on orderkey; the surviving
    keys are few, so the subsequent joins broadcast the aggregate side
    under AQE at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity', 2)} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity', 2)} > 150
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# Grouping sets, rank-family windows, scalars, percentiles
# --------------------------------------------------------------------------

def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): detail by
    (priority, status), subtotal by priority, grand total — one Expand +
    one shuffle, not three scans."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


GROUPING_SETS_SQL = f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
"""


def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank family in one pass: rank / dense_rank / percent_rank /
    cume_dist / ntile share a single (priority, price desc) window →
    one shuffle + one sort. percent_rank and cume_dist are single
    divisions of identical integer operands — bit-identical cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


WINDOW_RANK_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-exact math scalars row-wise over part: sqrt, floor/ceil,
    abs, sign, mod, greatest/least. (ln/exp/round-on-decimal-ties are
    deliberately excluded — their last-bit rounding is libm-specific.)"""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.sqrt("p_retailprice").alias("sqrt_price"),
        F.floor("p_retailprice").cast("long").alias("floor_price"),
        F.ceil("p_retailprice").cast("long").alias("ceil_price"),
        F.abs(F.col("p_size") - 25).cast("int").alias("abs_size_off"),
        F.signum(F.col("p_retailprice") - 1500.0).cast("int").alias("sign_off"),
        F.pmod(F.col("p_partkey"), F.lit(7)).cast("long").alias("key_mod7"),
        F.greatest(F.col("p_size"), F.lit(25)).cast("int").alias("size_hi"),
        F.least(F.col("p_size"), F.lit(25)).cast("int").alias("size_lo"),
    )


MATH_FUNCS_SQL = """
SELECT p_partkey,
       sqrt(p_retailprice) AS sqrt_price,
       CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
       CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
       CAST(abs(p_size - 25) AS INT) AS abs_size_off,
       CAST(sign(p_retailprice - 1500.0) AS INT) AS sign_off,
       p_partkey % 7 AS key_mod7,
       CAST(greatest(p_size, 25) AS INT) AS size_hi,
       CAST(least(p_size, 25) AS INT) AS size_lo
FROM part
"""


def percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/median/p75) of quantity per
    return flag. l_quantity is integer-valued, so the linear
    interpolation (1-g)*lo + g*hi at quarter fractions is exact in
    binary — bit-identical across engines. At 100 TB swap the exact
    percentile for approx_percentile (t-digest) — same plan shape,
    bounded memory."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


PERCENTILE_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.5)  AS median_qty,
       quantile_cont(l_quantity, 0.75) AS p75_qty,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Skew utilities under the oracle gate: the salted plans must equal the
# plain plans bit-for-bit (salting only routes rows, never changes keys)
# --------------------------------------------------------------------------

def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer with the fact side salted 8 ways and the dim
    replicated — the manual fix for a single hot key that AQE's
    partition-splitting can't break up. Oracle = the plain join."""
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, on=["c_custkey"], n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("revenue"),
    )


SALTED_JOIN_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def two_stage_agg_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation by supplier: partial (key, salt)
    decimal sums, then exact combine per key. Decimal partials make the
    two-stage total identical to the one-stage oracle regardless of how
    rows were salted."""
    l = load_table(spark, sf_dir, "lineitem")
    return two_stage_agg(
        l,
        keys=["l_suppkey"],
        partial_aggs=[
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pq"),
            F.count(F.lit(1)).alias("pc"),
        ],
        final_aggs=[
            F.sum("pq").cast("double").alias("sum_qty"),
            F.sum("pc").alias("n_items"),
        ],
        n_salts=8,
    )


TWO_STAGE_AGG_SQL = f"""
SELECT l_suppkey, {sql_dsum('l_quantity', 2)} AS sum_qty,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_suppkey
"""


# --------------------------------------------------------------------------
# More TPC-H shapes and window/set-op variants
# --------------------------------------------------------------------------

def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two fixed nations by year.
    Both nation dims broadcast (25 rows each at any SF); customer and
    supplier — the big dims — carry no hint, so AQE broadcasts them at
    test scale and shuffles at 100 TB. The only unavoidable fact
    shuffle is lineitem⋈orders on orderkey."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_10") | (
        F.col("supp_nation") == "NATION_10"
    ) & (F.col("cust_nation") == "NATION_3")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(volume, 6).alias("volume"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_10')
   OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global positive-balance average)
    + anti join (customers with no RECENT orders — every customer in the
    synthetic data has at least one order overall, so the date predicate
    is what keeps the anti join non-vacuous; 5 rows survive at sf0.001,
    55 at sf0.01). The scalar aggregate is a 1-row broadcast; the anti
    join is the only shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal"), 2).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
    )


Q22_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_custs,
       {sql_dsum('c_acctbal', 2)} AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT {sql_davg('c_acctbal', 2)} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (vs the ROWS frames elsewhere): per customer, revenue
    in the trailing 30-day window of each order — the frame is bounded
    by VALUE distance on an integer day column, so ties and gaps behave
    identically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("day_no"))
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select("o_custkey", "o_orderkey", days.alias("day_no"), "o_totalprice")
        .withColumn(
            "trailing_30d_rev",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "day_no", "trailing_30d_rev")
    )


WINDOW_RANGE_SQL = """
SELECT o_custkey, o_orderkey, day_no,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY day_no
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_rev
FROM (
  SELECT o_custkey, o_orderkey,
         CAST(datediff('day', DATE '1990-01-01', o_orderdate) AS BIGINT) AS day_no,
         o_totalprice
  FROM orders
)
"""


def window_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions — first_value / last_value / nth_value over
    an explicit unbounded frame (the default frame for last_value stops
    at CURRENT ROW; both engines agree once it's explicit)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_orderkey").over(w).alias("first_order"),
        F.last_value("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


WINDOW_VALUE_SQL = """
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops (UNION ALL / INTERSECT ALL / EXCEPT ALL) over
    nation-key projections — duplicate-preserving semantics, distinct
    from the distinct-variant setop query."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nkey")
    )
    both = c.intersectAll(s)
    only_c = c.exceptAll(s)
    return (
        c.unionAll(s).groupBy("nkey").agg(F.count(F.lit(1)).alias("n_union_all"))
        .join(
            both.groupBy("nkey").agg(F.count(F.lit(1)).alias("n_intersect_all")),
            "nkey",
            "left",
        )
        .join(
            only_c.groupBy("nkey").agg(F.count(F.lit(1)).alias("n_except_all")),
            "nkey",
            "left",
        )
        .select(
            "nkey",
            "n_union_all",
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
        )
    )


SETOP_ALL_SQL = """
WITH c AS (SELECT CAST(c_nationkey AS INT) AS nkey FROM customer),
     s AS (SELECT CAST(s_nationkey AS INT) AS nkey FROM supplier),
     u AS (SELECT nkey, COUNT(*) AS n_union_all
           FROM (SELECT nkey FROM c UNION ALL SELECT nkey FROM s) GROUP BY nkey),
     i AS (SELECT nkey, COUNT(*) AS n_intersect_all
           FROM (SELECT nkey FROM c INTERSECT ALL SELECT nkey FROM s) GROUP BY nkey),
     e AS (SELECT nkey, COUNT(*) AS n_except_all
           FROM (SELECT nkey FROM c EXCEPT ALL SELECT nkey FROM s) GROUP BY nkey)
SELECT u.nkey, u.n_union_all,
       COALESCE(i.n_intersect_all, 0) AS n_intersect_all,
       COALESCE(e.n_except_all, 0) AS n_except_all
FROM u LEFT JOIN i ON u.nkey = i.nkey
       LEFT JOIN e ON u.nkey = e.nkey
"""


def funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session funnel: within each 30-min-gap session, did the user
    view → click → purchase in event-time order? Counts per stage.

    One shuffle on user_id for sessionization (shared by both window
    passes), one more for the per-session conditional mins — the same
    two-shuffle shape at any scale. Stage predicates compare integer
    epoch-millis, so the oracle matches exactly."""
    e = load_table(spark, sf_dir, "events")
    # same gaps-and-islands construction as sessionize() (queries.py),
    # kept per-event here because the funnel needs event-level timestamps
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    new_sess = F.when(
        prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > SESSION_GAP_MS), 1
    ).otherwise(0)
    tagged = e.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn("session_id", F.sum(new_sess).over(w).cast("long"))

    def first_ms(etype: str):
        return F.min(
            F.when(F.col("event_type") == etype, F.unix_millis("ts"))
        )

    per_sess = tagged.groupBy("user_id", "session_id").agg(
        first_ms("view").alias("t_view"),
        first_ms("click").alias("t_click"),
        first_ms("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    purchased = clicked & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") >= F.col("t_click")
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(viewed.cast("long")).alias("n_viewed"),
        F.sum(clicked.cast("long")).alias("n_view_click"),
        F.sum(purchased.cast("long")).alias("n_full_funnel"),
    )


FUNNEL_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tagged AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
), per_sess AS (
  SELECT user_id, session_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_purchase
  FROM tagged GROUP BY user_id, session_id
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                      AND t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                      AND t_click >= t_view AND t_purchase IS NOT NULL
                      AND t_purchase >= t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per_sess
"""


def stats_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance of (quantity, extendedprice) per
    return flag — computed from exact DECIMAL(28,4) moment sums combined
    with identical double arithmetic on both engines, instead of the
    built-in corr()/covar_pop() whose one-pass update order is
    engine-specific. Same single-shuffle plan as any multi-agg; the
    moments are also the mergeable state a 1000-executor partial
    aggregation ships."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")

    def m(expr, scale=4):
        return F.sum(expr.cast(f"decimal(28,{scale})")).cast("double")

    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        m(x).alias("sx"),
        m(y).alias("sy"),
        m(x * y).alias("sxy"),
        m(x * x).alias("sxx"),
        m(y * y).alias("syy"),
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n")
    # nullif on the denominator: a single-row (or constant-valued) group
    # has exactly zero variance — the moments are exact decimals, so the
    # double denominator is exactly 0.0 in BOTH engines — and corr is
    # undefined there. Without the guard the double division yields NaN
    # and ANSI Spark throws casting floor(NaN) to long (found by the r10
    # single-row corpus sweep); NULL agrees with the oracle's NULLIF.
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        den, F.lit(0.0)
    )
    # corr's a*b - c*d shape invites FMA contraction in one engine but not
    # the other (observed 1-ulp drift); quantize to 12 decimals like the
    # similarity scores. covar is contraction-free and stays raw double.
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_items"),
        cov.alias("covar_pop"),
        F.floor(corr * 1e12).cast("long").alias("corr_e12"),
    )


def _sql_m(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,{scale}))) AS DOUBLE)"


STATS_CORR_SQL = f"""
WITH moments AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {_sql_m('l_quantity')} AS sx,
         {_sql_m('l_extendedprice')} AS sy,
         {_sql_m('l_quantity * l_extendedprice')} AS sxy,
         {_sql_m('l_quantity * l_quantity')} AS sxx,
         {_sql_m('l_extendedprice * l_extendedprice')} AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
       (sxy - sx * sy / n) / n AS covar_pop,
       CAST(floor((n * sxy - sx * sy)
         / NULLIF(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0) * 1e12)
         AS BIGINT) AS corr_e12
FROM moments
"""


RELATIONAL_QUERIES_2: dict[str, Query] = {
    q.name: q
    for q in [
        Query("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL, "pure pushdown filter + agg (Q6)"),
        Query("q10_returned_revenue", q10_returned_revenue, Q10_SQL, "returned-item revenue top-k (Q10)"),
        Query("q12_priority_class", q12_priority_class, Q12_SQL, "conditional CASE agg over join (Q12)"),
        Query("q14_promo_revenue", q14_promo_revenue, Q14_SQL, "conditional revenue share (Q14)"),
        Query("q18_large_orders", q18_large_orders, Q18_SQL, "HAVING agg feeding joins (Q18)"),
        Query("grouping_sets_priority", grouping_sets_priority, GROUPING_SETS_SQL, "explicit GROUPING SETS"),
        Query("window_rank_suite", window_rank_suite, WINDOW_RANK_SQL, "rank family in one window pass"),
        Query("math_funcs", math_funcs, MATH_FUNCS_SQL, "IEEE-exact math scalars"),
        Query("percentile_quantity", percentile_quantity, PERCENTILE_SQL, "exact interpolated percentiles"),
        Query("salted_join_segments", salted_join_segments, SALTED_JOIN_SQL, "salted join == plain join"),
        Query("two_stage_agg_supplier", two_stage_agg_supplier, TWO_STAGE_AGG_SQL, "salted two-stage agg"),
        Query("q7_nation_volume", q7_nation_volume, Q7_SQL, "two-nation volume by year (Q7)"),
        Query("q22_idle_rich_customers", q22_idle_rich_customers, Q22_SQL, "scalar subquery + anti join (Q22)"),
        Query("window_range_frame", window_range_frame, WINDOW_RANGE_SQL, "RANGE frame trailing sum"),
        Query("window_value_suite", window_value_suite, WINDOW_VALUE_SQL, "first/last/nth_value windows"),
        Query("setop_all_variants", setop_all_variants, SETOP_ALL_SQL, "UNION/INTERSECT/EXCEPT ALL"),
        Query("funnel_sessions", funnel_sessions, FUNNEL_SQL, "session funnel (view→click→purchase)"),
        Query("stats_corr_qty_price", stats_corr_qty_price, STATS_CORR_SQL, "corr/covar from exact moments"),
    ]
}
