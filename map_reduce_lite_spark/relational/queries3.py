"""Third tranche of the relational library — the remaining canonical
TPC-H shapes, adapted to the synthetic star schema (which has no
partsupp table; lineitem serves as the part↔supplier relation, and
l_extendedprice / l_quantity as the unit-cost surrogate).

Covered here: Q2 (correlated min subquery), Q8 (market share ratio by
year), Q9 (profit by nation and year), Q11 (group value vs global
scalar HAVING), Q13 (outer-join count distribution), Q15 (view/CTE +
max-equality scalar), Q16 (count-distinct with NOT-IN exclusion),
Q20 (nested semi-join chain), Q21 (EXISTS + NOT EXISTS multi-self-join).

Same determinism contract as queries.py (registry.py module doc): sums
through decimal, ratios as one division of identical doubles, no libm
divergence. Scale notes inline per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from map_reduce_lite_spark.lineage import materialize
from map_reduce_lite_spark.ops.pairs import cooccur, sql_cooccur
from map_reduce_lite_spark.registry import Query, dsum, sql_dsum
from map_reduce_lite_spark.relational.tables import load_table


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) whose
    unit cost equals that part's MINIMUM unit cost — the correlated
    scalar subquery pattern (= MIN over the same group, ties kept).

    Scale: unit costs aggregate lineitem once on (partkey, suppkey);
    the per-part minimum reuses that shuffle's output partitioning
    (child groupBy on a prefix key), and the equality join back is
    broadcast-friendly because the min side is one row per part.
    supplier is a big dim at 100 TB → no hint (AQE decides);
    nation stays hinted (25 rows at any SF)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # unit cost: division of the same two doubles in both engines, then
    # MIN — bit-identical without any decimal detour
    costs = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost")
    )
    # costs feeds BOTH the per-part minimum and the equality join back;
    # the two consumers prune different columns so their exchanges are
    # not identical and AQE's ReusedExchange does NOT fire (verified on
    # the final adaptive plan). persist() computes the dominant lineitem
    # shuffle once for both consumers — dim-scale state (one row per
    # part-supplier), spillable, and recomputable on executor loss
    # (which a localCheckpoint is not).
    costs = costs.persist()
    min_cost = costs.groupBy("l_partkey").agg(F.min("supply_cost").alias("min_cost"))
    return (
        costs.join(min_cost, "l_partkey")
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("supp_nation"),
            "supply_cost",
        )
    )


Q2_SQL = """
WITH costs AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY 1, 2
)
SELECT p_partkey, p_name, s_name AS supplier, n_name AS supp_nation, supply_cost
FROM costs
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'SMALL' AND p_size <= 10
  AND supply_cost = (SELECT MIN(c2.supply_cost) FROM costs c2
                     WHERE c2.l_partkey = costs.l_partkey)
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5 suppliers' share of STANDARD-part order
    volume delivered into ASIA, by order year. The share is one double
    division of two decimal-exact sums.

    Scale: one fact-fact shuffle (lineitem⋈orders on orderkey); the
    tiny dims (part-filtered, nation, region) carry explicit broadcast
    hints, while customer and supplier — the two LARGEST dims, far past
    any sane autoBroadcast threshold at 100 TB — are left unhinted so
    AQE broadcasts them at small scale and falls back to shuffle joins
    at cluster scale instead of OOMing executors. The share aggregation
    is two parallel conditional SUMs in a single pass."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (dsum(nat_vol, 6) / dsum(vol, 6)).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_dsum("CASE WHEN n2.n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) ELSE 0.0::DOUBLE END", 6)}
       / {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on widget parts by supplier nation and
    order year. With no partsupp table, cost is surrogated as
    10% of retail price × quantity (same arithmetic both engines:
    left-associated double product with a DOUBLE literal).

    Scale: lineitem⋈orders is the one big shuffle; the filtered part
    and tiny nation dims carry broadcast hints, but supplier (a big dim
    at 100 TB) is unhinted — AQE broadcasts it at small scale and
    shuffles it at cluster scale. Profit folds to decimal in the agg."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, 6).alias("sum_profit"), F.count(F.lit(1)).alias("n_items"))
    )


Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_dsum("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1::DOUBLE", 6)} AS sum_profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


Q11_FRACTION = 0.002


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from NATION_13
    suppliers exceeds a fraction of that nation's total shipped value —
    per-group aggregate HAVING against a global scalar subquery.

    Scale: the global total is a second aggregation over the SAME
    grouped result (no second scan), broadcast as one row; the filter
    is then map-side. The 1-row nation filter is pushed INTO supplier
    first (broadcast nation → ~1/25 of supplier survives), and that
    pre-filtered supplier side joins lineitem unhinted — AQE broadcasts
    it at test scale, shuffles at 100 TB. Both operands of the
    comparison are decimal-exact sums cast to double."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_13")
    nation_suppliers = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi"
    ).select("s_suppkey")
    scoped = l.join(nation_suppliers, l.l_suppkey == F.col("s_suppkey"), "left_semi")
    per_part = scoped.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * F.col("l_quantity"), 4).alias("value")
    )
    total = per_part.agg(F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("total") * F.lit(Q11_FRACTION))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )


Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, {sql_dsum('l_extendedprice * l_quantity', 4)} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_13'
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, value
FROM per_part
WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
               FROM per_part) * {Q11_FRACTION}::DOUBLE
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count
    (urgent orders excluded INSIDE the outer join, so order-less
    customers still appear with c_count = 0).

    Scale: customer⋈orders shuffles on custkey once; the distribution
    re-agg is tiny (≤ max order count rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier as a CTE ("the
    view"), then the supplier(s) whose revenue EQUALS the maximum —
    scalar-subquery equality on a decimal-exact double, ties kept.

    Scale: revenue aggregates lineitem once on suppkey; the max is one
    broadcast row. The max-equality filter leaves a HANDFUL of rows, so
    the supplier join is unhinted — AQE broadcasts the tiny filtered
    side, never the full supplier dim."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "total_revenue"
        )
    ).persist()  # feeds the max AND the equality filter; ReusedExchange
    # does not fire (1-row agg vs filter side), so compute the
    # one-row-per-supplier aggregate once — spillable, loss-recoverable
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(F.col("s_suppkey"), "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    over filtered parts, EXCLUDING low-balance suppliers via NOT IN.

    Scale: the excluded-supplier set is ~10% of a big dim (acctbal is
    roughly uniform), so the anti join is unhinted — AQE broadcasts it
    at test scale and shuffles at 100 TB; the distinct count shuffles
    (brand, type, size, suppkey) once."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select(F.col("s_suppkey").alias("bad_key"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(bad, l.l_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
GROUP BY 1, 2, 3
"""


Q20_QTY_THRESHOLD = 30


def q20_bolt_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified by a nested aggregate —
    those who shipped more than a threshold quantity of bolt parts in
    1997. Semi-join chain: part filter → grouped HAVING → IN.

    Scale: the inner aggregate shuffles only bolt lineitems on suppkey;
    the qualifying key set is small → broadcast LEFT SEMI."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    s = load_table(spark, sf_dir, "supplier")
    qualified = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("bolt_qty"))
        .filter(F.col("bolt_qty") > Q20_QTY_THRESHOLD)
    )
    return (
        s.join(qualified, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


Q20_SQL = f"""
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING {sql_dsum('l_quantity', 2)} > {Q20_QTY_THRESHOLD}
)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: in each finalized ('F') multi-supplier order,
    blame the supplier(s) whose item shipped STRICTLY LAST — EXISTS
    (another supplier participated) + NOT EXISTS (anyone shipped later)
    as one semi- and one anti-join over lineitem self-joins.

    (The original predicate uses receiptdate > commitdate, columns the
    synthetic schema lacks; ship-last is the same three-way self-join
    shape.) Top 20 by wait count with name tiebreak.

    Scale: both self-joins are equi on orderkey with a residual
    predicate — hash joins, no cartesian. The orders side is a FACT
    table (status 'F' keeps ~half of it), so it gets no broadcast hint:
    at 100 TB that join must shuffle on orderkey, the same partitioning
    the two self-joins reuse. Supplier is unhinted for the same reason;
    AQE broadcasts both at test scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        load_table(spark, sf_dir, "lineitem")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l2 = l1.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (F.col("ship3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour, day, and
    month resolutions of the events stream, materialized in ONE pass.

    The timescale-ish pattern (a rollup cascade hour→day→month) becomes
    a single GROUPING SETS plan in Spark: one scan, one Expand (3×), one
    shuffle — instead of three jobs or a stored cascade. Each output row
    is tagged with its resolution; a writer would partition by
    (resolution, bucket_start) for pruned serving reads. At 100 TB the
    Expand triples shuffle rows, but map-side partial aggregation
    collapses them per (bucket, type) before the exchange — the same
    bytes three sequential rollups would shuffle, minus two scans.
    """
    e = load_table(spark, sf_dir, "events")
    bucketed = e.select(
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("month", "ts").alias("month_start"),
        "event_type",
        "value",
    )
    rolled = bucketed.groupingSets(
        [
            ["hour_start", "event_type"],
            ["day_start", "event_type"],
            ["month_start", "event_type"],
        ],
        "hour_start",
        "day_start",
        "month_start",
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 4).alias("sum_value"),
    )
    resolution = (
        F.when(F.col("hour_start").isNotNull(), F.lit("hour"))
        .when(F.col("day_start").isNotNull(), F.lit("day"))
        .otherwise(F.lit("month"))
    )
    return rolled.select(
        resolution.alias("resolution"),
        F.coalesce("hour_start", "day_start", "month_start").alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


EVENTS_MULTIRES_SQL = f"""
WITH bucketed AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         date_trunc('day', ts) AS day_start,
         date_trunc('month', ts) AS month_start,
         event_type, value
  FROM events
), rolled AS (
  SELECT hour_start, day_start, month_start, event_type,
         COUNT(*) AS n_events,
         {sql_dsum('value', 4)} AS sum_value
  FROM bucketed
  GROUP BY GROUPING SETS ((hour_start, event_type),
                          (day_start, event_type),
                          (month_start, event_type))
)
SELECT CASE WHEN hour_start IS NOT NULL THEN 'hour'
            WHEN day_start IS NOT NULL THEN 'day'
            ELSE 'month' END AS resolution,
       COALESCE(hour_start, day_start, month_start) AS bucket_start,
       event_type, n_events, sum_value
FROM rolled
"""


# RFM customer segmentation (recency / frequency / monetary quartiles).
# Scale-correct quartiling: NO global ntile window (a one-task sort over
# every customer — the anti-pattern curation_token_budget's histogram
# decomposition exists to avoid). Each dimension is coarsened to a
# BOUNDED integer domain (recency in days, frequency as-is, monetary in
# integer thousands), bucketed by prefix-sums over its value histogram —
# the windows run over histogram-sized tables (#distinct coarse values),
# never the customer table. Ties (same coarse value) land in the same
# bucket by construction, so the result is deterministic and exactly
# oracle-replayable. Coarsening granularity is the scale lever: at
# 100 TB widen the monetary bins, the plan shape is unchanged.
RFM_BUCKETS = 4
RFM_MONETARY_BIN = 1000.0  # currency units per monetary histogram bin


def rfm_segment_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    vs the corpus max date), frequency (#orders), monetary (exact
    decimal revenue sum), each quartile-bucketed 1..4 (1 = best:
    most recent / most frequent / highest spend), reported as segment
    counts.

    Quartile rule, exact and tie-stable: for a customer whose coarse
    value v has ``cum_before`` customers strictly better-ranked,
    bucket = 1 + floor(B·cum_before / n). "Better" is recency ASC,
    frequency DESC, monetary DESC."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice"), 2).alias("monetary"),
    )
    ref = per_cust.agg(F.max("last_order").alias("ref_date"))
    dims = materialize(
        per_cust.crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.col("ref_date"), F.col("last_order")).alias("r_days"),
            "frequency",
            F.floor(F.col("monetary") / RFM_MONETARY_BIN).cast("long").alias("m_k"),
        ),
        # r12: dims is consumed SEVEN times (the join spine plus each
        # _bucket's histogram and total), and every consumer re-ran the
        # orders scan + per-customer agg (78-Exchange, 28-scan plan).
        # One materialization of the narrow (4 ints/customer) table;
        # every later pass is a rollup of it. Same staged-artifact
        # story at 100 TB: per-customer RFM dims are built once per
        # snapshot, histograms are derived. eager=False, MEASURED
        # (r13): the broadcast consumers (F.broadcast(total) in
        # _bucket) do NOT re-create the merge_shards race — the block
        # manager's per-partition locking serializes concurrent
        # materialization of a lazy localCheckpoint. 7-rep spread at
        # sf0.1: lazy 0.96-1.36 warm, no outlier; eager 1.36-1.95
        # (the extra serialized job). Lazy kept.
        eager=False,
    )

    def _bucket(df: DataFrame, col: str, asc: bool) -> DataFrame:
        """(value → bucket) via histogram prefix sums; the window runs
        over the #distinct-values histogram, not the customer table,
        and the total is a broadcast 1-row aggregate (no driver-side
        count() — plan construction stays lazy)."""
        from pyspark.sql import Window

        hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        total = df.agg(F.count(F.lit(1)).alias("n"))
        order = F.col(col).asc() if asc else F.col(col).desc()
        w = Window.orderBy(order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return hist.crossJoin(F.broadcast(total)).select(
            col,
            (
                1
                + F.floor(
                    F.lit(RFM_BUCKETS)
                    * (F.sum("c").over(w) - F.col("c"))
                    / F.col("n")
                )
            )
            .cast("int")
            .alias(f"{col}_bucket"),
        )

    out = (
        dims.join(F.broadcast(_bucket(dims, "r_days", asc=True)), "r_days")
        .join(F.broadcast(_bucket(dims, "frequency", asc=False)), "frequency")
        .join(F.broadcast(_bucket(dims, "m_k", asc=False)), "m_k")
    )
    return (
        out.groupBy(
            F.col("r_days_bucket").alias("r_bucket"),
            F.col("frequency_bucket").alias("f_bucket"),
            F.col("m_k_bucket").alias("m_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("min_custkey"),
        )
    )


def _rfm_sql() -> str:
    def bucket_cte(name: str, col: str, direction: str) -> str:
        return f"""{name} AS (
  SELECT {col},
         CAST(1 + floor({RFM_BUCKETS} * (SUM(c) OVER (ORDER BY {col} {direction}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
              / (SELECT COUNT(*) FROM dims)) AS INT) AS {col}_bucket
  FROM (SELECT {col}, COUNT(*) AS c FROM dims GROUP BY {col})
)"""

    return f"""
WITH per_cust AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST({sql_dsum('o_totalprice', 2)} AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), ref AS (
  SELECT MAX(last_order) AS ref_date FROM per_cust
), dims AS (
  SELECT o_custkey,
         CAST(CAST(r.ref_date AS DATE) - CAST(p.last_order AS DATE) AS BIGINT)
           AS r_days,
         frequency,
         CAST(floor(monetary / {RFM_MONETARY_BIN}) AS BIGINT) AS m_k
  FROM per_cust p CROSS JOIN ref r
), {bucket_cte('rb', 'r_days', 'ASC')},
{bucket_cte('fb', 'frequency', 'DESC')},
{bucket_cte('mb', 'm_k', 'DESC')}
SELECT rb.r_days_bucket AS r_bucket, fb.frequency_bucket AS f_bucket,
       mb.m_k_bucket AS m_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       MIN(d.o_custkey) AS min_custkey
FROM dims d
JOIN rb ON rb.r_days = d.r_days
JOIN fb ON fb.frequency = d.frequency
JOIN mb ON mb.m_k = d.m_k
GROUP BY 1, 2, 3
"""


RFM_SQL = _rfm_sql()


# Association rules over order baskets (brand level): the market-basket
# mining companion to text_collocation_lift. Support floor 2 is the
# standard noise gate; per-order pair fanout is C(lines,2) ≈ 6 — never
# corpus-quadratic.
ASSOC_MIN_SUPPORT = 2


def assoc_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules a→b between part brands co-occurring
    in an order: support (co-occurrence count), confidence and lift in
    exact basis points. Confidence(a→b) = n_ab/n_a; lift =
    N·n_ab/(n_a·n_b). All integer arithmetic (floor-scaled), so every
    row is bit-portable.

    Scale shape: baskets = DISTINCT (order, brand) — one projection +
    distinct; the pair self-join keys on l_orderkey (per-basket fanout
    is the basket's brand count, small by nature); brand margins and
    the basket total are tiny broadcast sides. The undirected pair agg
    has ≤|brands|² keys — map-side combine collapses it before the
    shuffle.

    Portability: both engines build the lift numerator 10000·N·n_ab as
    an EXACT int64 product before the (double) divide, so the floor
    lands identically. Bound: the int64 numerator overflows past
    N·n_ab > ~9.2e14 (N ≈ 1.5e9 orders at sf1000 would need n_ab ≈
    6e5 co-occurrences — far beyond brand-pair counts at any TPC-H
    scale; DuckDB errors loudly on overflow, Spark would wrap, so the
    guard is the shared exactness window, not silent truncation)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = materialize(
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct(),
        # r12: consumed four times (both self-join sides, margins, the
        # basket total) and Spark does not share common subtrees — the
        # lineitem⋈part+distinct pipeline executed 6× across the query
        # (28-scan plan). One materialization; narrow (int, char) rows,
        # far cheaper than six recomputes at any scale. eager=False,
        # MEASURED (r13): despite the three broadcast consumers (ma,
        # mb, total), 7-rep sf0.1 spread shows no lazy-ckpt race
        # (block-manager partition locking serializes concurrent
        # materialization): lazy 1.71-1.84 warm, eager 1.85-2.55.
        # Lazy kept.
        eager=False,
    )
    pairs = cooccur(
        baskets, "l_orderkey", "p_brand", min_count=ASSOC_MIN_SUPPORT
    ).select(F.col("m1").alias("x"), F.col("m2").alias("y"), F.col("n_shared").alias("n_xy"))
    margins = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    total = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    # r12: unionAll of two projections executed the basket self-join
    # twice (unions don't share branch subtrees); exploding a 2-element
    # struct array emits both rule directions from one execution.
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("x").alias("antecedent"),
                    F.col("y").alias("consequent"),
                    F.col("n_xy"),
                ),
                F.struct(
                    F.col("y").alias("antecedent"),
                    F.col("x").alias("consequent"),
                    F.col("n_xy"),
                ),
            )
        ).alias("d")
    ).select("d.antecedent", "d.consequent", "d.n_xy")
    ma = margins.select(F.col("p_brand").alias("antecedent"), F.col("n").alias("n_a"))
    mb = margins.select(F.col("p_brand").alias("consequent"), F.col("n").alias("n_b"))
    return (
        directed.join(F.broadcast(ma), "antecedent")
        .join(F.broadcast(mb), "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            F.col("n_xy").alias("support"),
            F.floor(F.lit(10000) * F.col("n_xy") / F.col("n_a"))
            .cast("long")
            .alias("confidence_bps"),
            F.floor(
                F.lit(10000) * F.col("n_baskets") * F.col("n_xy")
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("long")
            .alias("lift_bps"),
        )
    )


ASSOC_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT li.l_orderkey, p.p_brand
  FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
), pairs AS (
  SELECT m1 AS x, m2 AS y, n_shared AS n_xy
  FROM ({sql_cooccur("baskets", "l_orderkey", "p_brand", min_count=ASSOC_MIN_SUPPORT)})
), directed AS (
  SELECT x AS antecedent, y AS consequent, n_xy FROM pairs
  UNION ALL
  SELECT y AS antecedent, x AS consequent, n_xy FROM pairs
), margins AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM baskets GROUP BY p_brand
), total AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM baskets
)
SELECT d.antecedent, d.consequent, d.n_xy AS support,
       CAST(floor(10000.0 * d.n_xy / ma.n) AS BIGINT) AS confidence_bps,
       CAST(floor((10000 * t.n_baskets * d.n_xy) / (ma.n * mb.n)) AS BIGINT)
         AS lift_bps
FROM directed d
JOIN margins ma ON ma.p_brand = d.antecedent
JOIN margins mb ON mb.p_brand = d.consequent
CROSS JOIN total t
"""


RELATIONAL_QUERIES_3: dict[str, Query] = {
    q.name: q
    for q in [
        Query("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL, "correlated min subquery (Q2)"),
        Query("q8_market_share", q8_market_share, Q8_SQL, "volume share ratio by year (Q8)"),
        Query("q9_product_profit", q9_product_profit, Q9_SQL, "profit by nation and year (Q9)"),
        Query("q11_important_parts", q11_important_parts, Q11_SQL, "group value vs global scalar (Q11)"),
        Query("q13_customer_distribution", q13_customer_distribution, Q13_SQL, "outer-join count histogram (Q13)"),
        Query("q15_top_supplier", q15_top_supplier, Q15_SQL, "CTE view + max-equality scalar (Q15)"),
        Query("q16_supplier_count", q16_supplier_count, Q16_SQL, "count-distinct with NOT IN (Q16)"),
        Query("q20_bolt_suppliers", q20_bolt_suppliers, Q20_SQL, "nested-aggregate semi join (Q20)"),
        Query("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL, "EXISTS + NOT EXISTS self-joins (Q21)"),
        Query(
            "assoc_rules_brands",
            assoc_rules_brands,
            ASSOC_RULES_SQL,
            "market-basket association rules (support/confidence/lift, exact bps)",
        ),
        Query(
            "rfm_segment_customers",
            rfm_segment_customers,
            RFM_SQL,
            "RFM quartile segmentation (histogram-decomposed, no global window)",
        ),
        Query(
            "events_rollup_multires",
            events_rollup_multires,
            EVENTS_MULTIRES_SQL,
            "hypertable-style hour/day/month rollup in one Expand pass",
        ),
    ]
}
