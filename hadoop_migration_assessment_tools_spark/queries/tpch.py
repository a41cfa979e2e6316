"""Relational analytics over the TPC-H-ish corpus (SURVEY §2 AGG5, JN4/JN5, WIN2, SET2).

These are the assessment-style rollups/joins the QueryEvents data model exists to serve
(SURVEY §2.8 Model rows), exercised on the driver's star schema. Every query follows the
parity numeric discipline of ``functions.parity`` and aliases every computed column
identically to its oracle SQL twin.

Scale notes per query are inline; the common rules:
- filters applied before joins/aggs so Parquet pushdown + column pruning engage;
- dimension joins (region/nation/customer/supplier/part at dim-like sizes) broadcast;
- top-k = window/orderBy with deterministic tie-breaks, never bare LIMIT on ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.localrel import local_df
from ..functions.parity import avg_exact, count_big, money, sum_money
from ..sources.readers import load_table

# --- q1_pricing_summary -----------------------------------------------------------
# AGG5 flagship (SURVEY §7 Stage 1): scan → filter → hash-agg → sort.
# Catalyst plan to want: parquet scan with PushedFilters on l_shipdate + ReadSchema of
# exactly 7 columns, partial_hashagg → shuffle on (l_returnflag,l_linestatus) (12 groups)
# → final hashagg. At 100 TB the partial agg collapses the shuffle to ~nothing.

Q1_CUTOFF = "2000-12-01 00:00:00"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Parity rule: scale only ever grows through the arithmetic (2 -> 4 -> 6, always
    # exact); the single ROUND happens on the final sum. Reducing scale via CAST would
    # diverge (Spark casts round HALF_UP, DuckDB casts truncate).
    disc_price = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + money("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_money("l_quantity", "sum_qty"),
            sum_money("l_extendedprice", "sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            avg_exact("l_quantity", "avg_qty"),
            avg_exact("l_extendedprice", "avg_price"),
            avg_exact("l_discount", "avg_disc"),
            count_big("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q3_shipping_priority ---------------------------------------------------------
# JN4 star join + WIN2 top-k. Plan to want: broadcast(customer-filtered) into orders,
# then shuffle join lineitem on orderkey (the fact-fact edge), partial agg, global
# top-10 with deterministic tie-break on o_orderkey.


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- q5_local_supplier_volume -----------------------------------------------------
# JN4 5-way star join: lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with
# the customer-nation == supplier-nation colocation condition. nation/region broadcast.


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = """
SELECT
  n_name,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --- top_customers_by_revenue -----------------------------------------------------
# WIN2 ranking: revenue per customer per nation, top-3 per nation by dense window rank.
# Plan to want: one shuffle on o_custkey for the agg, broadcast dims, one shuffle on
# n_name for the window (both AQE-coalesced).


def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(sum_money("o_totalprice", "total_revenue"), count_big("order_count"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("total_revenue"), F.asc("o_custkey"))
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rank_in_nation", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_nation") <= 3)
        .select("n_name", "c_name", "total_revenue", "order_count", "rank_in_nation")
        .orderBy("n_name", "rank_in_nation")
    )


TOP_CUSTOMERS_ORACLE = """
WITH per_cust AS (
  SELECT
    o_custkey,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_revenue,
    CAST(COUNT(*) AS BIGINT) AS order_count
  FROM orders
  GROUP BY o_custkey
), ranked AS (
  SELECT
    n_name, c_name, total_revenue, order_count,
    CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY total_revenue DESC, o_custkey ASC) AS BIGINT) AS rank_in_nation
  FROM per_cust
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT * FROM ranked WHERE rank_in_nation <= 3 ORDER BY n_name, rank_in_nation
"""


# --- order_priority_semijoin ------------------------------------------------------
# JN5 left-semi (TPC-H Q4 shape): orders having at least one late lineitem.


def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-07-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    late = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(count_big("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- customers_without_orders -----------------------------------------------------
# JN5 anti join: customers with no orders in the first half of 1995, counted per nation.
# (Unqualified "no orders ever" is empty in this corpus — every customer orders.)

CWO_LO = "1995-01-01 00:00:00"
CWO_HI = "1995-07-01 00:00:00"


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(CWO_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(CWO_HI).cast("timestamp"))
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(count_big("customer_count"))
        .orderBy("n_name")
    )


CUSTOMERS_WITHOUT_ORDERS_ORACLE = f"""
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS customer_count
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '{CWO_LO}'
    AND o_orderdate < TIMESTAMP '{CWO_HI}'
)
GROUP BY n_name
ORDER BY n_name
"""


# --- rollup_order_status ----------------------------------------------------------
# AGG5 grouping sets: ROLLUP (o_orderstatus, o_orderpriority) — multi-dim assessment
# report shape. Map-side partial agg makes rollup ~free at scale.


def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(count_big("order_count"), sum_money("o_totalprice", "total_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_ORDER_STATUS_ORACLE = """
SELECT
  o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS order_count,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# --- min_cost_supplier --------------------------------------------------------------
# TPC-H Q2 shape: correlated scalar subquery (min acctbal supplier per part via
# window-min over the join), exercising Catalyst's decorrelation/window path. Plan to
# want: supplier/nation broadcast into part⋈supplier, window over p_partkey.


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # corpus has no partsupp table: the supplier relation for a part is synthesized
    # deterministically as suppliers whose key divides the part key bucket
    joined = (
        part.join(F.broadcast(supp), (F.col("p_partkey") % 20) == (F.col("s_suppkey") % 20))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("p_partkey")
    best = joined.withColumn("min_bal", F.min("s_acctbal").over(w)).filter(
        F.col("s_acctbal") == F.col("min_bal")
    )
    return (
        best.select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round(F.col("s_acctbal").cast("decimal(18,2)"), 2).cast("double").alias("acctbal"),
        )
        .orderBy("p_partkey", "s_name")
    )


MIN_COST_SUPPLIER_ORACLE = """
WITH joined AS (
  SELECT p_partkey, p_name, s_name, n_name, s_acctbal, s_suppkey
  FROM part
  JOIN supplier ON (p_partkey % 20) = (s_suppkey % 20)
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_size <= 15
)
SELECT
  p_partkey, p_name, s_name, n_name,
  CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
FROM joined j
WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM joined j2 WHERE j2.p_partkey = j.p_partkey)
ORDER BY p_partkey, s_name
"""


# --- nation_volume_by_year ----------------------------------------------------------
# TPC-H Q7 shape: shipping volume between nation pairs per year — CASE-free variant
# grouping on (supplier nation, order year). Exercises year extraction + multi-dim agg
# over a 4-way join.


def nation_volume_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("volume"), count_big("line_count"))
        .orderBy("supp_nation", "order_year")
    )


NATION_VOLUME_ORACLE = """
SELECT
  n_name AS supp_nation,
  CAST(year(o_orderdate) AS BIGINT) AS order_year,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume,
  CAST(COUNT(*) AS BIGINT) AS line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
ORDER BY supp_nation, order_year
"""


# --- customer_order_histogram -------------------------------------------------------
# TPC-H Q13 shape: distribution of customers by order count, including zero-order
# customers via left outer join — the outer-join + double-groupBy histogram.


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("order_count"))
    )
    return (
        per_cust.groupBy("order_count")
        .agg(count_big("customer_count"))
        .orderBy(F.desc("customer_count"), F.desc("order_count"))
    )


CUSTOMER_ORDER_HISTOGRAM_ORACLE = """
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS order_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT order_count, CAST(COUNT(*) AS BIGINT) AS customer_count
FROM per_cust
GROUP BY order_count
ORDER BY customer_count DESC, order_count DESC
"""


# --- brand_supplier_counts ----------------------------------------------------------
# TPC-H Q16 shape: distinct-supplier counts per part attribute bucket with a HAVING
# gate (partsupp synthesized from lineitem's (partkey, suppkey) pairs).


def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_count"))
        .filter(F.col("supplier_count") >= 4)
        .orderBy(F.desc("supplier_count"), F.asc("p_brand"), F.asc("p_type"))
    )


BRAND_SUPPLIER_COUNTS_ORACLE = """
SELECT
  p_brand, p_type,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_count
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
HAVING COUNT(DISTINCT l_suppkey) >= 4
ORDER BY supplier_count DESC, p_brand ASC, p_type ASC
"""


# --- large_quantity_orders ----------------------------------------------------------
# TPC-H Q18 shape: orders whose summed quantity clears a threshold (IN-subquery over a
# grouped fact), joined back to customers.

Q18_THRESHOLD = 210


def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(money("l_quantity")), 2).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_THRESHOLD)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2).cast("double").alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
    )


LARGE_QUANTITY_ORDERS_ORACLE = f"""
SELECT
  c_name, o_orderkey, o_orderdate,
  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS total_price,
  total_qty
FROM (
  SELECT l_orderkey,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > {Q18_THRESHOLD}
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
"""


# --- important_part_stock -----------------------------------------------------------
# TPC-H Q11 shape: group-by with a HAVING gate against a global scalar subquery.
# Scale-invariant threshold: parts whose value exceeds 1.5x the AVERAGE part value
# (a grand-total fraction can never trigger across scale factors on uniform data —
# the part count grows with SF while each share shrinks).

Q11_MULTIPLE = 1.5


def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    value = money("l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(value), 2).cast("double").alias("part_value")
    )
    # exact decimal average: double-summed AVG is shuffle-order-dependent and a
    # borderline part at ~1.5x avg could flip between engines
    total = per_part.agg(
        (F.sum(F.col("part_value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("t")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("t") * Q11_MULTIPLE)
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


IMPORTANT_PART_STOCK_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM per_part) * {Q11_MULTIPLE}
ORDER BY part_value DESC, l_partkey ASC
"""


# --- suppliers_with_excess_stock ----------------------------------------------------
# TPC-H Q20 shape: nested semi-join — suppliers whose shipped quantity of filtered
# parts exceeds a threshold, then the supplier dimension semi-joined against that set.

Q20_QTY = 500


def suppliers_with_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(money("l_quantity")), 2).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > Q20_QTY)
    )
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


SUPPLIERS_WITH_EXCESS_STOCK_ORACLE = f"""
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
  GROUP BY l_suppkey
  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > {Q20_QTY}
)
ORDER BY s_name
"""


# --- customers_orders_full_outer ----------------------------------------------------
# Full outer theta-free join (SURVEY §2.5 note: not required by the model but native
# to the engine): per-customer 1995 order counts FULL OUTER joined with 1996 counts —
# customers active in either year, nulls where absent, coalesced key.


def customers_orders_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year_counts(year: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(count_big(alias))
        )

    a = year_counts(1995, "n_1995")
    b = year_counts(1996, "n_1996")
    joined = a.withColumnRenamed("o_custkey", "ck_a").join(
        b.withColumnRenamed("o_custkey", "ck_b"),
        F.col("ck_a") == F.col("ck_b"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("ck_a", "ck_b").alias("custkey"),
        F.coalesce("n_1995", F.lit(0)).cast("long").alias("n_1995"),
        F.coalesce("n_1996", F.lit(0)).cast("long").alias("n_1996"),
        (F.coalesce("n_1995", F.lit(0)) - F.coalesce("n_1996", F.lit(0)))
        .cast("long")
        .alias("delta"),
    ).orderBy("custkey")


CUSTOMERS_ORDERS_FULL_OUTER_ORACLE = """
WITH a AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_1995 FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1995 GROUP BY o_custkey
), b AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_1996 FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY o_custkey
)
SELECT
  COALESCE(a.o_custkey, b.o_custkey) AS custkey,
  CAST(COALESCE(a.n_1995, 0) AS BIGINT) AS n_1995,
  CAST(COALESCE(b.n_1996, 0) AS BIGINT) AS n_1996,
  CAST(COALESCE(a.n_1995, 0) - COALESCE(b.n_1996, 0) AS BIGINT) AS delta
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
ORDER BY custkey
"""


# --- q6_forecast_revenue ------------------------------------------------------------
# TPC-H Q6 shape: pure scan-side predicate stack -> single global aggregate. The
# whole query should compile to one scan with every filter in PushedFilters and a
# 1-row partial/final agg — the canonical pushdown benchmark.


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (money("l_extendedprice") * money("l_discount")).cast("decimal(18,4)")
    return (
        li.filter(
            # raw-double comparisons on BOTH engines: keeps every predicate
            # parquet-pushable (a decimal CAST here would block pushdown) while
            # the literals are identical doubles on each side
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(revenue), 4).cast("double").alias("revenue"),
            count_big("n_items"),
        )
    )


Q6_ORACLE = """
SELECT
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --- q10_returned_items -------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer, top 20 — a 3-way star join
# with a selective fact filter and a revenue ranking.


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = (
        money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    ).cast("decimal(18,4)")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue), 4).cast("double").alias("revenue"), count_big("n_items"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = """
SELECT
  c_custkey, c_name, n_name,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- q12_priority_classes -----------------------------------------------------------
# TPC-H Q12 shape (conditional-count pivot over a fact/dim join with a date-window
# filter), re-keyed to the driver corpus: its lineitem has no
# l_shipmode/l_commitdate/l_receiptdate, so the pivot keys on (l_returnflag,
# l_linestatus) instead — the operator shape (join + CASE counts) is identical.


def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q12_ORACLE = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q14_promo_revenue --------------------------------------------------------------
# TPC-H Q14 shape: conditional revenue share (promo parts) — a ratio of two exact
# decimal sums over a broadcast part join.


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    part = load_table(spark, sf_dir, "part")
    revenue = (
        money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    ).cast("decimal(18,4)")
    promo = F.col("p_type").startswith("PROMO")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        F.round(
            F.sum(F.when(promo, revenue).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
            * 100.0
            / F.sum(revenue).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        count_big("n_items"),
    )


Q14_ORACLE = """
SELECT
  ROUND(
    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
    / CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE),
  6) AS promo_revenue_pct,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
"""


# --- q19_disjunctive_predicates -----------------------------------------------------
# TPC-H Q19 shape: three OR-ed conjunct groups mixing join-side and scan-side
# predicates — the optimizer must push the common conjuncts and evaluate the
# disjunction post-join without exploding the plan.


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & qty.between(1, 11) & size.between(1, 5))
        | ((brand == "Brand#23") & qty.between(10, 20) & size.between(1, 10))
        | ((brand == "Brand#34") & qty.between(20, 30) & size.between(1, 15))
    )
    revenue = (
        money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    ).cast("decimal(18,4)")
    return joined.filter(cond).agg(
        F.round(F.sum(revenue), 4).cast("double").alias("revenue"),
        count_big("n_items"),
    )


Q19_ORACLE = """
SELECT
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


# --- lineitem_price_band_join -------------------------------------------------------
# Range (non-equi interval) join, the custom-operator family Spark lacks natively:
# lineitems land in non-uniform price bands via plans/range_join.py's bucket+refine
# strategy. The naive ON v >= lo AND v < hi plan is a BroadcastNestedLoopJoin; the
# bucketed plan is an equi-join that shuffles cleanly at any dim size. At 100 TB the
# fact side buckets once (narrow map), the band side explodes into a handful of rows,
# and no cross product ever exists.

PRICE_BANDS = [
    ("p1_micro", 0.0, 2000.0),
    ("p2_small", 2000.0, 10000.0),
    ("p3_mid", 10000.0, 30000.0),
    ("p4_large", 30000.0, 60000.0),
    ("p5_jumbo", 60000.0, 120000.0),
]


def lineitem_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.range_join import range_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity", "l_discount"
    )
    bands = local_df(spark, PRICE_BANDS, "band string, lo double, hi double")
    joined = range_join(li, bands, "l_extendedprice", "lo", "hi", bucket_width=10000.0)
    revenue = (
        money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    ).cast("decimal(18,4)")
    return (
        joined.groupBy("band")
        .agg(
            count_big("n_items"),
            sum_money("l_quantity", "sum_qty"),
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
        )
        .orderBy("band")
    )


LINEITEM_PRICE_BAND_ORACLE = """
WITH bands(band, lo, hi) AS (
  VALUES ('p1_micro', 0.0, 2000.0),
         ('p2_small', 2000.0, 10000.0),
         ('p3_mid', 10000.0, 30000.0),
         ('p4_large', 30000.0, 60000.0),
         ('p5_jumbo', 60000.0, 120000.0)
)
SELECT
  band,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
ORDER BY band
"""


# --- orders_customer_bucketed_join --------------------------------------------------
# Bucketed co-located join scored end to end (plans/bucketing.py): both sides persist
# bucketed+sorted on the join key, so the sort-merge join needs NO Exchange and NO
# Sort — the shape that makes repeated fact-fact joins affordable at 100 TB (bucket
# once, join many times). The merge hint forces SMJ so the co-location (not a
# broadcast) is what the plan exercises; tests assert the no-Exchange property.

_BKT_DB = "spark_graft_bkt"


def orders_customer_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..plans.bucketing import save_bucketed

    loc = os.path.join(tempfile.gettempdir(), "spark_graft_bkt_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_BKT_DB} LOCATION '{loc}'")
    # A fresh session's in-memory catalog forgets managed tables, but their previous
    # run's directories survive — saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    # Drop whatever the catalog does know, then clear any orphan location.
    for t in ("orders_by_cust", "customer_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {_BKT_DB}.{t}")
        shutil.rmtree(os.path.join(loc, t), ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    save_bucketed(orders, f"{_BKT_DB}.orders_by_cust", ["o_custkey"], 8, ["o_custkey"])
    save_bucketed(customer, f"{_BKT_DB}.customer_bkt", ["c_custkey"], 8, ["c_custkey"])
    o = spark.table(f"{_BKT_DB}.orders_by_cust").hint("merge")
    c = spark.table(f"{_BKT_DB}.customer_bkt")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            count_big("n_orders"),
            F.count_distinct("c_custkey").cast("long").alias("n_customers"),
            sum_money("o_totalprice", "total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


ORDERS_CUSTOMER_BUCKETED_ORACLE = """
SELECT
  c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- customer_scd2_merge ------------------------------------------------------------
# SCD Type-2 upsert (operators/scd.py): Spark-on-parquet has no MERGE, so the engine
# rewrites the dimension via join + union — current rows with an incoming update are
# closed (valid_to = effective ts), updates insert as the new current version, and
# history passes through untouched. The oracle reconstructs the post-merge state
# relationally; the per-segment rollup hash-certifies row routing AND the interval
# columns.

SCD2_BASE_TS = "2020-01-01 00:00:00"
SCD2_EFF_TS = "2024-06-01 00:00:00"


def customer_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(SCD2_BASE_TS).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            "c_mktsegment",
            F.lit(SCD2_EFF_TS).cast("timestamp").alias("eff_ts"),
        )
    )
    merged = scd2_apply(dim, updates, "c_custkey", "eff_ts", ["c_acctbal", "c_mktsegment"])
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            count_big("n_rows"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_current"),
            F.sum(F.when(F.col("valid_to").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_closed"),
            F.round(
                F.sum(
                    F.when(
                        F.col("valid_to").isNull(), F.col("c_acctbal").cast("decimal(18,2)")
                    )
                ),
                2,
            )
            .cast("double")
            .alias("current_acctbal"),
            F.sum(F.unix_millis("valid_from")).cast("long").alias("sum_from_ms"),
        )
        .orderBy("c_mktsegment")
    )


CUSTOMER_SCD2_MERGE_ORACLE = f"""
WITH new_state AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '{SCD2_BASE_TS}' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer WHERE c_custkey % 10 <> 0
  UNION ALL
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '{SCD2_BASE_TS}', TIMESTAMP '{SCD2_EFF_TS}'
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_acctbal + 100, c_mktsegment,
         TIMESTAMP '{SCD2_EFF_TS}', CAST(NULL AS TIMESTAMP)
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
  CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
  CAST(ROUND(SUM(CASE WHEN valid_to IS NULL THEN CAST(c_acctbal AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS current_acctbal,
  CAST(SUM(epoch_ms(valid_from)) AS BIGINT) AS sum_from_ms
FROM new_state
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ====================================================================================
# Round-4 completion of the canonical TPC-H shape suite (Q7/Q8/Q9/Q15/Q17/Q21/Q22).
# The corpus schema is narrower than canonical TPC-H (no partsupp, no receipt/commit
# dates, no c_phone), so where a canonical predicate needs a missing column the query
# keeps the CANONICAL PLAN SHAPE and substitutes an available, deterministic predicate
# (documented per query). Reference parity: these are the relational workloads the
# assessment warehouse answers over migrated query logs (SURVEY §2 JN4/JN5/AGG5).
# ====================================================================================

# --- q7_volume_shipping -------------------------------------------------------------
# Canonical Q7: bidirectional nation-pair trade volume. Plan to want at 100 TB:
# lineitem (date-filtered at the scan) shuffle-joins orders on orderkey; customer is
# pre-filtered to 2/25 nations by a broadcast nation join before its shuffle join with
# orders; supplier+nation broadcast into the lineitem side. The (n1,n2)|(n2,n1) pair
# disjunction is applied AFTER both cheap broadcast joins — no cross product.

Q7_NATION_A = "NATION_3"
Q7_NATION_B = "NATION_8"
Q7_LO = "1996-01-01 00:00:00"
Q7_HI = "1998-01-01 00:00:00"


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q7_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q7_HI).cast("timestamp"))
    )
    volume = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(volume), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_ORACLE = f"""
SELECT
  supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
      OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
    AND l_shipdate >= TIMESTAMP '{Q7_LO}' AND l_shipdate < TIMESTAMP '{Q7_HI}'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- q8_market_share ----------------------------------------------------------------
# Canonical Q8: national market share of one supplier nation inside a region's market
# for one product type. p_type='PROMO' substitutes the canonical 3-word type (corpus
# p_type is single-token). Share = conditional-sum / sum over the SAME aggregated rows
# — one aggregation, no second scan. part and the region-filtered customer side are
# broadcast; lineitem⋈orders is the only fact-fact shuffle.

Q8_REGION = "ASIA"
Q8_TYPE = "PROMO"
Q8_SHARE_NATION = "NATION_10"
Q8_LO = "1996-01-01 00:00:00"
Q8_HI = "1998-01-01 00:00:00"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q8_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q8_HI).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    volume = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == Q8_SHARE_NATION, volume).otherwise(
                F.lit(0).cast("decimal(18,4)"))).alias("_nat"),
            F.sum(volume).alias("_tot"),
        )
    )
    return agg.select(
        "o_year",
        F.round(F.col("_nat").cast("double") / F.col("_tot").cast("double"), 6).alias("mkt_share"),
    ).orderBy("o_year")


Q8_ORACLE = f"""
SELECT
  o_year,
  ROUND(CAST(SUM(CASE WHEN supp_nation = '{Q8_SHARE_NATION}' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT
    CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS volume,
    n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE r_name = '{Q8_REGION}'
    AND p_type = '{Q8_TYPE}'
    AND o_orderdate >= TIMESTAMP '{Q8_LO}' AND o_orderdate < TIMESTAMP '{Q8_HI}'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


# --- q9_product_type_profit ---------------------------------------------------------
# Canonical Q9: profit by supplier nation and year for parts matching a name token.
# Canonical supplycost comes from partsupp (absent here); the deterministic surrogate
# is cost = 0.5 * p_retailprice per unit, which preserves the plan (part join feeds
# the profit expression). part is broadcast (name-filtered), supplier+nation broadcast,
# lineitem⋈orders shuffle on orderkey is the one big exchange.

Q9_TOKEN = "widget"


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(Q9_TOKEN))
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    cost = (
        money("p_retailprice") * F.lit("0.50").cast("decimal(18,2)") * money("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(revenue - cost), 2).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


Q9_ORACLE = f"""
SELECT
  nation, o_year,
  CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT
    n_name AS nation,
    CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
      - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST('0.50' AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%{Q9_TOKEN}%'
) profit
GROUP BY nation, o_year
ORDER BY nation ASC, o_year DESC
"""


# --- q15_top_supplier ---------------------------------------------------------------
# Canonical Q15: supplier(s) whose quarterly revenue equals the global maximum.
# Max-over-aggregate WITHOUT a no-partition window (single-task funnel at scale):
# the per-supplier aggregate (one shuffle, #suppliers rows) cross-joins its own 1-row
# MAX aggregate — Catalyst broadcasts the 1-row side, so the "scalar subquery" costs
# one extra tiny stage. Equality compares the EXACT decimal sums (deterministic on
# both engines); rounding happens only on output.

Q15_LO = "1997-01-01 00:00:00"
Q15_HI = "1997-04-01 00:00:00"


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_HI).cast("timestamp"))
    )
    volume = (money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))).cast(
        "decimal(18,4)"
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum(volume).alias("_rev"))
    top = revenue.agg(F.max("_rev").alias("_max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("_rev") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT
    l_suppkey AS supplier_no,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_LO}' AND l_shipdate < TIMESTAMP '{Q15_HI}'
  GROUP BY l_suppkey
)
SELECT
  s_suppkey, s_name,
  CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total = (SELECT MAX(total) FROM revenue)
ORDER BY s_suppkey
"""


# --- q17_small_quantity_revenue -----------------------------------------------------
# Canonical Q17: revenue lost to small-quantity orders for one brand (container
# predicate replaced by p_size <= 10 — corpus has no p_container). The correlated
# per-part AVG subquery becomes: broadcast the brand-filtered part into lineitem once,
# aggregate per-part averages from that SAME joined slice, broadcast the tiny per-part
# threshold table back — the big lineitem relation is scanned once and never shuffled
# on anything but the map-side broadcast hash probes.

Q17_BRAND = "Brand#23"
Q17_MAX_SIZE = 10


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == Q17_BRAND) & (F.col("p_size") <= Q17_MAX_SIZE))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    thresholds = branded.groupBy("p_partkey").agg(
        (
            F.lit(0.2)
            * (F.sum(money("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("_qty_cut")
    )
    return (
        branded.join(
            F.broadcast(thresholds.select(F.col("p_partkey").alias("_tp"), "_qty_cut")),
            F.col("p_partkey") == F.col("_tp"),
        )
        .filter(F.col("l_quantity") < F.col("_qty_cut"))
        .agg(
            F.round(
                F.round(F.sum(money("l_extendedprice")), 2).cast("double") / F.lit(7.0), 6
            ).alias("avg_yearly")
        )
    )


Q17_ORACLE = f"""
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice, p_partkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = '{Q17_BRAND}' AND p_size <= {Q17_MAX_SIZE}
), thresholds AS (
  SELECT p_partkey AS tp,
         0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS qty_cut
  FROM branded GROUP BY p_partkey
)
SELECT
  ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM branded JOIN thresholds ON p_partkey = tp
WHERE l_quantity < qty_cut
"""


# --- q21_waiting_suppliers ----------------------------------------------------------
# Canonical Q21: suppliers who alone failed a multi-supplier order. The corpus lacks
# receipt/commit dates, so "late" is substituted by l_returnflag = 'R' (a returned
# line), preserving the canonical EXISTS(other-supplier line) + NOT EXISTS(other
# RETURNED other-supplier line) semi+anti self-join pair on the lineitem fact. Both
# self-joins are equi on l_orderkey with a non-equi supplier guard — SMJ/shuffled-hash
# with residual condition, never a nested loop. supplier⋈nation broadcasts; orders
# ('F' status) joins on orderkey.

Q21_NATION = "NATION_3"
Q21_TOPN = 20


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q21_NATION)
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("sk1"), "s_name")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        l1.join(l2, (F.col("k1") == F.col("k2")) & (F.col("sk1") != F.col("sk2")), "left_semi")
        .join(l3, (F.col("k1") == F.col("k3")) & (F.col("sk1") != F.col("sk3")), "left_anti")
        .groupBy("s_name")
        .agg(count_big("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(Q21_TOPN)
    )


Q21_ORACLE = f"""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE n_name = '{Q21_NATION}'
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT {Q21_TOPN}
"""


# --- q22_global_sales_opportunity ---------------------------------------------------
# Canonical Q22: idle wealthy customers by country code. c_phone substring is replaced
# by c_nationkey membership (corpus has no phone), and "no orders" by "no orders since
# Q22_CUTOFF" (this corpus gives essentially every customer at least one lifetime
# order — the windowed anti join keeps the canonical NOT EXISTS shape non-degenerate,
# the same adaptation customers_without_orders documents). Shape preserved: a 1-row
# scalar AVG subquery (broadcast cross join), an anti join against orders, and a
# group-by on the code. The customer relation is filtered map-side by the broadcast
# scalar before the anti-join shuffle — at 100 TB the anti join on o_custkey (orders
# date-pruned at the scan) is the only exchange.

Q22_NATIONS = (1, 3, 5, 7, 9, 11, 13)
Q22_CUTOFF = "2000-01-01 00:00:00"


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*Q22_NATIONS))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(money("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("_avg_bal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(count_big("numcust"), sum_money("c_acctbal", "totacctbal"))
        .orderBy("cntrycode")
    )


Q22_ORACLE = f"""
SELECT
  c_nationkey AS cntrycode,
  CAST(COUNT(*) AS BIGINT) AS numcust,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_nationkey IN {Q22_NATIONS}
  AND c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer
    WHERE c_nationkey IN {Q22_NATIONS} AND c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF}'
  )
GROUP BY c_nationkey
ORDER BY cntrycode
"""


# --- orders_zorder_locality ---------------------------------------------------------
# Z-order layout certification (plans/zorder.py): bucketize orders on two
# data-independent dimensions (price, order date), Morton-interleave the bits, and
# roll up min/max per z-prefix group. Narrow per-group ranges in BOTH dimensions at
# once are exactly the property that lets parquet min/max stats skip files for
# either predicate after a zorder write — certified bit-for-bit by DuckDB (pure
# integer shift/mask arithmetic on both engines).

ZO_BITS = 8
ZO_PRICE_HI = 614_400.0  # covers max o_totalprice with a clean 2400/bucket width
ZO_EPOCH = "1995-01-01"
ZO_DAYS_HI = 2_560.0  # 10-day buckets over the corpus date span
ZO_PREFIX_SHIFT = 10  # 16-bit z >> 10 -> 64 file-sized groups


def orders_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.zorder import fixed_range_bucket, zorder_key

    orders = load_table(spark, sf_dir, "orders")
    x = fixed_range_bucket(F.col("o_totalprice"), 0.0, ZO_PRICE_HI, ZO_BITS)
    y = fixed_range_bucket(
        F.datediff(F.col("o_orderdate"), F.lit(ZO_EPOCH).cast("date")).cast("double"),
        0.0,
        ZO_DAYS_HI,
        ZO_BITS,
    )
    z = zorder_key([x, y], ZO_BITS)
    return (
        orders.select(x.alias("_x"), y.alias("_y"), z.alias("_z"))
        .groupBy(F.shiftright(F.col("_z"), ZO_PREFIX_SHIFT).alias("z_group"))
        .agg(
            count_big("n_orders"),
            F.min("_x").cast("long").alias("min_price_bucket"),
            F.max("_x").cast("long").alias("max_price_bucket"),
            F.min("_y").cast("long").alias("min_date_bucket"),
            F.max("_y").cast("long").alias("max_date_bucket"),
            F.sum("_z").cast("long").alias("z_checksum"),
        )
        .orderBy("z_group")
    )


def _zorder_oracle() -> str:
    n = 1 << ZO_BITS
    x = (
        f"GREATEST(0, LEAST({n - 1}, "
        f"CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) * {n} / {ZO_PRICE_HI}) AS BIGINT)))"
    )
    y = (
        f"GREATEST(0, LEAST({n - 1}, "
        f"CAST(FLOOR((CAST(date_diff('day', DATE '{ZO_EPOCH}', o_orderdate) AS DOUBLE) - 0.0)"
        f" * {n} / {ZO_DAYS_HI}) AS BIGINT)))"
    )
    parts = []
    for i in range(ZO_BITS):
        parts.append(f"(((x >> {i}) & 1) << {i * 2})")
        parts.append(f"(((y >> {i}) & 1) << {i * 2 + 1})")
    z = " | ".join(parts)
    return f"""
WITH b AS (
  SELECT {x} AS x, {y} AS y FROM orders
),
zz AS (
  SELECT x, y, ({z}) AS z FROM b
)
SELECT
  z >> {ZO_PREFIX_SHIFT} AS z_group,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(MIN(x) AS BIGINT) AS min_price_bucket,
  CAST(MAX(x) AS BIGINT) AS max_price_bucket,
  CAST(MIN(y) AS BIGINT) AS min_date_bucket,
  CAST(MAX(y) AS BIGINT) AS max_date_bucket,
  CAST(SUM(z) AS BIGINT) AS z_checksum
FROM zz
GROUP BY z_group
ORDER BY z_group
"""


ORDERS_ZORDER_LOCALITY_ORACLE = _zorder_oracle()


# --- orders_hilbert_locality ---------------------------------------------------------
# [EXT] Hilbert vs Z-order, the layout decision MEASURED (plans/hilbert.py;
# r11): both curves linearize the same (price, date) bucket grid, both are
# cut into HB_FILES equal-ROW-COUNT chunks — exactly what
# repartitionByRange + file sizing produces — and each file's parquet-style
# min/max bucket rectangle is measured. The Hilbert curve is continuous
# (every step moves one cell) where Morton jumps at power-of-two boundaries,
# so unaligned cuts stay local: measured covered-area ~73k vs ~138k at
# sf0.01 (about HALF the files read for the same box predicate). One hash
# certifies both curves' keys (checksums), the equal-count file assignment,
# every file's rectangle, and the aggregate comparison. Ranks come from
# plans/ranking.distributed_row_number (one distributed sort numbered by
# Spark's distributed sequence id, no single-task window over the data); the
# oracle replays the unrolled Lam-Shapiro chain as per-level CTEs and a plain
# ROW_NUMBER.

HB_FILES = 48


def orders_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.hilbert import with_hilbert_key
    from ..plans.ranking import distributed_row_number
    from ..plans.zorder import fixed_range_bucket, zorder_key

    orders = load_table(spark, sf_dir, "orders")
    x = fixed_range_bucket(F.col("o_totalprice"), 0.0, ZO_PRICE_HI, ZO_BITS)
    y = fixed_range_bucket(
        F.datediff(F.col("o_orderdate"), F.lit(ZO_EPOCH).cast("date")).cast("double"),
        0.0,
        ZO_DAYS_HI,
        ZO_BITS,
    )
    base = orders.select(
        F.col("o_orderkey").alias("okey"), x.alias("x"), y.alias("y")
    ).localCheckpoint(eager=False)
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))

    def curve_stats(name: str, keyed: DataFrame) -> DataFrame:
        ranked = distributed_row_number(
            keyed, [F.col("k"), F.col("okey")], rank_col="rank"
        )
        files = ranked.crossJoin(F.broadcast(nrow)).withColumn(
            "file", F.expr(f"(rank - 1) * {HB_FILES} div _n").cast("long")
        )
        per_file = files.groupBy("file").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        area = (F.col("max_x") - F.col("min_x") + 1) * (
            F.col("max_y") - F.col("min_y") + 1
        )
        span = (F.col("max_x") - F.col("min_x") + 1) + (
            F.col("max_y") - F.col("min_y") + 1
        )
        return per_file.agg(
            F.lit(name).alias("curve"),
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(area).cast("long").alias("covered_area"),
            F.sum(span).cast("long").alias("span_sum"),
            F.sum("k_sum").cast("long").alias("key_checksum"),
        ).select(
            "curve", "n_rows", "n_files", "covered_area", "span_sum", "key_checksum"
        )

    hkeyed = with_hilbert_key(base, F.col("x"), F.col("y"), ZO_BITS, "k")
    zkeyed = base.select(
        "okey", "x", "y", zorder_key([F.col("x"), F.col("y")], ZO_BITS).alias("k")
    )
    return (
        curve_stats("hilbert", hkeyed)
        .unionByName(curve_stats("zorder", zkeyed))
        .orderBy("curve")
    )


def _hilbert_locality_oracle() -> str:
    n_side = 1 << ZO_BITS
    x = (
        f"GREATEST(0, LEAST({n_side - 1}, "
        f"CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) * {n_side} / {ZO_PRICE_HI}) AS BIGINT)))"
    )
    y = (
        f"GREATEST(0, LEAST({n_side - 1}, "
        f"CAST(FLOOR((CAST(date_diff('day', DATE '{ZO_EPOCH}', o_orderdate) AS DOUBLE) - 0.0)"
        f" * {n_side} / {ZO_DAYS_HI}) AS BIGINT)))"
    )
    zparts = []
    for i in range(ZO_BITS):
        zparts.append(f"(((x >> {i}) & 1) << {i * 2})")
        zparts.append(f"(((y >> {i}) & 1) << {i * 2 + 1})")
    z = " | ".join(zparts)
    # unrolled Lam-Shapiro chain: one CTE per level, rx/ry from the PRE-update
    # state columns hx/hy of the previous level
    levels = []
    prev = "hb"
    for li, level in enumerate(range(ZO_BITS - 1, -1, -1)):
        s = 1 << level
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        cte = f"""l{li} AS (
  SELECT okey, x, y,
         d + {s * s} * xor(3 * {rx}, {ry}) AS d,
         CASE WHEN (hy & {s}) = 0
              THEN (CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hy ELSE hy END)
              ELSE hx END AS hx,
         CASE WHEN (hy & {s}) = 0
              THEN (CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hx ELSE hx END)
              ELSE hy END AS hy
  FROM {prev})"""
        levels.append(cte)
        prev = f"l{li}"
    level_sql = ",\n".join(levels)

    def curve_sql(name: str, rel: str, key: str) -> str:
        return f"""
SELECT '{name}' AS curve,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT) AS covered_area,
       CAST(SUM((max_x - min_x + 1) + (max_y - min_y + 1)) AS BIGINT) AS span_sum,
       CAST(SUM(k_sum) AS BIGINT) AS key_checksum
FROM (
  SELECT ((rn - 1) * {HB_FILES}) // nn AS file,
         COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y, SUM(k) AS k_sum
  FROM (SELECT okey, x, y, {key} AS k,
               ROW_NUMBER() OVER (ORDER BY {key}, okey) AS rn,
               COUNT(*) OVER () AS nn
        FROM {rel})
  GROUP BY file
)"""

    return f"""
WITH b AS MATERIALIZED (
  SELECT o_orderkey AS okey, {x} AS x, {y} AS y FROM orders
), hb AS (
  SELECT okey, x, y, CAST(0 AS BIGINT) AS d, x AS hx, y AS hy FROM b
), {level_sql},
hkeys AS MATERIALIZED (SELECT okey, x, y, d FROM {prev}),
zkeys AS MATERIALIZED (SELECT okey, x, y, ({z}) AS z FROM b)
{curve_sql("hilbert", "hkeys", "d")}
UNION ALL
{curve_sql("zorder", "zkeys", "z")}
ORDER BY curve
"""


ORDERS_HILBERT_LOCALITY_ORACLE = _hilbert_locality_oracle()


# --- lineitem_exact_median ----------------------------------------------------------
# Exact per-group median WITHOUT a global sort (plans/median.py): two-phase
# histogram selection — the only sort touches the ~n/1024 rows of the candidate
# bucket per group. Spark's built-in exact percentile buffers whole groups in
# memory; this is the shape that survives 100 TB groups. Lower (discrete) median,
# hence exactly DuckDB-reproducible with no float arithmetic at all.


def lineitem_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.median import distributed_median

    li = load_table(spark, sf_dir, "lineitem")
    return distributed_median(li, "l_extendedprice", ["l_returnflag"])


LINEITEM_EXACT_MEDIAN_ORACLE = """
SELECT l_returnflag, n AS n_rows, v AS median FROM (
  SELECT l_returnflag, l_extendedprice AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM lineitem
)
WHERE rn = (n + 1) // 2
ORDER BY l_returnflag
"""


# --- lineitem_bloom_prefilter --------------------------------------------------------
# Bloom-filter semi-join reduction (plans/bloom.py): prune the fact scan against a
# broadcast Bloom bitmap of the selective key set BEFORE any shuffle or exact join —
# the canonical 100 TB join-pruning strategy, in its engine-portable form. The md5
# double-hash positions and the 16384-word bitmap replay exactly in SQL, so ONE oracle
# hash certifies the admitted set (true matches AND false positives), the exact-join
# control counts, and the revenue checksum over the true matches. The probe side is
# scanned once with k broadcast word-lookups (one ReusedExchange) and zero shuffles
# before the final 1-row aggregate.


def lineitem_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.bloom import bloom_prefilter, bloom_words

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    words = bloom_words(keys, "o_orderkey")
    passed = bloom_prefilter(
        li.select("l_orderkey", "l_extendedprice"), "l_orderkey", words
    )
    marked = passed.join(
        F.broadcast(keys.withColumn("_hit", F.lit(1))),
        passed["l_orderkey"] == keys["o_orderkey"],
        "left",
    )
    return marked.agg(
        count_big("n_bloom_pass"),
        F.count(F.col("_hit")).cast("long").alias("n_true_match"),
        (F.count(F.lit(1)) - F.count(F.col("_hit"))).cast("long").alias("n_false_positive"),
        sum_money(
            F.when(F.col("_hit") == 1, F.col("l_extendedprice")), "revenue_checksum"
        ),
    )


from ..plans.bloom import BLOOM_M_BITS as _BLOOM_M


def _bloom_probe_sql(key: str, i: int) -> str:
    """One Bloom membership probe: join words on the position's word index and
    test its bit. Mirrors plans/bloom.py bloom_position exactly."""
    pos = f"((h1 + {i} * h2) % {_BLOOM_M})"
    return (
        f"JOIN words w{i} ON w{i}.word = CAST({pos} // 32 AS INTEGER) "
        f"AND ((w{i}.bits >> CAST({pos} % 32 AS INTEGER)) & 1) = 1"
    )


LINEITEM_BLOOM_PREFILTER_ORACLE = f"""
WITH keys AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
), kh AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
  FROM keys
), kpos AS (
  SELECT ((h1 + i * h2) % {_BLOOM_M}) AS pos FROM kh, UNNEST([0, 1, 2]) AS t(i)
), words AS (
  SELECT CAST(pos // 32 AS INTEGER) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
  FROM kpos GROUP BY 1
), ph AS (
  SELECT l_orderkey, l_extendedprice,
         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
  FROM lineitem
), passed AS (
  SELECT p.l_orderkey, p.l_extendedprice
  FROM ph p
  {_bloom_probe_sql("l_orderkey", 0)}
  {_bloom_probe_sql("l_orderkey", 1)}
  {_bloom_probe_sql("l_orderkey", 2)}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
       CAST(COUNT(k.o_orderkey) AS BIGINT) AS n_true_match,
       CAST(COUNT(*) - COUNT(k.o_orderkey) AS BIGINT) AS n_false_positive,
       CAST(ROUND(SUM(CASE WHEN k.o_orderkey IS NOT NULL
                           THEN CAST(l_extendedprice AS DECIMAL(18,2)) END), 2) AS DOUBLE)
         AS revenue_checksum
FROM passed LEFT JOIN keys k ON passed.l_orderkey = k.o_orderkey
"""
