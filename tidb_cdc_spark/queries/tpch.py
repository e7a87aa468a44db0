"""TPC-H query shapes and relational showcases over the TPC-H tables
(SURVEY §2.1 categories): scans, filters, broadcast and shuffle joins,
semi/anti joins, EXISTS/IN and correlated scalar subqueries, HAVING,
distinct aggregates, rollup/cube/grouping sets, window functions,
top-k, set ops, string/date scalar breadth, theta-ish range joins and
salted skew aggregation.

The testdata lacks ``partsupp`` and several TPC-H columns
(l_shipmode/commitdate/receiptdate, o_comment, p_container), so
q2/q9/q11/q12/q19/q20/q21 are adapted variants that keep the
original's plan SHAPE on the columns that exist (see each function's
docstring); together the module demonstrates all 22 TPC-H shapes.
Each query documents its intended physical plan; tests/ pin the plan
properties (broadcast, pushdown) via plans/inspect.py.

Conventions as in queries/__init__.py: identical aliases in both
engines, exact decimal aggregation cast to double at the end
(functions/numeric.py), deterministic tie-breaks on unique keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.numeric import dec
from tidb_cdc_spark.operators.skew import salted_sum
from tidb_cdc_spark.operators.windows import topk_per_group
from tidb_cdc_spark.session import read_table as _t


# --- exact-decimal helpers (see functions/numeric.py docstring) ---
def _ext(c="l_extendedprice"):
    return F.col(c).cast("decimal(12,2)")


def _one_minus_disc():
    return (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")


def _one_plus_tax():
    return (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")).cast("decimal(4,2)")


def _disc_price():
    return (_ext() * _one_minus_disc()).cast("decimal(18,4)")


# ---------------------------------------------------------------- q1
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg
    (partial map-side + final) → sort. One shuffle on the tiny
    (flag, status) key space; AQE coalesces the post-agg partitions."""
    li = _t(spark, sf_dir, "lineitem")
    charge = (_disc_price() * _one_plus_tax()).cast("decimal(24,6)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(_ext()).cast("double").alias("sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_ext()).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (
                F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------- q3
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer(filtered, broadcast) ⋈ orders ⋈
    lineitem → agg → top-10. The customer side is small after the
    segment filter → broadcast; orders⋈lineitem is the one shuffle
    join on orderkey."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------- q5
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; region→nation→supplier/customer
    are broadcast dims, lineitem⋈orders the single big shuffle."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------- q6
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-agg; all three predicates push to
    the parquet reader, single partial+final agg, no join."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (_ext() * F.col("l_discount").cast("decimal(4,2)")).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").cast("decimal(4,2)").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


_Q6_SQL = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ------------------------------------------------------- top-k/group
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 highest-value orders per customer. One shuffle
    on custkey; rank-filter pushdown prunes per partition."""
    orders = _t(spark, sf_dir, "orders")
    return topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
        rank_col="rk",
    )


_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) t
WHERE rk <= 3
"""


# ----------------------------------------------------------- rollup
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — multi-grouping-set agg in one pass
    (Expand + single shuffle), the built-in Spark shape."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_ext()).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# ----------------------------------------------------------- set ops
def setops_nation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: nations that have customers but no
    suppliers, and nations with both, tagged."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).distinct()
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    ).distinct()
    both = cust.intersect(supp).withColumn("tag", F.lit("both"))
    only_cust = cust.exceptAll(supp).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(only_cust).orderBy("tag", "nationkey")


_SETOPS_SQL = """
SELECT nationkey, 'both' AS tag FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   INTERSECT
   SELECT DISTINCT s_nationkey AS nationkey FROM supplier) t1
UNION ALL
SELECT nationkey, 'cust_only' AS tag FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
   EXCEPT
   SELECT DISTINCT s_nationkey AS nationkey FROM supplier) t2
ORDER BY tag, nationkey
"""


# ---------------------------------------------------- scalar funcs
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface on part+orders — every
    expression a JVM built-in, checked against the oracle's ANSI
    equivalents."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.round(F.col("p_retailprice").cast("decimal(12,2)") * 2, 2)
        .cast("double")
        .alias("double_price"),
        F.when(F.col("p_size") > 25, "large").otherwise("small").alias("size_class"),
        (F.col("p_partkey") % 7).alias("bucket"),
    ).orderBy("p_partkey")


_SCALAR_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       SUBSTRING(p_type, 1, 5) AS type_prefix,
       LENGTH(p_name) AS name_len,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       ABS(p_size - 25) AS size_dist,
       CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)) * 2, 2) AS DOUBLE) AS double_price,
       CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
       p_partkey % 7 AS bucket
FROM part
ORDER BY p_partkey
"""


# ------------------------------------------------- semi join (EXISTS)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join on orderkey; the semi
    join shuffles only keys, never multiplies rows."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    late = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus") == "F"
    ).select("l_orderkey")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_linestatus = 'F')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------------------------------------------- anti join (NOT EXISTS)
def q22_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti join + uncorrelated scalar subquery.
    Customers above the average balance with no FINISHED ('F')
    orders (every synthetic customer has some order, so the classic
    no-orders-at-all variant is vacuously empty)."""
    cust = _t(spark, sf_dir, "customer")
    # uncorrelated scalar subquery stays IN the plan: broadcast the
    # 1-row aggregate and cross-join, instead of a driver-side
    # .collect() that would serialize two separate jobs
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("_avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("_avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


_Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ------------------------------------- correlated scalar subquery (Q17 shape)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-part average-quantity threshold, then sum
    revenue of lineitems below 0.5×avg. Decorrelated into an agg +
    equi-join — the plan Catalyst produces for the correlated SQL,
    written natively."""
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.sum("l_quantity") / (2 * F.count(F.lit(1)))).alias("half_avg_qty")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.sum(dec("l_extendedprice")).cast("double").alias("small_qty_revenue"))
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_qty_revenue
FROM lineitem l1
WHERE l_quantity < (SELECT SUM(l_quantity) / (2 * COUNT(*))
                    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
"""


# ---------------------------------------------------- HAVING + distinct agg
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate + HAVING: per (brand, size-class), count of
    distinct suppliers shipping that combination; keep combos with
    more than 2 distinct suppliers."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", (F.col("p_size") % 5).alias("size_class"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .filter(F.col("supplier_cnt") > 2)
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "size_class")
    )


_Q16_SQL = """
SELECT p_brand, p_size % 5 AS size_class,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_size % 5
HAVING COUNT(DISTINCT l_suppkey) > 2
ORDER BY supplier_cnt DESC, p_brand, size_class
"""


# ------------------------------------------------------------- cube
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping sets in
    one Expand + single shuffle."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# ------------------------------------------------- window breadth
def window_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank/dense_rank/ntile/running-sum over customer order
    history — one window partitioning, many functions (single
    shuffle, functions share the sort)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price = dec("o_totalprice")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("seq"),
            F.rank().over(
                Window.partitionBy("o_custkey").orderBy(F.col("o_orderstatus"))
            ).alias("status_rank"),
            F.lag("o_orderkey", 1).over(w).alias("prev_order"),
            F.lead("o_orderkey", 1).over(w).alias("next_order"),
            F.ntile(4).over(w).alias("quartile"),
            F.sum(price).over(wr).cast("double").alias("running_spend"),
        )
        .orderBy("o_custkey", "seq")
    )


_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER w AS seq,
       RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank,
       LAG(o_orderkey, 1) OVER w AS prev_order,
       LEAD(o_orderkey, 1) OVER w AS next_order,
       NTILE(4) OVER w AS quartile,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER wr AS DOUBLE) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING)
ORDER BY o_custkey, seq
"""


# --------------------------------------------- date/string functions
def date_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar breadth on orders: parts, trunc, diff, format."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("q"),
        F.date_trunc("month", d).alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).alias(
            "days_to_eoy"
        ),
        F.date_format(d, "yyyy-MM").alias("ym"),
    ).orderBy("o_orderkey")


_DATE_SQL = """
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate) AS y,
       EXTRACT(month FROM o_orderdate) AS m,
       EXTRACT(day FROM o_orderdate) AS dom,
       EXTRACT(quarter FROM o_orderdate) AS q,
       DATE_TRUNC('month', o_orderdate) AS month_start,
       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
       STRFTIME(o_orderdate, '%Y-%m') AS ym
FROM orders ORDER BY o_orderkey
"""


# ----------------------------------------- conditional agg (Q12/Q14 shape)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: promo revenue share per month —
    sum(CASE WHEN ...) / sum(...) as exact decimals → double ratio."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (dec("l_extendedprice") * (
        F.lit(1) - dec("l_discount", 4, 2)
    ).cast("decimal(4,2)")).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "promo_share",
            F.round(F.col("promo_revenue") / F.col("total_revenue"), 6),
        )
        .orderBy("ship_month")
    )


_Q14_SQL = """
WITH t AS (
  SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
              AS DECIMAL(18,4)) AS rev,
         p_type LIKE 'PROMO%' AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT ship_month,
       CAST(SUM(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       ROUND(CAST(SUM(CASE WHEN is_promo THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS promo_share
FROM t GROUP BY ship_month ORDER BY ship_month
"""


# ------------------------------------------------- IN-subquery join
def suppliers_of_large_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) → left-semi join chain across two dims."""
    li = _t(spark, sf_dir, "lineitem")
    big_parts = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40).select("p_partkey")
    supp = _t(spark, sf_dir, "supplier")
    shipped = li.join(
        F.broadcast(big_parts), li.l_partkey == big_parts.p_partkey, "left_semi"
    ).select("l_suppkey").distinct()
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


_IN_SQL = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40))
ORDER BY s_suppkey
"""


# ---------------------------------------------- self theta-range join
def price_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (theta) join: pairs of parts in the same brand whose
    retail prices differ by < 1.00 — equi-key on brand keeps the
    quadratic term bounded per brand (the scalable band-join shape)."""
    part = _t(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("pk_a"),
        dec("p_retailprice").alias("price_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("pk_b"),
        dec("p_retailprice").alias("price_b"),
    )
    return (
        a.join(b, "brand")
        .filter(
            (F.col("pk_a") < F.col("pk_b"))
            & (F.abs(F.col("price_a") - F.col("price_b")) < 1.0)
        )
        .select(
            "brand",
            "pk_a",
            "pk_b",
            F.abs(F.col("price_a") - F.col("price_b")).cast("double").alias("price_gap"),
        )
        .orderBy("brand", "pk_a", "pk_b")
    )


_BAND_SQL = """
SELECT a.p_brand AS brand, a.p_partkey AS pk_a, b.p_partkey AS pk_b,
       CAST(ABS(CAST(a.p_retailprice AS DECIMAL(12,2)) - CAST(b.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS price_gap
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE ABS(CAST(a.p_retailprice AS DECIMAL(12,2)) - CAST(b.p_retailprice AS DECIMAL(12,2))) < 1.0
ORDER BY brand, pk_a, pk_b
"""


# ------------------------------------------------ full outer join
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join surface: customer vs supplier counts per
    nation, nations present on either side."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


_FULL_OUTER_SQL = """
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
  USING (nationkey)
ORDER BY nationkey
"""


# --------------------------------------------- explicit grouping sets
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (status), (priority), () with
    grouping_id — the third multi-grouping-set code path next to
    rollup/cube (one pass, expand + single shuffle)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""


# ------------------------------------------------ skew-salted aggregate
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-mitigation surface, oracle-gated: two-phase SALTED
    aggregation (operators/skew.py — phase 1 groups by (key, salt) so
    a hot key fans out over 16 reducers, phase 2 merges partials)
    over lineitem's 3-value l_returnflag — maximal key skew. Exact
    decimal sums make the salted split algebraically identical to the
    plain GROUP BY the oracle runs."""

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec("l_quantity").alias("qty"),
        F.lit(1).alias("one"),
    )
    out = salted_sum(li, ["l_returnflag"], {"qty": "sum_qty", "one": "n"})
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("l_returnflag")


_SALTED_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------- data profiling via unpivot/stack
def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of lineitem's numeric columns —
    one scan computes every statistic (Spark fuses the aggregates),
    then ``stack`` unpivots the 1-row wide aggregate into one row per
    column. The unpivot runs on ONE row, so the wide→long reshape is
    free at any scale; the scan is the only data-sized cost."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}_n"),
            F.count_distinct(F.col(c)).alias(f"{c}_d"),
            F.min(F.col(c)).cast("double").alias(f"{c}_min"),
            F.max(F.col(c)).cast("double").alias(f"{c}_max"),
            F.expr(f"percentile({c}, 0.5)").alias(f"{c}_p50"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_n, {c}_d, {c}_min, {c}_max, {c}_p50" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n_nonnull, n_distinct, min_v, max_v, p50)"
        )
    ).orderBy("col")


_PROFILE_SQL = """
SELECT col, n_nonnull, n_distinct, min_v, max_v, p50 FROM (
  SELECT 'l_quantity' AS col, COUNT(l_quantity) AS n_nonnull,
         COUNT(DISTINCT l_quantity) AS n_distinct,
         CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
         CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
         quantile_cont(l_quantity, 0.5) AS p50
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', COUNT(l_extendedprice),
         COUNT(DISTINCT l_extendedprice),
         CAST(MIN(l_extendedprice) AS DOUBLE),
         CAST(MAX(l_extendedprice) AS DOUBLE),
         quantile_cont(l_extendedprice, 0.5)
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', COUNT(l_discount), COUNT(DISTINCT l_discount),
         CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE),
         quantile_cont(l_discount, 0.5)
  FROM lineitem
  UNION ALL
  SELECT 'l_tax', COUNT(l_tax), COUNT(DISTINCT l_tax),
         CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE),
         quantile_cont(l_tax, 0.5)
  FROM lineitem
) ORDER BY col
"""


_DISC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))"
)


# ---------------------------------------------------------------- q7
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: 6-way join (2 broadcast dims reused under different
    aliases) + symmetric nation-pair predicate + year extraction.
    lineitem→orders→customer is the only big-table chain; nation is
    broadcast twice (supplier side, customer side) — zero shuffle
    added by the dims."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         {_DISC_SQL} AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------- q8
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share = conditional-sum / sum over a
    7-way join. Exact decimal sums on both numerator and denominator,
    divided as doubles at the very end (cross-engine stable)."""
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_regionkey").alias("_cr_key")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("nation")
    )
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    vol = _disc_price()
    nat_vol = F.when(F.col("nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("_cn_key"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(region), F.col("_cr_key") == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         {_DISC_SQL} AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------- q9
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table in the testdata, so
    profit = discounted revenue rather than revenue − supplycost).
    Plan shape preserved: LIKE-filtered part dim broadcast into the
    lineitem scan, then supplier→nation broadcast chain, agg by
    (nation, year)."""
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n_key"), F.col("n_name").alias("nation")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("_n_key"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q9_SQL = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
         {_DISC_SQL} AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------- q10
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns, top 20 customers. Join
    order puts the selective orders filter before the lineitem join;
    nation broadcast; top-k via sort+limit with unique-key tiebreak."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n_key"), "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("_n_key"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------- q13
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (no o_comment in testdata, so the anti-pattern
    filter keys on o_orderpriority instead): customer × order-count
    histogram via LEFT OUTER join then two-level aggregation.
    count(o_orderkey) counts only matched rows — null-safe."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------- q15
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + max-revenue supplier(s). The
    max-of-aggregate comparison happens on EXACT decimals (equality
    on doubles would be cross-engine-fragile); the view is computed
    once and self-compared via a broadcast of the 1-row max."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_price()).alias("_total")
    )
    max_rev = revenue.agg(F.max("_total").alias("_mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), revenue._total == max_rev._mx)
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("_total").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_DISC_SQL}) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
FROM revenue
JOIN supplier ON supplier_no = s_suppkey
WHERE total = (SELECT MAX(total) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------- q18
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold —
    aggregate-then-semi-join. The HAVING runs on the lineitem agg
    BEFORE joining customers/orders (smallest possible join input),
    the classic pushed-aggregation shape."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------- q19
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted: no p_container/l_shipmode columns):
    disjunction of three brand × size × quantity bands, evaluated as
    a join predicate — Catalyst pushes the OR of per-table
    conjuncts down to both scans and the join stays a single
    broadcast hash join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


_Q19_SQL = f"""
SELECT CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


# --------------------------------------------------------------- q20
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp, so "availability" is
    observed shipped quantity): suppliers who moved > 400 units of
    PROMO parts in 1996 — aggregate → HAVING → semi-join into the
    supplier dim."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 400)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 400
)
ORDER BY s_suppkey
"""


# ------------------------------------------------- sketches / stats
def sketch_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistics per order status: interpolated
    percentiles (bit-identical convention to DuckDB's quantile_cont:
    rank = p·(n−1), linear interpolation) + exact distinct counts.
    The exact twin of ``sketch_approx`` — at 100 TB you run THAT one;
    this is the accuracy oracle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
            F.count_distinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


_SKETCH_PCT_SQL = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       COUNT(DISTINCT o_custkey) AS n_cust,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def sketch_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based statistics — the 100 TB path: HyperLogLog++
    distinct counts (fixed-size sketch, mergeable map-side) and
    GK approximate percentiles (bounded-memory, single pass).

    Sketch estimates are estimate-valued, so the oracle-checkable
    output is the ERROR-BOUND VERDICT, not the raw estimate: the
    same single-shuffle plan computes the exact statistic alongside
    the sketch and emits per-group booleans asserting the sketch
    landed within its published bound (HLL++ rsd=2% → |Δ|/exact <
    10% = 5σ; GK accuracy=10000 → rank error n/10000, checked as
    value-relative < 1%). The SQL oracle is the deterministic truth
    (`TRUE` per bound): a regression in Spark's sketches or in our
    plan flips a boolean and fails the hash."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("nc_a"),
        F.count_distinct("o_custkey").alias("nc_x"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_a"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50_x"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_a"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_x"),
    )
    rel = lambda a, x: F.abs(F.col(a) - F.col(x)) / F.greatest(F.abs(F.col(x)), F.lit(1e-9))
    return agg.select(
        "o_orderstatus",
        (rel("nc_a", "nc_x") < 0.10).alias("cust_within_bound"),
        (rel("p50_a", "p50_x") < 0.01).alias("p50_within_bound"),
        (rel("p90_a", "p90_x") < 0.01).alias("p90_within_bound"),
    ).orderBy("o_orderstatus")


_SKETCH_APPROX_SQL = """
SELECT o_orderstatus,
       TRUE AS cust_within_bound,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------- q2
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a
    region. The correlated MIN subquery decorrelates to a window
    min over l_partkey followed by an equality filter — ONE pass
    over the aggregated supply table (a self-join decorrelation
    would scan and aggregate lineitem twice; verified in the
    physical plan).

    Scale: the supply table aggregates lineitem down to (part,
    supplier) pairs before anything else sees it; nation/region
    broadcast; shuffles are the groupBy on (partkey, suppkey) and
    the window repartition on partkey. supply cost is a single IEEE
    division (no summation), bit-identical across engines."""
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # region-restricted supplier dim (broadcast: |suppliers| rows)
    rsupp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "PROMO") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_brand")
    )
    # partsupp stand-in: observed (part, supplier) pairs with
    # supply_cost = min unit price, restricted to region suppliers
    cost = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_suppkey",
            (
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("_unit"),
        )
        .join(F.broadcast(rsupp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("_unit").alias("supply_cost"))
    )

    best = cost.withColumn(
        "_min_cost",
        F.min("supply_cost").over(Window.partitionBy("l_partkey")),
    ).filter(F.col("supply_cost") == F.col("_min_cost"))
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(rsupp), best.l_suppkey == rsupp.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            # NO rounding: supply_cost is a single IEEE division (no
            # summation), bit-identical across engines — ROUND would
            # reintroduce divergence at half-ties (Spark HALF_UP vs
            # DuckDB half-even hit exactly that at sf0.1)
            "supply_cost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_Q2_SQL = """
WITH rsupp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cost AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem JOIN rsupp ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
FROM cost
JOIN part ON l_partkey = p_partkey
JOIN rsupp ON l_suppkey = s_suppkey
WHERE p_type = 'PROMO' AND p_size <= 10
  AND supply_cost = (SELECT MIN(c2.supply_cost) FROM cost c2
                     WHERE c2.l_partkey = cost.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------- q11
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value from one nation's suppliers,
    HAVING value above a threshold from an uncorrelated scalar
    subquery, kept IN the plan as a broadcast 1-row aggregate. The
    original's FIXED fraction (0.0001/SF) is deliberately scaled by
    1/SF in the spec because per-part share shrinks as the corpus
    grows — a constant returned 0 rows at 10× here. The adapted
    threshold is data-relative (value > 2 × mean part value, i.e.
    value·n_parts > total·2 as an integer decimal
    cross-multiplication, never a float), which keeps a stable
    selected fraction at ANY scale factor.

    Headroom: ``_value`` is decimal(27,4) (sum of decimal(17,4)
    line revenues with Spark's +10-digit sum widening) and ``_n``
    is at most ~2·10⁸ even at 100 TB (part count), so
    ``_value·_n`` needs ≤ 23+9 = 32 integer digits — inside the
    decimal(38,4) cap Spark assigns the product; DuckDB widens to
    decimal(38,4) identically here. Divergence/ANSI overflow would
    need |_value| ≥ ~1e29, i.e. ~1e25 × the 100 TB revenue mass —
    unreachable (same bound style as bm25/pagerank int64 notes).

    Scale: lineitem is semi-reduced by the broadcast nation-supplier
    dim before its single groupBy on l_partkey; the total reuses the
    same pre-aggregated per-part table (one extra 1-row agg, no
    second lineitem pass)."""
    nsupp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(nsupp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_disc_price()).alias("_value"))
    )
    total = per_part.agg(
        F.sum("_value").alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_value") * F.col("_n") > F.col("_total") * F.lit(2))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_value").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


_Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS p_partkey, SUM({_DISC_SQL}) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM per_part
WHERE value_dec * (SELECT COUNT(*) FROM per_part)
      > (SELECT SUM(value_dec) FROM per_part) * 2
ORDER BY part_value DESC, p_partkey
"""


# --------------------------------------------------------------- q12
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: orders⋈lineitem with a CASE-sum priority
    classification per class; l_linestatus stands in for the absent
    l_shipmode and the receipt-date window collapses to l_shipdate.
    Pure integer counting — exact by construction.

    Scale: the date filter pushes to the lineitem scan; one shuffle
    join on orderkey, map-side-combined CASE-sums over 2 groups."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------- q21
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on
    a multi-supplier order — EXISTS (another supplier shipped in the
    order) via left-semi, NOT EXISTS (another supplier was also
    late) via left-anti, both self-joins on l_orderkey with a
    supplier-inequality residual. late := l_shipdate >
    o_orderdate + 91 days (the data's single lateness signal).
    l1 is deduped to (order, supplier), so numwait counts orders a
    supplier kept waiting, tie-broken by s_name.

    Scale: both self-joins shuffle lineitem ONCE each on the join
    key l_orderkey (ids-only projections); the late set is the
    smaller joined-and-filtered table; supplier/nation broadcast.

    Gate note: at sf0.001 this query returns 0 rows, so an oracle
    compare there is vacuous — the gate row is only meaningful at
    sf0.01+ (3 rows at sf0.01, verified; the sf0.01-vs-sf0.1
    SF-independence mirror in tests/test_queries_oracle.py is the
    non-vacuous check)."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            # timestamp + interval, NOT date_add (which truncates to
            # a date): the oracle's `+ INTERVAL 91 DAY` preserves
            # time-of-day, so the cutoffs must match for non-midnight
            # timestamps too
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 91 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    nsupp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = late.join(
        F.broadcast(nsupp), late.l_suppkey == nsupp.s_suppkey
    ).select("l_orderkey", "l_suppkey", "s_name")
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    waiting = l1.join(
        l2,
        (l1.l_orderkey == F.col("_ok2")) & (l1.l_suppkey != F.col("_sk2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("_ok3"))
        & (F.col("l_suppkey") != F.col("_sk3")),
        "left_anti",
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_Q21_SQL = """
WITH late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 91 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


QUERIES = {
    "q12_priority_lines": q12_priority_lines,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q8_market_share": q8_market_share,
    "q9_product_type_profit": q9_product_type_profit,
    "table_profile_lineitem": table_profile_lineitem,
    "q1_pricing_summary": q1_pricing_summary,
    "q6_forecast_revenue": q6_forecast_revenue,
    "topk_orders_per_customer": topk_orders_per_customer,
    "rollup_revenue": rollup_revenue,
    "setops_nation_overlap": setops_nation_overlap,
    "scalar_functions_showcase": scalar_functions_showcase,
    "q4_order_priority": q4_order_priority,
    "q22_customers_without_orders": q22_customers_without_orders,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q16_supplier_part_variety": q16_supplier_part_variety,
    "cube_order_stats": cube_order_stats,
    "window_functions_showcase": window_functions_showcase,
    "date_functions_showcase": date_functions_showcase,
    "q14_promo_effect": q14_promo_effect,
    "suppliers_of_large_parts": suppliers_of_large_parts,
    "price_band_pairs": price_band_pairs,
    "full_outer_nation_presence": full_outer_nation_presence,
    "skew_salted_agg": skew_salted_agg,
    "grouping_sets_orders": grouping_sets_orders,
    "sketch_percentiles": sketch_percentiles,
    "sketch_approx": sketch_approx,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_promo_part_suppliers": q20_promo_part_suppliers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_parts": q11_important_parts,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}
ORACLE = {
    "q12_priority_lines": _Q12_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "q5_local_supplier_volume": _Q5_SQL,
    "q8_market_share": _Q8_SQL,
    "q9_product_type_profit": _Q9_SQL,
    "table_profile_lineitem": _PROFILE_SQL,
    "q1_pricing_summary": _Q1_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "topk_orders_per_customer": _TOPK_SQL,
    "rollup_revenue": _ROLLUP_SQL,
    "setops_nation_overlap": _SETOPS_SQL,
    "scalar_functions_showcase": _SCALAR_SQL,
    "q4_order_priority": _Q4_SQL,
    "q22_customers_without_orders": _Q22_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q16_supplier_part_variety": _Q16_SQL,
    "cube_order_stats": _CUBE_SQL,
    "window_functions_showcase": _WINDOW_SQL,
    "date_functions_showcase": _DATE_SQL,
    "q14_promo_effect": _Q14_SQL,
    "suppliers_of_large_parts": _IN_SQL,
    "price_band_pairs": _BAND_SQL,
    "full_outer_nation_presence": _FULL_OUTER_SQL,
    "skew_salted_agg": _SALTED_SQL,
    "grouping_sets_orders": _GROUPING_SETS_SQL,
    "sketch_percentiles": _SKETCH_PCT_SQL,
    "sketch_approx": _SKETCH_APPROX_SQL,
    "q7_volume_shipping": _Q7_SQL,
    "q10_returned_items": _Q10_SQL,
    "q13_customer_distribution": _Q13_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q18_large_volume_customers": _Q18_SQL,
    "q19_discounted_revenue": _Q19_SQL,
    "q20_promo_part_suppliers": _Q20_SQL,
    "q2_min_cost_supplier": _Q2_SQL,
    "q11_important_parts": _Q11_SQL,
    "q21_waiting_suppliers": _Q21_SQL,
}
