"""Relational coverage: TPC-H query shapes, window frames, outer and
anti joins over customers and orders, CDC / SCD / MERGE
maintenance and the declarative data-quality gate."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _EVENT_TYPES
from casf_spark.queries._registry import query


def _rev_dec():
    """Exact-decimal revenue term: float sums land on .xx5 half-points in
    different orders per engine; decimal arithmetic agrees bit-for-bit."""
    return (F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)")
               - F.col("l_discount").cast("decimal(18,2)")))


@query("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) sum_qty,
       ROUND(SUM(l_extendedprice), 2) sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) sum_charge,
       ROUND(AVG(l_quantity), 6) avg_qty,
       ROUND(AVG(l_extendedprice), 6) avg_price,
       ROUND(AVG(l_discount), 6) avg_disc,
       CAST(COUNT(*) AS BIGINT) count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")
def q_q1(spark, sf):
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
             F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
             F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
             F.round(F.avg("l_discount"), 6).alias("avg_disc"),
             F.count(F.lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("q3_shipping_priority", oracle="""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""")
def q_q3(spark, sf):
    cust = load_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
    return (
        F.broadcast(cust)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query("q5_region_revenue", oracle="""
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name""")
def q_q5(spark, sf):
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (supp.s_nationkey == cust.c_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@query("q4_order_priority", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority""")
def q_q4_order_priority(spark, sf):
    """TPC-H Q4 shape (adapted: no commitdate in the synthetic schema —
    the EXISTS predicate is 'has a returned lineitem'): per-priority count
    of orders with >= 1 qualifying lineitem, via LEFT SEMI join — the
    semi-join never duplicates or widens order rows."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_returnflag") == "R").select("l_orderkey")
    return (orders.join(li, orders["o_orderkey"] == li["l_orderkey"],
                        "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@query("q6_forecast_revenue", oracle="""
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""")
def q_q6_forecast_revenue(spark, sf):
    """TPC-H Q6: pure scan-bound filter + aggregate — every predicate
    pushes to the parquet scan, no shuffle beyond the final one-row agg."""
    li = load_table(spark, sf, "lineitem")
    return (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                     2).alias("revenue")))


@query("q18_large_orders", oracle="""
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 6) total_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 6) > 250)
SELECT c_custkey, c_name, o_orderkey,
       ROUND(o_totalprice, 2) o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey""")
def q_q18_large_orders(spark, sf):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over a per-order aggregate), joined back to customer — the
    aggregate side shrinks to the qualifying orders before the join."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 6).alias("total_qty"))
           .where(F.col("total_qty") > 250))
    return (orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .select("c_custkey", "c_name", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    "total_qty"))


@query("q10_returned_items", oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue,
       CAST(COUNT(*) AS BIGINT) n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name""")
def q_q10_returned_items(spark, sf):
    """TPC-H Q10 shape: revenue lost to returns per customer over a year,
    with customer/nation context — a 4-table join where the selective
    lineitem filter drives join order and the dimensions broadcast."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "n_name")
            # decimal, not double: a revenue sum landing exactly on a .xx5
            # half-way point rounds differently per float summation order;
            # decimal arithmetic is exact so both engines agree bit-for-bit
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                               * (F.lit(1).cast("decimal(18,2)")
                                  - F.col("l_discount").cast("decimal(18,2)"))),
                         2).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


@query("q12_shipmode_priority", oracle="""
SELECT strftime(l_shipdate, '%Y') || '-0' ||
         CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY 1""")
def q_q12_shipmode_priority(spark, sf):
    """TPC-H Q12 shape (adapted: no shipmode column — bucketed by ship
    quarter instead): per-bucket counts of high- vs low-priority orders as
    conditional aggregates (sum of CASE), one shuffle."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .withColumn("ship_quarter", F.date_format("l_shipdate", "yyyy-QQ"))
            .where(F.col("l_shipdate") >= F.lit("1996-01-01"))
            .groupBy("ship_quarter")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


@query("q7_volume_shipping", oracle="""
SELECT n1.n_name supp_nation, n2.n_name cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3""")
def q_q7_volume_shipping(spark, sf):
    """TPC-H Q7 shape: shipping volume between two nations by year — a
    5-table join with a disjunctive nation-pair predicate and a derived
    year column. Both dimension chains (supplier->nation, customer->nation)
    broadcast; the fact tables join on their keys."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(n1), supp["s_nationkey"] == F.col("s_nk"))
            .join(F.broadcast(n2), cust["c_nationkey"] == F.col("c_nk"))
            .where(pair)
            .withColumn("l_year", F.year("l_shipdate"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue")))


@query("q8_market_share", oracle="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) o_year,
       CAST(ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           ELSE 0 END)
                  / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6)
            AS DOUBLE) mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1""")
def q_q8_market_share(spark, sf):
    """TPC-H Q8 shape: one nation's share of revenue within a region per
    year — a conditional-aggregate ratio (sum of CASE over sum), the
    canonical 'slice inside the aggregate, not with a filter' pattern."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nat_c = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    nat_s = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    vol = _rev_dec()
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nat_c), cust["c_nationkey"] == F.col("c_nk"))
            .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(nat_s), supp["s_nationkey"] == F.col("s_nk"))
            .withColumn("o_year", F.year("o_orderdate"))
            .groupBy("o_year")
            .agg(F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                      .otherwise(F.lit(0).cast("decimal(18,2)")))
                / F.sum(vol), 6).cast("double").alias("mkt_share")))


@query("q9_product_profit", oracle="""
SELECT n_name nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(0.1 AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))), 2)
            AS DOUBLE) sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2""")
def q_q9_product_profit(spark, sf):
    """TPC-H Q9 shape: profit by supplier nation and year over a part-name
    pattern. Adapted: this schema has no partsupp, so supply cost is
    modeled as 10% of p_retailprice per unit — the plan shape (LIKE filter
    -> 4-way join -> derived profit -> two-level group) is what matters."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    nation = load_table(spark, sf, "nation")
    profit = (_rev_dec()
              - (F.col("p_retailprice").cast("decimal(18,2)")
                 * F.lit(0.1).cast("decimal(18,2)")
                 * F.col("l_quantity").cast("decimal(18,2)")))
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(nation),
                  supp["s_nationkey"] == nation["n_nationkey"])
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"),
                    profit.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum("amount"), 2).cast("double")
                 .alias("sum_profit")))


@query("q13_customer_distribution", oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
GROUP BY c_count""")
def q_q13_customer_distribution(spark, sf):
    """TPC-H Q13 shape: distribution of order counts per customer — LEFT
    OUTER join (customers with zero orders must survive) followed by two
    stacked aggregations."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderpriority") != "5-LOW")
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


@query("q14_promo_revenue", oracle="""
SELECT CAST(ROUND(CAST(100 AS DECIMAL(18,2))
                  * SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE 0 END)
                  / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6)
            AS DOUBLE) promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'""")
def q_q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape: promo revenue share for one month — conditional
    aggregate ratio over a broadcast part join, single-row output."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    part = load_table(spark, sf, "part")
    vol = _rev_dec()
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .agg(F.round(
                F.lit(100).cast("decimal(18,2)")
                * F.sum(F.when(F.col("p_type") == "PROMO", vol)
                        .otherwise(F.lit(0).cast("decimal(18,2)")))
                / F.sum(vol), 6).cast("double").alias("promo_revenue")))


@query("q15_top_supplier", oracle="""
WITH rev AS (
  SELECT l_suppkey,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
           total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""")
def q_q15_top_supplier(spark, sf):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    an aggregated 'view' joined against its own scalar MAX. Revenue is
    rounded to exact cents before the max-equality so the tie comparison
    is engine-stable."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    supp = load_table(spark, sf, "supplier")
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(_rev_dec()), 2).alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.join(F.broadcast(top),
                     rev["total_revenue"] == top["max_revenue"])
            .join(supp, rev["l_suppkey"] == supp["s_suppkey"])
            .select("s_suppkey", "s_name",
                    F.col("total_revenue").cast("double")
                    .alias("total_revenue")))


@query("q17_small_quantity", oracle="""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7, 2)
            AS DOUBLE) avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < 0.2 * (
    SELECT AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)""")
def q_q17_small_quantity(spark, sf):
    """TPC-H Q17 shape: revenue impact of small-quantity orders for one
    brand — correlated per-part average (here a join against the per-part
    AVG, which Catalyst also produces when de-correlating the subquery).
    Quantities are integer-valued doubles, so the AVG is exact in any
    summation order and the 0.2*avg comparison is engine-stable.

    The correlated AVG is a window over the same brand-filtered join, not a
    grouped self-join: ONE lineitem scan and ONE l_partkey shuffle total,
    where the de-correlated join form scans the fact table twice (the two
    subtrees prune to different columns, so exchange reuse cannot merge
    them). At 100 TB the saved scan is the whole game."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#11")
    li_b = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("l_partkey")
    return (li_b.withColumn("avg_qty", F.avg("l_quantity").over(w))
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(18,2)")) / 7, 2)
                 .cast("double").alias("avg_yearly")))


@query("q19_disjunctive_revenue", oracle="""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)""")
def q_q19_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    predicate branches — the canonical disjunctive-pushdown test (the
    whole predicate must reach the join, not turn into a post-filter)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    b1 = ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
          & (F.col("l_quantity").between(1, 11)))
    b2 = ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
          & (F.col("l_quantity").between(10, 20)))
    b3 = ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
          & (F.col("l_quantity").between(20, 30)))
    return (j.where(b1 | b2 | b3)
            .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
                 .alias("revenue")))


@query("q21_waiting_supplier", oracle="""
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND s_nationkey IN (0, 1, 2, 3, 4)
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY 1, 2""")
def q_q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape: suppliers who were the sole 'R'-flagged supplier
    in multi-supplier orders — EXISTS (another supplier on the order) plus
    NOT EXISTS (another supplier also flagged), both as join-condition
    semi/anti joins on the same fact table. Adapted: returnflag stands in
    for the missing receipt/commit delay columns."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier").where(
        F.col("s_nationkey").isin(0, 1, 2, 3, 4))
    l1 = (li.where(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("o_k"),
                  F.col("l_suppkey").alias("s_k")))
    l2 = li.select(F.col("l_orderkey").alias("o_k2"),
                   F.col("l_suppkey").alias("s_k2"))
    l3 = (li.where(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("o_k3"),
                  F.col("l_suppkey").alias("s_k3")))
    waiting = (l1
               .join(l2, (F.col("o_k") == F.col("o_k2"))
                     & (F.col("s_k") != F.col("s_k2")), "left_semi")
               .join(l3, (F.col("o_k") == F.col("o_k3"))
                     & (F.col("s_k") != F.col("s_k3")), "left_anti"))
    return (waiting.join(supp, F.col("s_k") == supp["s_suppkey"])
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


@query("q22_idle_customers", oracle="""
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         totacctbal
FROM customer
WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
  AND c_acctbal > (
    SELECT ROUND(AVG(c_acctbal), 2) FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (0, 1, 2, 3, 4, 5, 6))
  AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_nationkey""")
def q_q22_idle_customers(spark, sf):
    """TPC-H Q22 shape: high-balance customers with no RECENT orders, per
    nation — scalar AVG subquery as the balance threshold (rounded to
    cents so the filter boundary is engine-exact) plus an anti-join on the
    filtered orders. (Adapted to 'lapsed since 2000-06-01': this synthetic
    data has no order-less customers at all.)"""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01"))
    in_scope = cust.where(F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6))
    thresh = (in_scope.where(F.col("c_acctbal") > 0.0)
              .agg(F.round(F.avg("c_acctbal"), 2).alias("avg_bal")))
    return (in_scope.crossJoin(F.broadcast(thresh))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .join(orders, in_scope["c_custkey"] == orders["o_custkey"],
                  "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
                 .cast("double").alias("totacctbal")))


@query("q2_min_cost_supplier", oracle="""
WITH assoc AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_size = 5)
SELECT l_partkey partkey, p_name, s_name, ROUND(s_acctbal, 2) s_acctbal
FROM assoc
JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE s_acctbal = (
  SELECT MIN(s2.s_acctbal)
  FROM assoc a2 JOIN supplier s2 ON a2.l_suppkey = s2.s_suppkey
  WHERE a2.l_partkey = assoc.l_partkey)""")
def q_q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: for each part of one size, the supplier(s) with the
    minimum account balance among suppliers who actually shipped it — a
    correlated MIN de-correlated into a per-part aggregate joined back on
    equality. Adapted: the supplier/part association comes from lineitem
    (no partsupp table), and s_acctbal stands in for ps_supplycost."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_size") == 5)
    supp = load_table(spark, sf, "supplier")
    assoc = (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
             .select("l_partkey", "l_suppkey").distinct()
             .join(supp, F.col("l_suppkey") == supp["s_suppkey"]))
    min_bal = (assoc.groupBy(F.col("l_partkey").alias("m_partkey"))
               .agg(F.min("s_acctbal").alias("min_bal")))
    return (assoc.join(min_bal,
                       (assoc["l_partkey"] == F.col("m_partkey"))
                       & (assoc["s_acctbal"] == F.col("min_bal")))
            .join(F.broadcast(part.select("p_partkey", "p_name")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select(F.col("l_partkey").alias("partkey"), "p_name", "s_name",
                    F.round("s_acctbal", 2).alias("s_acctbal")))


@query("q11_important_parts", oracle="""
WITH base AS (
  SELECT l_partkey,
         CAST(l_quantity AS DECIMAL(18,2))
           * CAST(p_retailprice AS DECIMAL(18,2)) val
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1)))
SELECT l_partkey partkey,
       CAST(ROUND(SUM(val), 2) AS DOUBLE) part_value
FROM base
GROUP BY l_partkey
HAVING SUM(val) > (
  SELECT SUM(val) * CAST(0.001 AS DECIMAL(18,6)) FROM base)""")
def q_q11_important_parts(spark, sf):
    """TPC-H Q11 shape: parts whose held value exceeds a fraction of the
    global total — GROUP BY + HAVING against a scalar subquery over the
    same aggregate. Adapted: value = sum(quantity * retailprice) over
    lineitems of suppliers in two nations (no partsupp availqty)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supp = load_table(spark, sf, "supplier").where(
        F.col("s_nationkey").isin(0, 1))
    val = (F.col("l_quantity").cast("decimal(18,2)")
           * F.col("p_retailprice").cast("decimal(18,2)"))
    base = (li.join(supp, li["l_suppkey"] == supp["s_suppkey"], "left_semi")
            .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .select("l_partkey", val.alias("val")))
    per_part = (base.groupBy("l_partkey")
                .agg(F.sum("val").alias("part_value")))
    total = base.agg((F.sum("val")
                      * F.lit(0.001).cast("decimal(18,6)")).alias("cutoff"))
    return (per_part.crossJoin(F.broadcast(total))
            .where(F.col("part_value") > F.col("cutoff"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.round("part_value", 2).cast("double")
                    .alias("part_value")))


@query("q20_excess_suppliers", oracle="""
WITH pq AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) sq
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
  GROUP BY 1, 2),
pt AS (SELECT l_partkey, SUM(sq) tq, COUNT(*) ns FROM pq GROUP BY 1)
SELECT pq.l_partkey partkey, s_suppkey, s_name,
       ROUND(sq, 2) supplier_qty, ROUND(tq, 2) part_total_qty
FROM pq
JOIN pt ON pq.l_partkey = pt.l_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE ns >= 3 AND sq > 2.0 * tq / ns""")
def q_q20_excess_suppliers(spark, sf):
    """TPC-H Q20 shape: suppliers holding an outsized share of a part's
    flow — nested correlated aggregates (per-(part,supplier) quantity vs
    the part's total), de-correlated into two stacked aggregations joined
    back. Adapted: shipped-quantity share replaces the missing partsupp
    availqty ('excess' = > 2x the part's fair per-supplier share).
    Quantity sums are integer-valued doubles, so the share boundary is
    exact in both engines."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf, "supplier")
    pq = (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum("l_quantity").alias("sq")))
    pt = (pq.groupBy(F.col("l_partkey").alias("t_partkey"))
          .agg(F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")))
    return (pq.join(pt, pq["l_partkey"] == F.col("t_partkey"))
            .where((F.col("ns") >= 3)
                   & (F.col("sq") > F.lit(2.0) * F.col("tq") / F.col("ns")))
            .join(supp, pq["l_suppkey"] == supp["s_suppkey"])
            .select(F.col("l_partkey").alias("partkey"), "s_suppkey",
                    "s_name", F.round("sq", 2).alias("supplier_qty"),
                    F.round("tq", 2).alias("part_total_qty")))


@query("q16_supplier_count", oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3""")
def q_q16_supplier_count(spark, sf):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding one brand and a supplier blacklist — COUNT(DISTINCT) after
    an anti-join (the NOT IN subquery de-correlated). Association via
    lineitem (no partsupp)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    bad_supp = load_table(spark, sf, "supplier").where(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (li.select("l_partkey", "l_suppkey").distinct()
            .join(bad_supp, li["l_suppkey"] == bad_supp["s_suppkey"],
                  "left_anti")
            .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@query("window_top_orders", oracle="""
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) total_price,
       CAST(rn AS INT) rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) rn
  FROM orders)
WHERE rn <= 3""")
def q_window_top_orders(spark, sf):
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"), "rn"))


@query("window_first_last", oracle="""
SELECT o_custkey,
       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
       nth_value(o_orderpriority, 2) OVER w AS second_priority,
       ROUND(last_value(o_totalprice) OVER w, 2) AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) = 1""")
def q_window_first_last(spark, sf):
    """first_value / nth_value / last_value over full-partition row
    frames (SURVEY §2.9 window breadth): per customer, the first order
    date, the SECOND order's priority (NULL for single-order customers —
    the nth_value semantics), and the newest order's price, all from ONE
    window pass ordered by (o_orderdate, o_orderkey) — a total order, so
    both engines agree exactly. One row per customer via row_number=1."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (orders
            .withColumn("rn", F.row_number().over(w))
            .withColumn("first_date",
                        F.date_format(F.first("o_orderdate").over(wfull),
                                      "yyyy-MM-dd"))
            .withColumn("second_priority",
                        F.nth_value("o_orderpriority", 2).over(wfull))
            .withColumn("last_price",
                        F.round(F.last("o_totalprice").over(wfull), 2))
            .where(F.col("rn") == 1)
            .select("o_custkey", "first_date", "second_priority",
                    "last_price"))


@query("customers_no_orders", oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1995-07-01')""")
def q_customers_no_orders(spark, sf):
    """Left-anti join: customers with no order in 1995-H1."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp")))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


@query("orders_quartiles", oracle="""
WITH q AS (SELECT NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey)
             quartile, o_totalprice
           FROM orders)
SELECT CAST(quartile AS INT) quartile, CAST(COUNT(*) AS BIGINT) n,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) total,
  ROUND(MIN(o_totalprice), 2) lo, ROUND(MAX(o_totalprice), 2) hi
FROM q GROUP BY 1""")
def q_orders_quartiles(spark, sf):
    """NTILE window: per-quartile totalprice stats over orders (quartile
    assignment needs a total order — the global sort is the point of the
    query; the rollup after it is cheap)."""
    o = load_table(spark, sf, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return (o.select(F.ntile(4).over(w).alias("quartile"), "o_totalprice")
            .groupBy("quartile")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 # exact decimal sum, then an explicit double on the wire:
                 # Spark SUM(decimal(18,2)) widens to decimal(28,2), DuckDB
                 # to decimal(38,2) — emitting the decimal leaks engine
                 # precision metadata into the output schema (r4 driver
                 # hash-fail); both engines cast the identical decimal to
                 # the identical IEEE double.
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                         2).cast("double").alias("total"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


@query("cdc_snapshot", oracle="""
WITH c AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) rn
  FROM orders)
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) latest_price
FROM c WHERE rn = 1 AND o_orderstatus <> 'F'""")
def q_cdc_snapshot(spark, sf):
    """CDC compaction (operators.cdc): orders replayed as a changelog
    per customer — version (o_orderdate, o_orderkey), delete when the
    latest change is a fully-shipped 'F' order. One struct-argmax key
    aggregation (no window sort), newest-wins, deletes filtered."""
    from casf_spark.operators.cdc import cdc_snapshot
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", F.lit("d"))
        .otherwise(F.lit("u")).alias("op"))
    snap = cdc_snapshot(o, ["o_custkey"], ["o_orderdate", "o_orderkey"],
                        "op")
    return snap.select("o_custkey", "o_orderkey",
                       F.round("o_totalprice", 2).alias("latest_price"))


@query("customer_rfm", oracle="""
WITH per AS (
  SELECT o_custkey, MAX(o_orderdate) last_dt,
         CAST(COUNT(*) AS BIGINT) f,
         ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) m
  FROM orders GROUP BY 1),
ref AS (SELECT MAX(o_orderdate) ref_dt FROM orders),
pr AS (SELECT o_custkey,
              CAST(date_diff('day', last_dt, ref_dt) AS BIGINT) r, f, m
       FROM per, ref),
b AS (SELECT quantile_cont(r, [0.25, 0.5, 0.75]) br,
             quantile_cont(f, [0.25, 0.5, 0.75]) bf,
             quantile_cont(m, [0.25, 0.5, 0.75]) bm
      FROM pr),
q AS (SELECT o_custkey, r, f, m,
  CAST(5 - (CASE WHEN r <= br[1] THEN 1 WHEN r <= br[2] THEN 2
                 WHEN r <= br[3] THEN 3 ELSE 4 END) AS INT) r_q,
  CAST(CASE WHEN f <= bf[1] THEN 1 WHEN f <= bf[2] THEN 2
            WHEN f <= bf[3] THEN 3 ELSE 4 END AS INT) f_q,
  CAST(CASE WHEN m <= bm[1] THEN 1 WHEN m <= bm[2] THEN 2
            WHEN m <= bm[3] THEN 3 ELSE 4 END AS INT) m_q
  FROM pr, b)
SELECT o_custkey, r, f, CAST(m AS DOUBLE) m, r_q, f_q, m_q,
       concat_ws('-', r_q, f_q, m_q) AS segment
FROM q""")
def q_customer_rfm(spark, sf):
    """RFM segmentation (recency / frequency / monetary) with VALUE-based
    quartile boundaries: one per-customer aggregate, one 1-row exact
    -percentile aggregate broadcast back, CASE bucketing — no global
    NTILE sort over the customer table (boundaries-by-percentile is the
    shape that survives a billion customers; orders_quartiles keeps the
    global-sort variant)."""
    o = load_table(spark, sf, "orders")
    per = (o.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_dt"),
                F.count(F.lit(1)).cast("long").alias("f"),
                F.round(F.sum(F.col("o_totalprice")
                              .cast("decimal(18,2)")), 2).alias("m")))
    ref = o.agg(F.max("o_orderdate").alias("ref_dt"))
    per = (per.crossJoin(F.broadcast(ref))
           .withColumn("r", F.datediff("ref_dt", "last_dt").cast("long"))
           .drop("ref_dt", "last_dt"))
    bounds = per.agg(
        *[F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"b_{c}")
          for c in ("r", "f", "m")])

    def bucket(c, rev=False):
        b = F.col(f"b_{c}")
        q = (F.when(F.col(c) <= b[0], 1)
             .when(F.col(c) <= b[1], 2)
             .when(F.col(c) <= b[2], 3).otherwise(4))
        return (5 - q if rev else q).alias(f"{c}_q")

    out = (per.crossJoin(F.broadcast(bounds))
           .select("o_custkey", "r", "f", "m",
                   # low recency-days = BEST -> invert to 4
                   bucket("r", rev=True), bucket("f"), bucket("m")))
    return out.select(
        "o_custkey", "r", "f",
        # bucketing above runs on the exact decimal; the wire column is an
        # explicit double so Spark's decimal(29,2) vs DuckDB's
        # decimal(38,2) SUM-widening metadata never reaches the output
        F.col("m").cast("double").alias("m"),
        "r_q", "f_q", "m_q",
        F.concat_ws("-", "r_q", "f_q", "m_q").alias("segment"))


@query("orders_merge_upsert", oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) price FROM orders),
off AS (
  SELECT CAST((FLOOR(MAX(o_orderkey) / 10000000) + 1) * 10000000 AS BIGINT)
    ins_off FROM base),
src AS (
  SELECT o_orderkey, o_custkey, ROUND(price + 1.0, 2) price
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT b.o_orderkey + o.ins_off, b.o_custkey, b.price
  FROM base b, off o WHERE b.o_orderkey % 100 = 0),
tagged AS (
  SELECT *, 0 AS prio FROM base
  UNION ALL SELECT *, 1 AS prio FROM src),
merged AS (
  SELECT o_orderkey, o_custkey, price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY prio DESC) rn
    FROM tagged) WHERE rn = 1)
SELECT m.* FROM merged m, off o
WHERE m.o_orderkey % 10 = 0 OR m.o_orderkey >= o.ins_off""")
def q_orders_merge_upsert(spark, sf):
    """Warehouse MERGE (operators.cdc.merge_upsert): a derived changeset
    — price bump for every 10th order (updates) and re-keyed copies of
    every 100th (inserts) — merged into orders with whole-row-replace
    semantics via the one-shuffle union + struct-argmax plan (no
    full-outer join). Output: the affected slice of the merged table,
    so both update-wins and insert-appears are hash-checked.

    The insert offset is DERIVED from the data (next 10M multiple past
    max(o_orderkey), one broadcast scalar) rather than a fixed +10M: the
    synthetic sf1/sf3 generators shift real keys by k*10M per copy, so a
    fixed offset would collide inserts with copy k+1's real keys and
    silently overwrite unrelated rows."""
    from casf_spark.operators.cdc import merge_upsert
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("price"))
    off = o.agg(((F.floor(F.max("o_orderkey") / F.lit(10_000_000)) + 1)
                 * F.lit(10_000_000)).cast("long").alias("ins_off"))
    updates = (o.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("price", F.round(F.col("price") + 1.0, 2)))
    inserts = (o.where(F.col("o_orderkey") % 100 == 0)
               .crossJoin(F.broadcast(off))
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + F.col("ins_off"))
               .drop("ins_off"))
    merged = merge_upsert(o, updates.unionByName(inserts), ["o_orderkey"])
    return (merged.crossJoin(F.broadcast(off))
            .where((F.col("o_orderkey") % 10 == 0)
                   | (F.col("o_orderkey") >= F.col("ins_off")))
            .drop("ins_off"))


@query("scd2_orders", oracle="""
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) price,
       strftime(o_orderdate, '%Y-%m-%d') valid_from,
       strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') valid_to,
       CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
            THEN 1 ELSE 0 END AS INT) is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")
def q_scd2_orders(spark, sf):
    """SCD Type-2 validity intervals (operators.cdc.scd2_history): each
    customer's order stream becomes [valid_from, valid_to) effective
    ranges with an is_current flag — one per-key lead window."""
    from casf_spark.operators.cdc import scd2_history
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("price"))
    h = scd2_history(o, ["o_custkey"], "o_orderdate",
                     tiebreak_cols=["o_orderkey"])
    return h.select(
        "o_custkey", "o_orderkey", "price",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"))


@query("data_quality_checks", oracle="""
SELECT 'not_null(event_id)' check_name,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         n_violations FROM events
UNION ALL
SELECT 'not_null(user_id)',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'in_set(event_type)',
       CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
            ('click','error','purchase','signup','view')
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'in_range(value)',
       CAST(SUM(CASE WHEN value IS NULL OR value < 0.0 OR value > 1000.0
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'props_has_k',
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'unique(event_id)',
       CAST(COALESCE(SUM(n), 0) AS BIGINT)
FROM (SELECT COUNT(*) n FROM events GROUP BY event_id HAVING COUNT(*) > 1)
UNION ALL
SELECT 'foreign_key(o_custkey)',
       CAST(COUNT(*) AS BIGINT)
FROM orders o WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)""")
def q_data_quality_checks(spark, sf):
    """Declarative expectations gate (operators.checks): row-level checks
    fuse into ONE aggregation pass; uniqueness adds one keyed groupBy;
    referential integrity one anti-join vs the dimension's keys. Run over
    events + the orders->customer FK."""
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    from casf_spark.operators import checks as CK
    ev_checks = CK.run_checks(ev, [
        CK.not_null("event_id"),
        CK.not_null("user_id"),
        CK.in_set("event_type", _EVENT_TYPES),
        CK.in_range("value", 0.0, 1000.0),
        CK.expression("props_has_k",
                      F.get_json_object("props", "$.k").isNull()),
        CK.unique("event_id"),
    ])
    fk = CK.run_checks(orders,
                       [CK.foreign_key("o_custkey", cust, "c_custkey")])
    return ev_checks.unionByName(fk)


@query("customer_order_counts_right", oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) n_orders
FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2""")
def q_customer_order_counts_right(spark, sf):
    """RIGHT OUTER join coverage: orders RIGHT JOIN customer — customers
    with no orders survive with a zero count (the dimension side is
    preserved; count(o_orderkey) skips the null-extended rows)."""
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (o.join(c, o.o_custkey == c.c_custkey, "right_outer")
            .groupBy("c_custkey", "c_mktsegment")
            .agg(F.count("o_orderkey").cast("long").alias("n_orders")))


@query("orders_yoy_growth", oracle="""
WITH yearly AS (
  SELECT EXTRACT(year FROM o_orderdate) yr, o_orderpriority,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           revenue
  FROM orders GROUP BY 1, 2)
SELECT CAST(yr AS INT) yr, o_orderpriority, revenue,
       ROUND((revenue - LAG(revenue) OVER w)
             / LAG(revenue) OVER w * 100, 6) yoy_pct
FROM yearly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY yr)""")
def q_orders_yoy_growth(spark, sf):
    """Year-over-year growth: yearly revenue per order priority, then a
    lag window over the tiny aggregated series (year x priority rows) —
    the aggregate-then-window time-series shape."""
    o = load_table(spark, sf, "orders")
    yearly = (o.groupBy(F.year("o_orderdate").alias("yr"), "o_orderpriority")
              # exact decimal sum, double on the wire: a decimal revenue
              # makes the lag-ratio chain decimal(38,6) in Spark but DOUBLE
              # in DuckDB (r4 driver hash-fail) — run the window math in
              # IEEE double on both engines instead.
              .agg(F.round(F.sum(F.col("o_totalprice")
                                 .cast("decimal(18,2)")), 2)
                   .cast("double").alias("revenue")))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr", "o_orderpriority", "revenue",
        F.round((F.col("revenue") - prev) / prev * 100, 6)
        .alias("yoy_pct"))


@query("orders_price_position", oracle="""
SELECT o_orderkey, o_orderpriority,
       ROUND(PERCENT_RANK() OVER w, 6) pct_rank,
       ROUND(CUME_DIST() OVER w, 6) cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)""")
def q_orders_price_position(spark, sf):
    """percent_rank + cume_dist window coverage: each order's relative
    price position within its priority class (per-group total order —
    partitions bound the sort width)."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


@query("orders_snapshot_diff", oracle="""
WITH o AS (SELECT CAST(o_orderkey AS BIGINT) o_orderkey,
                  ROUND(o_totalprice, 2) price, o_orderstatus ostatus
           FROM orders),
off AS (SELECT CAST((FLOOR(MAX(o_orderkey) / 10000000) + 1) * 10000000
               AS BIGINT) ins_off FROM o),
n AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN ROUND(price + 1.0, 2)
              ELSE price END price,
         ostatus
  FROM o WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + ins_off, price, ostatus
  FROM o CROSS JOIN off WHERE o_orderkey % 100 = 0),
j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) o_orderkey,
             o.o_orderkey IS NOT NULL in_o, n.o_orderkey IS NOT NULL in_n,
             o.price op, n.price np, o.ostatus os, n.ostatus ns
      FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_o THEN 'added'
            WHEN NOT in_n THEN 'removed'
            WHEN (op IS DISTINCT FROM np) OR (os IS DISTINCT FROM ns)
              THEN 'changed'
            ELSE 'unchanged' END status,
       CASE WHEN in_o AND in_n THEN
         COALESCE(array_to_string(list_filter(
           [CASE WHEN os IS DISTINCT FROM ns THEN 'ostatus' END,
            CASE WHEN op IS DISTINCT FROM np THEN 'price' END],
           x -> x IS NOT NULL), ','), '')
       ELSE '' END changed_cols
FROM j""")
def q_orders_snapshot_diff(spark, sf):
    """Keyed snapshot diff (operators.cdc.snapshot_diff): today's orders
    vs a derived next-day snapshot (every 97th key removed, every 10th
    price-bumped, every 100th re-added at a data-derived key offset —
    the merge_upsert idiom, no fixed constants) labeled added / removed /
    changed / unchanged with changed column names. One full-outer
    key-join, then a map-only comparison projection."""
    from casf_spark.operators.cdc import snapshot_diff
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("ostatus"))
    off = o.agg(((F.floor(F.max("o_orderkey") / F.lit(10_000_000)) + 1)
                 * F.lit(10_000_000)).cast("long").alias("ins_off"))
    survived = (o.where(F.col("o_orderkey") % 97 != 0)
                .withColumn("price",
                            F.when(F.col("o_orderkey") % 10 == 0,
                                   F.round(F.col("price") + 1.0, 2))
                            .otherwise(F.col("price"))))
    added = (o.where(F.col("o_orderkey") % 100 == 0)
             .crossJoin(F.broadcast(off))
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + F.col("ins_off"))
             .drop("ins_off"))
    new = survived.unionByName(added)
    return snapshot_diff(o, new, ["o_orderkey"], ["price", "ostatus"])


@query("customer_running_spend", oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_spend
FROM orders""")
def q_customer_running_spend(spark, sf):
    """Cumulative window frame: per-customer running order spend in order
    -date order (ROWS UNBOUNDED PRECEDING) — the running-total window
    shape, partitioned by the natural high-cardinality entity key."""
    o = load_table(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"))
