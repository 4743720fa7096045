"""Declared relational queries over the driver star schema (SURVEY.md §2.3–2.8,
Milestone 3): filters, broadcast/sort-merge joins, semi/anti joins, hash
aggregation, rollup, window functions, sorts/top-k, set ops, scalar
subqueries — each with a DuckDB oracle twin.

Determinism: every money aggregate is summed as DECIMAL (exact integer
arithmetic under the hood — immune to float addition order, which differs
between Spark's partial aggregation and DuckDB) and cast to double only at
the end. Ties in every top-k are broken by a unique key.

The reference has no joins/group-bys of its own (SURVEY.md §2.3: its only
aggregate construct is 9 scalar MAX subqueries, spark/jobs/
pr-wallet-data-tf.py:79-118) — this module is the table-stakes relational
surface its Spark dependency implies.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table

# Exact money arithmetic: 2-decimal doubles → DECIMAL(12,2) (values < 1e6)
# so products stay ≤ DECIMAL(38,6) with no scale truncation in either engine.
DEC = "decimal(12,2)"
SQL_DEC = "DECIMAL(12,2)"


def _dec(c: str) -> F.Column:
    return F.col(c).cast(DEC)


# --------------------------------------------------------------------------
# q01: TPC-H Q1-flavored pricing summary — hash agg w/ map-side partials.
# --------------------------------------------------------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
    )


ORACLE_Q01 = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC})) * (CAST(1 AS {SQL_DEC}) + CAST(l_tax AS {SQL_DEC}))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) / count(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
register("q01_pricing_summary", q01_pricing_summary, ORACLE_Q01)


# --------------------------------------------------------------------------
# q03: shipping-priority top-k — 3-way join (broadcast dim + SMJ fact),
# agg, orderBy+limit with unique tie-break.
# --------------------------------------------------------------------------
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_Q03 = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""
register("q03_top_orders", q03_top_orders, ORACLE_Q03)


# --------------------------------------------------------------------------
# q05: multiway star join (region→nation→customer→orders→lineitem→supplier)
# with the TPC-H local-supplier condition; dims broadcast.
# --------------------------------------------------------------------------
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, (F.col("o_custkey") == F.col("c_custkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_Q05 = f"""
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
"""
register("q05_region_revenue", q05_region_revenue, ORACLE_Q05)


# --------------------------------------------------------------------------
# join_semi / join_anti — left-semi and left-anti joins.
# --------------------------------------------------------------------------
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


register(
    "join_semi",
    join_semi,
    """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


register(
    "join_anti",
    join_anti,
    """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)


# --------------------------------------------------------------------------
# join_outer — left outer join with count of matches (nulls → 0 groups kept).
# --------------------------------------------------------------------------
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        nation.join(cust, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.col("c_custkey")).alias("n_rich_customers"))
    )


register(
    "join_outer",
    join_outer,
    """
SELECT n_nationkey, n_name, count(c_custkey) AS n_rich_customers
FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c ON c_nationkey = n_nationkey
GROUP BY n_nationkey, n_name
""",
)


# --------------------------------------------------------------------------
# join_broadcast_dim — explicit broadcast-hash join of a small dim into the
# fact table, aggregated by dim attribute.
# --------------------------------------------------------------------------
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


register(
    "join_broadcast_dim",
    join_broadcast_dim,
    """
SELECT p_brand,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)


# --------------------------------------------------------------------------
# window_rank — top-3 orders per customer (rank window, unique tie-break).
# --------------------------------------------------------------------------
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
    )


register(
    "window_rank",
    window_rank,
    """
SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) t
WHERE rnk <= 3
""",
)


# --------------------------------------------------------------------------
# window_lag_running — lag + running decimal sum per customer order history.
# --------------------------------------------------------------------------
def window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    running = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.sum(_dec("o_totalprice")).over(running).cast("double").alias("running_spend"),
    )


register(
    "window_lag_running",
    window_lag_running,
    """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)


# --------------------------------------------------------------------------
# set_ops — UNION DISTINCT then EXCEPT DISTINCT of customer-key sets.
# --------------------------------------------------------------------------
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return building.union(urgent).distinct().subtract(finished)


register(
    "set_ops",
    set_ops,
    """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(F.col("c_custkey").alias("custkey"))
    open_ = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return machinery.intersect(open_)


register(
    "set_intersect",
    set_intersect,
    """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)


# --------------------------------------------------------------------------
# group_rollup — ROLLUP grouping sets with decimal-exact money sum.
# --------------------------------------------------------------------------
def group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
        )
    )


register(
    "group_rollup",
    group_rollup,
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)


# --------------------------------------------------------------------------
# filter_project — row-level filter + computed projection (pushdown surface).
# --------------------------------------------------------------------------
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast("double")
    return (
        li.filter((F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 10))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", disc_price.alias("disc_price"))
    )


register(
    "filter_project",
    filter_project,
    f"""
SELECT l_orderkey, l_linenumber, l_extendedprice,
       CAST(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC})) AS DOUBLE) AS disc_price
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 10
""",
)


# --------------------------------------------------------------------------
# topk_global — global orderBy + limit (TakeOrderedAndProject).
# --------------------------------------------------------------------------
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(15)
    )


register(
    "topk_global",
    topk_global,
    """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
""",
)


# --------------------------------------------------------------------------
# distinct_agg — COUNT(DISTINCT) (expand + two-phase agg in Spark).
# --------------------------------------------------------------------------
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus", "o_orderpriority").alias("n_status_prio"),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    "distinct_agg",
    distinct_agg,
    """
SELECT count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT (o_orderstatus, o_orderpriority)) AS n_status_prio,
       count(*) AS n_orders
FROM orders
""",
)


# --------------------------------------------------------------------------
# sql_q6 — the spark.sql() surface: scalar filter-aggregate (TPC-H Q6 shape).
# --------------------------------------------------------------------------
def sql_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        f"""
        SELECT CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * CAST(l_discount AS {SQL_DEC})) AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM v_lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        """
    )


register(
    "sql_q6",
    sql_q6,
    f"""
SELECT CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * CAST(l_discount AS {SQL_DEC})) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
""",
)


# --------------------------------------------------------------------------
# sql_scalar_subquery — uncorrelated scalar subquery (the reference's A1–A9
# pattern, spark/jobs/pr-wallet-data-tf.py:79-118) over the star schema.
# --------------------------------------------------------------------------
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               o_totalprice / (SELECT max(o_totalprice) FROM v_orders) AS p_totalprice
        FROM v_orders
        WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM v_orders)
        """
    )


register(
    "sql_scalar_subquery",
    sql_scalar_subquery,
    """
SELECT o_orderkey, o_custkey, o_totalprice,
       o_totalprice / (SELECT max(o_totalprice) FROM orders) AS p_totalprice
FROM orders
WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
""",
)


# --------------------------------------------------------------------------
# sql_correlated_subquery — correlated scalar COUNT per outer row (planned
# by Catalyst as a rewritten aggregate+join; integer-exact, no float risk).
# --------------------------------------------------------------------------
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority
        FROM v_orders o
        WHERE (SELECT count(*) FROM v_lineitem l WHERE l.l_orderkey = o.o_orderkey) >= 6
        """
    )


register(
    "sql_correlated_subquery",
    sql_correlated_subquery,
    """
SELECT o_orderkey, o_orderpriority
FROM orders o
WHERE (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) >= 6
""",
)


# --------------------------------------------------------------------------
# q13_order_distribution — customer order-count histogram (left join that
# must keep 0-order customers + two-level aggregation, TPC-H Q13 shape).
# --------------------------------------------------------------------------
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


register(
    "q13_order_distribution",
    q13_order_distribution,
    """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY n_orders
""",
)


# --------------------------------------------------------------------------
# q07_volume_shipping — TPC-H Q7 shape: two nation roles over one dim
# (supplier nation × customer nation), date-range filter, year rollup.
# --------------------------------------------------------------------------
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    volume = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount")))
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(volume.cast("double").alias("revenue"))
    )


register(
    "q07_volume_shipping",
    q07_volume_shipping,
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""",
)


# --------------------------------------------------------------------------
# q10_returned_revenue — TPC-H Q10 shape: returned-items revenue per
# customer, top-20 with unique tie-break.
# --------------------------------------------------------------------------
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


register(
    "q10_returned_revenue",
    q10_returned_revenue,
    f"""
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)


# --------------------------------------------------------------------------
# join_salted — explicit salt-spread equi-join for hot keys; result must be
# EXACTLY the plain join (the oracle is the unsalted SQL).
# --------------------------------------------------------------------------
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    out = salted_join(li, orders, on=["l_orderkey"], salts=8, salt_on="l_linenumber")
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


register(
    "join_salted",
    join_salted,
    """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)


# --------------------------------------------------------------------------
# join_bucketed — co-located fact-fact join through bucketed storage; the
# join itself runs with zero exchanges (asserted in tests), results equal
# the plain join.
# --------------------------------------------------------------------------
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cyrela_etl_spark.sources.bucketed import write_bucketed

    base = tempfile.mkdtemp(prefix="bucketed_")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    bli = write_bucketed(li, "b_lineitem", "l_orderkey", buckets=8, path=f"{base}/lineitem")
    bo = write_bucketed(orders, "b_orders", "o_orderkey", buckets=8, path=f"{base}/orders")
    return (
        bli.join(bo, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


register(
    "join_bucketed",
    join_bucketed,
    f"""
SELECT o_orderstatus, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)


# --------------------------------------------------------------------------
# window_frames — the frame/distribution window battery: ntile,
# percent_rank, cume_dist (all exact integer ratios — bit-stable) and
# first/last_value over explicit ROWS frames. One shuffle on the partition
# key; ordering is total (date + unique key) so every function is
# deterministic.
# --------------------------------------------------------------------------
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(F.col("o_orderkey")).over(full).alias("first_key"),
        F.last_value(F.col("o_orderkey")).over(full).alias("last_key"),
    )


register(
    "window_frames",
    window_frames,
    """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(o_orderkey) OVER wf AS first_key,
       last_value(o_orderkey) OVER wf AS last_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)


# --------------------------------------------------------------------------
# agg_pivot — pivot rows to columns (priority histogram per status) with an
# EXPLICIT value list: at scale an implicit pivot first runs a distinct over
# the pivot column (extra job + unbounded width); the explicit list keeps
# the plan a single hash aggregation with conditional counts.
# --------------------------------------------------------------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderstatus", *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(p) for p in _PRIORITIES]
    )


register(
    "agg_pivot",
    agg_pivot,
    """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
       count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
FROM orders
GROUP BY o_orderstatus
""",
)


# --------------------------------------------------------------------------
# agg_unpivot — wide→long melt (the inverse of agg_pivot): each order row
# becomes one row per measure. Pure generator projection (no shuffle);
# the oracle spells it as the equivalent UNION ALL.
# --------------------------------------------------------------------------
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        (F.col("o_custkey") % 100).cast("double").alias("cust_bucket"),
    )
    return wide.unpivot("o_orderkey", ["total_price", "cust_bucket"], "metric", "value")


register(
    "agg_unpivot",
    agg_unpivot,
    """
SELECT o_orderkey, 'total_price' AS metric, CAST(o_totalprice AS DOUBLE) AS value
FROM orders
UNION ALL
SELECT o_orderkey, 'cust_bucket', CAST(o_custkey % 100 AS DOUBLE) FROM orders
""",
)


# --------------------------------------------------------------------------
# sql_q04_exists — TPC-H Q4 adapted to this schema (no commitdate column):
# priority histogram of orders with at least one lineitem shipped after the
# order date, over one quarter. Exercises correlated EXISTS — Catalyst
# rewrites it to a left-semi hash join, never a per-row subquery.
# --------------------------------------------------------------------------
def sql_q04_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


register(
    "sql_q04_exists",
    sql_q04_exists,
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)


# --------------------------------------------------------------------------
# q12_priority_shipping — TPC-H Q12 shape (shipmode → returnflag on this
# schema): per flag, CASE-conditional counts of urgent vs other orders.
# One fact-dim-free join + hash agg with map-side partials.
# --------------------------------------------------------------------------
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
    )


register(
    "q12_priority_shipping",
    q12_priority_shipping,
    """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""",
)


# --------------------------------------------------------------------------
# q14_promo_revenue — TPC-H Q14: promo-type revenue share over one month.
# Both sums fold as DECIMAL (exact); the percentage is ONE double division
# of two exactly-representable values — bit-stable cross-engine.
# --------------------------------------------------------------------------
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
    out = joined.agg(
        F.sum(promo).alias("promo_dec"),
        F.sum(rev).alias("total_dec"),
    )
    return out.select(
        (F.lit(100.0) * F.col("promo_dec").cast("double") / F.col("total_dec").cast("double")).alias("promo_revenue_pct"),
        F.col("total_dec").cast("double").alias("total_revenue"),
    )


register(
    "q14_promo_revenue",
    q14_promo_revenue,
    f"""
WITH j AS (
  SELECT CAST(l_extendedprice AS {SQL_DEC}) * (1 - CAST(l_discount AS {SQL_DEC})) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
)
SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(sum(rev) AS DOUBLE) AS promo_revenue_pct,
       CAST(sum(rev) AS DOUBLE) AS total_revenue
FROM j
""",
)


# --------------------------------------------------------------------------
# fuzzy_match_names — edit-distance-1 record matching via SUBSTITUTION-
# NEIGHBORHOOD blocking: each name emits L variants with one position
# masked; names agreeing on any masked variant are candidates (equi-join on
# the variant key — the scalable formulation; a direct levenshtein self-
# join is n² and an attribute block degenerates the same way). Candidates
# are verified with exact levenshtein. Both sides compute identical
# variants, so the oracle is the same construction in SQL.
#
# Hot-group guard: the variant join runs on DISTINCT names only. With n
# records sharing one name, joining record-level variants would emit
# ~L·n²/2 candidate rows before distinct (the hot-bucket blowup on
# mass-duplicated names); on distinct names the join is near-linear, and
# the quadratic part that remains — expanding a matched name pair (or an
# identical-name group) back to record pairs — is exactly the output
# relation itself, never an inflated intermediate. Two distinct names
# differing at exactly one position agree on exactly one masked variant,
# so the name-pair join needs no distinct either.
#
# Degenerate rows: zero-length names are filtered before the explode —
# Spark's sequence(1, 0) yields a DESCENDING [1, 0] (auto step -1) and
# would emit phantom variants where DuckDB's generate_series(1, 0) is
# empty (engine divergence).
# --------------------------------------------------------------------------
def fuzzy_substitution_variants(names: DataFrame) -> DataFrame:
    """(c_name, pos, masked): every non-empty ``c_name`` once per position,
    with that position masked — the substitution blocking key is
    (pos, masked)."""
    return names.filter(F.length("c_name") >= 1).select(
        "c_name",
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("pos"),
    ).select(
        "c_name",
        "pos",
        F.concat(
            F.expr("substring(c_name, 1, pos - 1)"),
            F.lit("*"),
            F.expr("substring(c_name, pos + 1, length(c_name))"),
        ).alias("masked"),
    )


def fuzzy_name_pair_candidates(names: DataFrame) -> DataFrame:
    """Distinct-name pairs within substitution distance 1, via the masked-
    variant equi-join. Input must be a DISTINCT-name relation — candidate
    volume then scales with distinct names (each pair agrees on exactly
    one masked variant, so no dedup pass is needed), never with record
    multiplicity. Output: (name_a, name_b, edit_distance) with
    name_a < name_b."""
    variants = fuzzy_substitution_variants(names)
    a, b = variants.alias("a"), variants.alias("b")
    name_pairs = a.join(
        b,
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.masked") == F.col("b.masked"))
        & (F.col("a.c_name") < F.col("b.c_name")),
    ).select(F.col("a.c_name").alias("name_a"), F.col("b.c_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b").cast("long")
    return name_pairs.select("name_a", "name_b", dist.alias("edit_distance")).filter(
        F.col("edit_distance") <= 1
    )


def _fuzzy_record_pairs(
    spark: SparkSession, sf_dir: str, candidates: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Customer record pairs (id_a < id_b, edit_distance) from a distinct-
    name candidate function: the variant join runs on distinct names, then
    matched name pairs and identical-name groups expand to records."""
    cust = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .filter(F.length("c_name") >= 1)
    )
    verified = candidates(cust.select("c_name").distinct())
    # Re-expand matched name pairs to record pairs (equi-joins on name).
    ia = cust.select(F.col("c_name").alias("name_a"), F.col("c_custkey").alias("ka"))
    ib = cust.select(F.col("c_name").alias("name_b"), F.col("c_custkey").alias("kb"))
    cross_pairs = (
        verified.join(ia, "name_a")
        .join(ib, "name_b")
        .select(
            F.least("ka", "kb").alias("id_a"),
            F.greatest("ka", "kb").alias("id_b"),
            "edit_distance",
        )
    )
    # Identical-name record pairs (edit distance 0) — the within-group leg.
    x = cust.select(F.col("c_name"), F.col("c_custkey").alias("ka"))
    y = cust.select(F.col("c_name"), F.col("c_custkey").alias("kb"))
    same_pairs = (
        x.join(y, "c_name")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            F.col("ka").alias("id_a"),
            F.col("kb").alias("id_b"),
            F.lit(0).cast("long").alias("edit_distance"),
        )
    )
    return cross_pairs.unionByName(same_pairs)


def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_record_pairs(spark, sf_dir, fuzzy_name_pair_candidates)


register(
    "fuzzy_match_names",
    fuzzy_match_names,
    """
WITH cust AS (
  SELECT c_custkey, c_name FROM customer WHERE length(c_name) >= 1
),
names AS (SELECT DISTINCT c_name FROM cust),
v AS (
  SELECT c_name, pos,
         substr(c_name, 1, CAST(pos AS INT) - 1) || '*' ||
         substr(c_name, CAST(pos AS INT) + 1, length(c_name)) AS masked
  FROM names, UNNEST(generate_series(1, length(c_name))) AS t(pos)
),
np AS (
  SELECT a.c_name AS name_a, b.c_name AS name_b,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
  FROM v a JOIN v b ON a.pos = b.pos AND a.masked = b.masked AND a.c_name < b.c_name
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
cross_pairs AS (
  SELECT least(ia.c_custkey, ib.c_custkey) AS id_a,
         greatest(ia.c_custkey, ib.c_custkey) AS id_b,
         np.edit_distance
  FROM np
  JOIN cust ia ON ia.c_name = np.name_a
  JOIN cust ib ON ib.c_name = np.name_b
),
same_pairs AS (
  SELECT x.c_custkey AS id_a, y.c_custkey AS id_b, CAST(0 AS BIGINT) AS edit_distance
  FROM cust x JOIN cust y ON x.c_name = y.c_name AND x.c_custkey < y.c_custkey
)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs
""",
)


# --------------------------------------------------------------------------
# q08: TPC-H Q8-flavored national market share — the deep star join (8
# relations, two roles for nation) + conditional share aggregation. The
# supplier-nation share of ECONOMY-part revenue into ASIA customers, per
# order year. Dims broadcast; the fact chain shuffles once per join key.
# --------------------------------------------------------------------------
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    n_cust = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n_cust), cust["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region["r_regionkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n_supp), supp["s_nationkey"] == F.col("sn_key"))
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0).cast(DEC))
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(nation_vol).alias("nv"), F.sum(vol).alias("tv"))
        .select(
            "o_year",
            (F.col("nv").cast("double") / F.col("tv").cast("double")).alias("mkt_share"),
            F.col("tv").cast("double").alias("total_volume"),
        )
    )


register(
    "q08_market_share",
    q08_market_share,
    f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS {SQL_DEC}) * (1 - CAST(l_discount AS {SQL_DEC})) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS DOUBLE)
         / CAST(sum(vol) AS DOUBLE) AS mkt_share,
       CAST(sum(vol) AS DOUBLE) AS total_volume
FROM j
GROUP BY o_year
""",
)


# --------------------------------------------------------------------------
# q17: TPC-H Q17-flavored small-quantity revenue — the per-group scalar
# threshold pattern: lineitems below 20% of their part's average quantity.
# Expressed as one window aggregate over the part key (one shuffle) rather
# than Q17's correlated subquery — same relation, no rescan.
# --------------------------------------------------------------------------
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#7") & (F.col("p_type") == "PROMO")
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("l_partkey")
    # avg as exact ratio: sum/count (one IEEE division; identical in DuckDB)
    thresh = (
        F.lit(0.2)
        * F.sum(F.col("l_quantity").cast("long")).over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    small = j.withColumn("_thresh", thresh).filter(F.col("l_quantity") < F.col("_thresh"))
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
    )


register(
    "q17_small_qty_revenue",
    q17_small_qty_revenue,
    f"""
WITH j AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
         0.2 * CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS DOUBLE)
             / CAST(count(*) OVER (PARTITION BY l_partkey) AS DOUBLE) AS thresh
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#7' AND p_type = 'PROMO'
)
SELECT count(*) AS n_small,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) / 7.0 AS avg_yearly
FROM j
WHERE l_quantity < thresh
""",
)


# --------------------------------------------------------------------------
# q18: TPC-H Q18-flavored large-volume orders — HAVING over a fact rollup
# feeding a semi-join back into the order/customer detail, global top-k.
# The big-quantity keys are found with ONE aggregation of lineitem; only
# matching orders join onward (Catalyst plans the IN as left-semi).
# --------------------------------------------------------------------------
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").alias("o_orderdate"),
            F.col("o_totalprice").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


register(
    "q18_large_orders",
    q18_large_orders,
    """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)


# --------------------------------------------------------------------------
# q19: TPC-H Q19-flavored disjunctive predicate revenue — three OR-branches
# of (brand, size-range, quantity-range). The join is a single equi-join on
# partkey with the disjunction evaluated post-join; Catalyst pushes the
# shared part-side filter (size >= 1) into the scan.
# --------------------------------------------------------------------------
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(5, 30)
    )
    b3 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(10, 40)
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        j.filter(b1 | b2 | b3)
        .agg(F.count(F.lit(1)).alias("n_lines"), F.sum(rev).cast("double").alias("revenue"))
    )


register(
    "q19_disjunctive_revenue",
    q19_disjunctive_revenue,
    f"""
SELECT count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (1 - CAST(l_discount AS {SQL_DEC}))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 5  AND 30)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 10 AND 40)
""",
)


# --------------------------------------------------------------------------
# q22: TPC-H Q22-flavored idle high-balance customers — substring-derived
# country code, a scalar-subquery balance threshold, and an ANTI join
# against orders (customers who never ordered). cntrycode = last 2 digits
# of c_name (the driver schema has no phone column).
# --------------------------------------------------------------------------
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = read_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring(F.col("c_name"), -2, 2)
    )
    # scalar threshold: avg positive balance, as an exact sum/count ratio
    # (broadcast 1-row aggregate, not a rescan)
    thresh = pool.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("_avg_bal")
    )
    # "idle" = no order in the last 18 months of the data window (every
    # customer in the driver data has SOME order, so TPC-H's no-order-ever
    # form would be vacuously empty)
    recent = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01").select(
        "o_custkey"
    )
    return (
        pool.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, pool["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


register(
    "q22_idle_customers",
    q22_idle_customers,
    f"""
WITH pool AS (
  SELECT c_custkey, c_acctbal, substr(c_name, length(c_name) - 1, 2) AS cntrycode
  FROM customer
),
t AS (
  SELECT CAST(sum(CAST(c_acctbal AS {SQL_DEC})) AS DOUBLE) / count(*) AS avg_bal
  FROM pool WHERE c_acctbal > 0
)
SELECT cntrycode, count(*) AS n_custs,
       CAST(sum(CAST(c_acctbal AS {SQL_DEC})) AS DOUBLE) AS total_bal
FROM pool, t
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode
""",
)


# --------------------------------------------------------------------------
# window_analytics — the analytic-function battery: ntile / percent_rank /
# cume_dist / nth_value over one totally-ordered window (unique tie-break
# on the key makes every function deterministic; percent_rank and
# cume_dist are single divisions of exact ints).
# --------------------------------------------------------------------------
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-01-01")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_key"),
    )


register(
    "window_analytics",
    window_analytics,
    """
SELECT o_orderkey, o_orderstatus,
       ntile(4)       OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume,
       first_value(o_orderkey) OVER w AS cheapest_key,
       nth_value(o_orderkey, 2) OVER
         (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
FROM orders
WHERE o_orderdate < TIMESTAMP '1996-01-01'
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)


# --------------------------------------------------------------------------
# agg_grouping_sets — explicit GROUPING SETS (the general form rollup/cube
# specialize): per-status, per-priority, and grand-total aggregates in ONE
# pass (Catalyst expands to a single Expand + hash agg, not three scans).
# Group labels are coalesced (no natural NULLs in these columns).
# --------------------------------------------------------------------------
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_orders_gs")
    return orders.sparkSession.sql(
        f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS {SQL_DEC})) AS DOUBLE) AS total_price
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


register(
    "agg_grouping_sets",
    agg_grouping_sets,
    f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {SQL_DEC})) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)


# --------------------------------------------------------------------------
# agg_regression_slope — per-group simple OLS (the REGR_SLOPE/REGR_
# INTERCEPT/REGR_R2 SQL-standard aggregate family): price regressed on
# quantity per return flag. Built from exact DECIMAL sufficient
# statistics (n, Σx, Σy, Σx², Σxy, Σy² — association-free, any
# aggregation order) rather than the engines' native float regr_*
# aggregates, whose running sums are accumulation-order-dependent and
# therefore unreplayable across engines. The closed forms are a fixed
# IEEE chain over those exact endpoints, written identically in the
# oracle. Zero-variance groups are dropped (undefined slope).
# Plan: ONE hash agg with map-side combine + a key-sized projection.
# --------------------------------------------------------------------------
def agg_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(7,2)")
    y = F.col("l_extendedprice").cast(SQL_DEC.lower())
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    nd = F.col("n_rows").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / varx
    return (
        sums.filter((varx > 0) & (vary > 0))
        .select(
            "l_returnflag",
            "n_rows",
            F.round(slope, 6).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("intercept"),
            F.round(num * num / (varx * vary), 6).alias("r2"),
        )
    )


register(
    "agg_regression_slope",
    agg_regression_slope,
    f"""
WITH sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * CAST(l_extendedprice AS {SQL_DEC})) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows,
       round((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_rows AS DOUBLE) * sxx - sx * sx), 6) AS slope,
       round((sy - (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_rows AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_rows AS DOUBLE), 6) AS intercept,
       round((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
             * (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
             / ((CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                * (CAST(n_rows AS DOUBLE) * syy - sy * sy)), 6) AS r2
FROM sums
WHERE CAST(n_rows AS DOUBLE) * sxx - sx * sx > 0
  AND CAST(n_rows AS DOUBLE) * syy - sy * sy > 0
""",
)


# --------------------------------------------------------------------------
# agg_exact_median — exact percentile aggregate (Spark `percentile`, DuckDB
# `quantile_cont`): both engines define the 0.5 quantile as the same linear
# interpolation between the two middle order statistics — one subtraction,
# one multiply, one add on doubles, bit-identical.
# --------------------------------------------------------------------------
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# agg_weighted_median — the weighted 0.5-quantile (lower weighted median:
# the smallest value whose cumulative weight reaches half the total),
# here price weighted by quantity per return flag. Neither engine ships
# a weighted-percentile aggregate, so it's composed from primitives both
# have EXACTLY: a RANGE-framed cumulative weight sum (the default frame
# with ORDER BY on both engines, so equal prices share one cumulative
# value), decimal weights end to end (the 2·cw ≥ total crossing test is
# exact decimal arithmetic — no float ties), and min(value) past the
# crossing. Plan: ONE per-key window exchange (cumulative + total weight
# share it) + a per-key agg; the key-count base profile joins on a
# key-sized table.
# --------------------------------------------------------------------------
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(SQL_DEC.lower())
    wc = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wt = Window.partitionBy("l_returnflag")
    marked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(qty).over(wc).alias("cw"),
        F.sum(qty).over(wt).alias("tw"),
    )
    wm = (
        marked.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
    )
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(qty).cast("double").alias("total_weight"),
    )
    return base.join(wm, "l_returnflag").select(
        "l_returnflag", "weighted_median_price", "total_weight", "n_rows"
    )


register(
    "agg_weighted_median",
    agg_weighted_median,
    f"""
WITH marked AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS {SQL_DEC}))
           OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
         sum(CAST(l_quantity AS {SQL_DEC}))
           OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
),
wm AS (
  SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
  FROM marked WHERE 2 * cw >= tw GROUP BY l_returnflag
),
base AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(l_quantity AS {SQL_DEC})) AS DOUBLE) AS total_weight
  FROM lineitem GROUP BY l_returnflag
)
SELECT b.l_returnflag, w.weighted_median_price, b.total_weight, b.n_rows
FROM base b JOIN wm w USING (l_returnflag)
""",
)


register(
    "agg_exact_median",
    agg_exact_median,
    """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)


# --------------------------------------------------------------------------
# fuzzy_match_names_indel — FULL edit-distance-1 matching (substitutions
# AND insertions/deletions) via DELETION-neighborhood blocking (the
# SymSpell formulation): each distinct name emits itself plus its L
# single-char-deletion variants; two names within edit distance 1 share
# at least one variant string (substitution → same deletion at the
# differing position; ins/del → the shorter name IS a deletion variant of
# the longer). Same hot-group discipline as fuzzy_match_names: the
# variant join runs on distinct names, record expansion happens after
# verification. Candidates CAN share several variants (e.g. 'ab'/'ba'
# via both 'a' and 'b'), hence the distinct before the levenshtein
# verify.
# --------------------------------------------------------------------------
def fuzzy_deletion_variants(names: DataFrame) -> DataFrame:
    """(c_name, variant): every non-empty ``c_name`` with itself and each of
    its distinct single-character deletions — the indel blocking key is
    variant."""
    del_variants = F.transform(
        F.sequence(F.lit(1), F.length("c_name")),
        lambda p: F.concat(
            F.col("c_name").substr(F.lit(1), p - 1),
            F.col("c_name").substr(p + 1, F.length("c_name")),
        ),
    )
    return names.filter(F.length("c_name") >= 1).select(
        "c_name",
        F.explode(
            F.array_distinct(F.concat(F.array(F.col("c_name")), del_variants))
        ).alias("variant"),
    )


def fuzzy_name_pair_candidates_indel(names: DataFrame) -> DataFrame:
    variants = fuzzy_deletion_variants(names)
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.c_name") < F.col("b.c_name")),
        )
        .select(F.col("a.c_name").alias("name_a"), F.col("b.c_name").alias("name_b"))
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b").cast("long")
    return cand.select("name_a", "name_b", dist.alias("edit_distance")).filter(
        F.col("edit_distance") <= 1
    )


def fuzzy_match_names_indel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fuzzy_record_pairs(spark, sf_dir, fuzzy_name_pair_candidates_indel)


register(
    "fuzzy_match_names_indel",
    fuzzy_match_names_indel,
    """
WITH cust AS (
  SELECT c_custkey, c_name FROM customer WHERE length(c_name) >= 1
),
names AS (SELECT DISTINCT c_name FROM cust),
v AS (
  SELECT c_name, c_name AS variant FROM names
  UNION
  SELECT c_name,
         substr(c_name, 1, CAST(pos AS INT) - 1) ||
         substr(c_name, CAST(pos AS INT) + 1, length(c_name)) AS variant
  FROM names, UNNEST(generate_series(1, length(c_name))) AS t(pos)
),
np AS (
  SELECT DISTINCT a.c_name AS name_a, b.c_name AS name_b
  FROM v a JOIN v b ON a.variant = b.variant AND a.c_name < b.c_name
),
verified AS (
  SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_distance
  FROM np WHERE levenshtein(name_a, name_b) <= 1
),
cross_pairs AS (
  SELECT least(ia.c_custkey, ib.c_custkey) AS id_a,
         greatest(ia.c_custkey, ib.c_custkey) AS id_b,
         verified.edit_distance
  FROM verified
  JOIN cust ia ON ia.c_name = verified.name_a
  JOIN cust ib ON ib.c_name = verified.name_b
),
same_pairs AS (
  SELECT x.c_custkey AS id_a, y.c_custkey AS id_b, CAST(0 AS BIGINT) AS edit_distance
  FROM cust x JOIN cust y ON x.c_name = y.c_name AND x.c_custkey < y.c_custkey
)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs
""",
)


# --------------------------------------------------------------------------
# q09: TPC-H Q9-flavored product-type profit by supplier nation and year.
# The driver schema has no partsupp (no ps_supplycost), so cost is proxied
# as 60% of p_retailprice per unit — the documented adaptation; the shape
# (unfiltered 6-relation fact join, profit = rev − cost decimal fold,
# GROUP BY nation × year) is Q9's. Part name filter keeps the LIKE leg.
# --------------------------------------------------------------------------
def q09_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    cost = (
        (_dec("p_retailprice") * F.lit(0.6).cast("decimal(3,2)")).cast(DEC)
        * F.col("l_quantity").cast("decimal(4,0)")
    )
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(rev - cost).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


register(
    "q09_nation_profit",
    q09_nation_profit,
    f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS {SQL_DEC}) * (1 - CAST(l_discount AS {SQL_DEC}))
                - CAST(CAST(p_retailprice AS {SQL_DEC}) * CAST(0.6 AS DECIMAL(3,2)) AS {SQL_DEC})
                  * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS profit,
       count(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
""",
)


# ---------------------------------------------------------------------------
# scale_skew_profile — heavy-hitter diagnostic over the orders→customer
# join key (operators/skew.py key_skew_profile): the pre-flight check that
# decides plain-shuffle vs broadcast vs salted join. TakeOrdered top-N (no
# single-reducer sort), exact-ppm shares, deterministic key-asc ties.
# ---------------------------------------------------------------------------
def scale_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.skew import key_skew_profile

    orders = read_table(spark, sf_dir, "orders")
    return key_skew_profile(orders, "o_custkey", top_n=20)


register(
    "scale_skew_profile",
    scale_skew_profile,
    """
WITH c AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys
  FROM c
),
ranked AS (
  SELECT key, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rank
  FROM c
)
SELECT r.key, r.cnt, r.rank,
       (r.cnt * 1000000) // t.total AS share_ppm,
       (r.cnt * t.n_keys) / t.total AS skew_x
FROM ranked r CROSS JOIN t
WHERE r.rank <= 20
""",
)


# ---------------------------------------------------------------------------
# scale_bloom_prefilter — explicit distributed Bloom-filter join pruning
# (operators/bloom.py): bitmap of the build keys (one bit_or hash agg,
# ≤ m/32 rows, broadcast), Kirsch–Mitzenmacher double-hash probe as a
# zero-shuffle projection, exact verify only over the surviving sliver.
# The oracle replays the SAME md5-derived bitmap arithmetic, so the
# candidate and false-positive counts — the bloom's actual behavior, not
# just the final join — are value-checked. m=4096 bits for ~312 build
# keys keeps the false-positive rate visibly nonzero so the audit row
# proves the exact-verify stage earns its keep.
# ---------------------------------------------------------------------------
def scale_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.bloom import bloom_prefilter_report

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    build = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    ).select(F.col("c_custkey").cast("string").alias("key"))
    probe = orders.select(F.col("o_custkey").cast("string").alias("key"))
    return bloom_prefilter_report(build, probe, "key", m_bits=4096, k=3)


register(
    "scale_bloom_prefilter",
    scale_bloom_prefilter,
    """
WITH b AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key
  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
),
p AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders),
pos_b AS (
  SELECT (CAST(CONCAT('0x', SUBSTR(md5(key), 1, 15)) AS BIGINT)
          + i * CAST(CONCAT('0x', SUBSTR(md5(key), 16, 15)) AS BIGINT)) % 4096 AS pos
  FROM b, UNNEST([1, 2, 3]) AS t(i)
),
bitmap AS (
  SELECT pos // 32 AS bucket,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
  FROM pos_b GROUP BY 1
),
pos_p AS (
  SELECT key,
         (CAST(CONCAT('0x', SUBSTR(md5(key), 1, 15)) AS BIGINT)
          + i * CAST(CONCAT('0x', SUBSTR(md5(key), 16, 15)) AS BIGINT)) % 4096 AS pos
  FROM p, UNNEST([1, 2, 3]) AS t(i)
),
hits AS (
  SELECT key,
         sum(CASE WHEN (COALESCE(word, 0) >> CAST(pos % 32 AS INT)) & 1 = 1
                  THEN 1 ELSE 0 END) AS h
  FROM pos_p LEFT JOIN bitmap ON pos // 32 = bucket
  GROUP BY key
),
cand AS (SELECT key FROM hits WHERE h = 3),
ver AS (SELECT key FROM cand WHERE key IN (SELECT key FROM b))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_build_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_probe_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_verified,
       (SELECT CAST(count(*) AS BIGINT) FROM cand)
       - (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_false_positives
""",
)


# ---------------------------------------------------------------------------
# scale_join_cardinality — histogram join-size estimation (operators/
# skew.py join_cardinality_estimate): clicks ⋈ purchases on user_id, the
# skew-sensitive self-ish join attribution runs. The report carries the
# per-bucket containment estimate, the true join count, and the ppm
# ratio — the estimator's own accuracy is the value under test.
# ---------------------------------------------------------------------------
def scale_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.skew import join_cardinality_estimate

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return join_cardinality_estimate(clicks, purchases, "user_id", buckets=64)


register(
    "scale_join_cardinality",
    scale_join_cardinality,
    """
WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
h1 AS (
  SELECT user_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n1,
         CAST(count(DISTINCT user_id) AS BIGINT) AS d1
  FROM c GROUP BY 1
),
h2 AS (
  SELECT user_id % 64 AS bucket, CAST(count(*) AS BIGINT) AS n2,
         CAST(count(DISTINCT user_id) AS BIGINT) AS d2
  FROM p GROUP BY 1
),
e AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets_matched,
         CAST(sum((n1 * n2) // greatest(d1, d2)) AS BIGINT) AS est_rows
  FROM h1 JOIN h2 USING (bucket)
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS actual_rows
  FROM c JOIN p USING (user_id)
)
SELECT e.n_buckets_matched, e.est_rows, a.actual_rows,
       (e.est_rows * 1000000) // a.actual_rows AS est_over_actual_ppm
FROM e CROSS JOIN a
""",
)


# --------------------------------------------------------------------------
# sql_lateral_topn — LATERAL correlated subquery (SQL:1999 lateral derived
# table, Spark 3.2+/DuckDB native): for every nation, its top-2 customers
# by account balance. The lateral top-n-per-group idiom — the optimizer
# must decorrelate it into a ranked join rather than re-running the inner
# query per outer row (Spark rewrites to a window under
# DecorrelateInnerQuery; the plan has no per-row iteration).
# --------------------------------------------------------------------------
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM v_nation n,
        LATERAL (
            SELECT c_name, c_acctbal
            FROM v_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT 2
        ) t
        """
    )


register(
    "sql_lateral_topn",
    sql_lateral_topn,
    """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal
    FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT 2
) t
""",
)


# --------------------------------------------------------------------------
# agg_mode — deterministic per-group MODE (most frequent value): the modal
# o_orderpriority per order status. Native mode() aggregates leave ties
# implementation-defined on both engines; the struct-max spelling pins
# them — Spark folds max(struct(cnt, value)) (count first, then value,
# lexicographic), the oracle ranks (cnt DESC, value DESC) — the same
# total order. Two hash aggregates with map-side combine, no window over
# data, no sort.
# --------------------------------------------------------------------------
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        counts.groupBy("o_orderstatus")
        .agg(F.max(F.struct("cnt", "o_orderpriority")).alias("m"))
        .select(
            "o_orderstatus",
            F.col("m.o_orderpriority").alias("mode_priority"),
            F.col("m.cnt").alias("n_orders"),
        )
    )


register(
    "agg_mode",
    agg_mode,
    """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderstatus, o_orderpriority, cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority DESC) AS rn
  FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n_orders
FROM ranked WHERE rn = 1
""",
)


# ---------------------------------------------------------------------------
# scale_countmin_estimate — Count-Min sketch frequency estimation
# (Cormode & Muthukrishnan 2005, "An improved data stream summary: the
# count-min sketch and its applications"): d=3 hash rows × w=32 counters
# summarize the (event_type | user-bucket) key stream in 96 integers;
# a key's estimate is the MIN over its d counters — always ≥ the true
# count, over only by colliding mass. The sketch uses the portable
# md5-derived hash family (salted per row, functions/hashing.py
# discipline), so the oracle rebuilds the identical sketch in SQL and the
# report verifies BOTH the estimates and the true counts side by side
# (top-10 keys by true count; overestimate = est − true, never negative).
# At 100 TB the sketch is the point: per-partition 96-int partial
# sketches merge by elementwise ADD (count-min is a linear sketch), so
# heavy-hitter frequency tracking costs O(d·w) memory regardless of key
# cardinality — the same reason bloom prefiltering (operators/bloom.py)
# ships explicit partial-combine plans.
#
# Plan: one (row, bucket) hash agg over the exploded 3-row stream (96-row
# shuffle), one true-count key agg, a ≤|keys|×d join of keys to counters
# on bucket, a per-key MIN, TakeOrdered top-10. No data-sized side ever
# rides a broadcast.
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 3, 32


def scale_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.hashing import hex_prefix_long

    ev = read_table(spark, sf_dir, "events").select(
        F.concat(F.col("event_type"), F.lit("|"), (F.col("user_id") % 50).cast("string")).alias(
            "key"
        )
    )
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    hashed = ev.select("key", rows).select(
        "key",
        "r",
        (hex_prefix_long(F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit(":"), F.col("key"))) % _CMS_W).alias(
            "bucket"
        ),
    )
    counters = hashed.groupBy("r", "bucket").agg(F.count(F.lit(1)).cast("long").alias("counter"))
    keys = ev.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    keyed = keys.select(
        "key",
        "true_count",
        F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r"),
    ).select(
        "key",
        "true_count",
        "r",
        (hex_prefix_long(F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit(":"), F.col("key"))) % _CMS_W).alias(
            "bucket"
        ),
    )
    est = (
        keyed.join(counters, ["r", "bucket"])
        .groupBy("key", "true_count")
        .agg(F.min("counter").cast("long").alias("cms_estimate"))
    )
    return (
        est.select(
            "key",
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count")).cast("long").alias("overestimate"),
        )
        .orderBy(F.desc("true_count"), "key")
        .limit(10)
    )


def _cms_oracle() -> str:
    hx = "CAST(CONCAT('0x', SUBSTR(md5({e}), 1, 15)) AS BIGINT)"
    bucket = hx.format(e="'cms' || CAST(r AS VARCHAR) || ':' || key") + f" % {_CMS_W}"
    return f"""
WITH ev AS (
  SELECT event_type || '|' || CAST(user_id % 50 AS VARCHAR) AS key FROM events
),
hashed AS (
  SELECT key, r, {bucket} AS bucket
  FROM ev CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS r) rows
),
counters AS (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS counter
  FROM hashed GROUP BY r, bucket
),
keys AS (
  SELECT key, CAST(count(*) AS BIGINT) AS true_count FROM ev GROUP BY key
),
keyed AS (
  SELECT key, true_count, r, {bucket} AS bucket
  FROM keys CROSS JOIN (SELECT unnest(range(0, {_CMS_D})) AS r) rows
),
est AS (
  SELECT k.key, k.true_count, CAST(min(c.counter) AS BIGINT) AS cms_estimate
  FROM keyed k JOIN counters c ON k.r = c.r AND k.bucket = c.bucket
  GROUP BY k.key, k.true_count
)
SELECT key, true_count, cms_estimate,
       CAST(cms_estimate - true_count AS BIGINT) AS overestimate
FROM est
ORDER BY true_count DESC, key
LIMIT 10
"""


register("scale_countmin_estimate", scale_countmin_estimate, _cms_oracle())


# --------------------------------------------------------------------------
# agg_listagg — the LISTAGG / string_agg surface with a DETERMINISTIC
# order contract: collect_list is arrival-ordered (unreplayable), so the
# engine sorts the collected array before joining (array_join∘array_sort
# ≡ DuckDB's string_agg(... ORDER BY ...)). Nations per region — the
# classic dimension-denormalization shape; output region-sized.
# --------------------------------------------------------------------------
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    return nation.groupBy(F.col("n_regionkey").cast("long").alias("region_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names_csv"),
    )


register(
    "agg_listagg",
    agg_listagg,
    """
SELECT CAST(n_regionkey AS BIGINT) AS region_key,
       CAST(count(*) AS BIGINT) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS names_csv
FROM nation
GROUP BY CAST(n_regionkey AS BIGINT)
""",
)


# --------------------------------------------------------------------------
# set_ops_all — the BAG-semantics set operations (EXCEPT ALL / INTERSECT
# ALL), the multiplicity-preserving twins of set_ops' DISTINCT variants:
# high-priority order customers minus/intersected-with finished-order
# customers, each surviving occurrence kept (the multiset difference the
# reconciliation pattern needs — how many of a customer's urgent orders
# are NOT yet finished). Both engines define the ALL variants by pairing
# occurrences; the value-hash compare is multiplicity-sensitive, so the
# oracle checks bag equality, not just membership.
# --------------------------------------------------------------------------
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    high = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("custkey"))
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    ex = high.exceptAll(finished).select("custkey", F.lit("except_all").alias("op"))
    inter = high.intersectAll(finished).select(
        "custkey", F.lit("intersect_all").alias("op")
    )
    return ex.unionByName(inter)


register(
    "set_ops_all",
    set_ops_all,
    """
SELECT custkey, 'except_all' AS op FROM (
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT custkey, 'intersect_all' AS op FROM (
  SELECT o_custkey AS custkey FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
""",
)


# --------------------------------------------------------------------------
# sql_recursive_cte — WITH RECURSIVE (new engine surface in Spark 4):
# bounded-hop BFS reachability from the smallest custkey over a derived
# "referral" edge list (each customer links to the next 3 custkeys — a
# deterministic ladder over driver data with branching ≤3, so hop k
# reaches keys seed+1..seed+3k and BFS distance is ceil(offset/3) — a
# closed form the test pins). Spark's recursion supports UNION ALL only, so
# the recursion carries duplicate (id, hop) paths — finite because depth
# is bounded at 5 and branching at 3 — and the outer min(hop) GROUP BY
# collapses them to BFS distances, identically on both engines.
# Exercises the recursive plan surface the pointer-doubling operators
# deliberately avoid.
# --------------------------------------------------------------------------
_REC_SQL_BODY = """
WITH RECURSIVE
e AS (
  SELECT a.c_custkey AS src, b.c_custkey AS dst
  FROM {cust} a JOIN {cust} b
    ON b.c_custkey BETWEEN a.c_custkey + 1 AND a.c_custkey + 3
),
reach(id, hop) AS (
  SELECT min(c_custkey), 0 FROM {cust}
  UNION ALL
  SELECT e.dst, r.hop + 1
  FROM reach r JOIN e ON e.src = r.id
  WHERE r.hop < 5
)
SELECT CAST(id AS BIGINT) AS custkey,
       CAST(min(hop) AS BIGINT) AS min_hops
FROM reach GROUP BY id
"""


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("v_cust_rec")
    return spark.sql(_REC_SQL_BODY.format(cust="v_cust_rec"))


register("sql_recursive_cte", sql_recursive_cte, _REC_SQL_BODY.format(cust="customer"))


# --------------------------------------------------------------------------
# join_null_safe — the null-safe equality join (Spark `<=>` /
# eqNullSafe ≡ SQL IS NOT DISTINCT FROM): NULL keys MATCH each other
# instead of vanishing (plain equality drops every NULL pair — the
# classic silent-loss bug in CDC reconciliation joins on nullable
# business keys). Nullable keys are derived deterministically (custkey
# %7 == 0 → NULL); both sides aggregate after the join so the NULL-
# bucket's pairing lands in the hash.
# --------------------------------------------------------------------------
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    key = F.when(F.col("c_custkey") % 7 != 0, F.col("c_custkey") % 100)
    a = cust.select(key.alias("k"), F.col("c_acctbal").alias("bal_a"))
    b = cust.select(key.alias("k"), F.col("c_custkey").alias("ck_b"))
    j = a.join(b, a["k"].eqNullSafe(b["k"]))
    return j.groupBy(F.coalesce(a["k"], F.lit(-1)).cast("long").alias("key_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("bal_a").cast("decimal(12,2)")).cast("double").alias("bal_sum"),
        F.max("ck_b").cast("long").alias("max_ck"),
    )


register(
    "join_null_safe",
    join_null_safe,
    """
WITH a AS (
  SELECT CASE WHEN c_custkey % 7 <> 0 THEN c_custkey % 100 END AS k,
         c_acctbal AS bal_a
  FROM customer
),
b AS (
  SELECT CASE WHEN c_custkey % 7 <> 0 THEN c_custkey % 100 END AS k,
         c_custkey AS ck_b
  FROM customer
)
SELECT CAST(coalesce(a.k, -1) AS BIGINT) AS key_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(a.bal_a AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum,
       CAST(max(b.ck_b) AS BIGINT) AS max_ck
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY coalesce(a.k, -1)
""",
)


# --------------------------------------------------------------------------
# agg_bool — the boolean aggregate surface (bool_and / bool_or, the
# SQL-standard EVERY/ANY): per status, whether EVERY order clears a
# price floor, whether ANY is urgent, and exact counts backing each
# verdict — so a flipped NULL-handling or short-circuit bug shows in
# both the flag and its count.
# --------------------------------------------------------------------------
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("bool_and(o_totalprice > 900)").alias("all_above_floor"),
        F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        F.sum(F.when(F.col("o_totalprice") > 900, 1).otherwise(0))
        .cast("long")
        .alias("n_above_floor"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n_urgent"),
    )


register(
    "agg_bool",
    agg_bool,
    """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       bool_and(o_totalprice > 900) AS all_above_floor,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       CAST(sum(CASE WHEN o_totalprice > 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_floor,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM orders
GROUP BY o_orderstatus
""",
)


# --------------------------------------------------------------------------
# agg_basket_lift — market-basket association mining (the Apriori /
# Agrawal-Srikant frequent-pair step): part pairs co-purchased in the
# same order, with support and LIFT in exact ppm integers
# (lift·10⁶ = (10⁶·N·n_ab) div (n_a·n_b) — all int64, overflow-safe
# while 10⁶·N·n_ab < 9.2e18, i.e. N·n_ab < 9.2e12; switch the numerator
# to DECIMAL(38,0) past that). Pairs are generated per order (basket sizes
# are small and bounded, so the per-order self-join is linear in
# baskets, never parts²); a support floor prunes before ranking;
# deterministic top-20 by (lift, support, pair). The association-rule
# family's first entry.
# --------------------------------------------------------------------------
_BASKET_MIN_PAIRS, _BASKET_TOP = 3, 20


def agg_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 tail diet: li has four consumers (the n_orders action, the
    # per-item counts, both self-join sides) and item has two (each pair
    # side's count join) — persist BOTH relations, or each consumer
    # re-plans the lineitem distinct. release: caller
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct().persist()
    n_orders = li.select("l_orderkey").distinct().count()
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item")).persist()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN_PAIRS)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(f"CAST((1000000 * n_ab) div {n_orders} AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr(
                f"CAST((1000000 * CAST({n_orders} AS BIGINT) * n_ab) div (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("lift_ppm"), F.desc("n_ab"), F.asc("part_a"), F.asc("part_b")
    ).limit(_BASKET_TOP)


def _basket_oracle() -> str:
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_BASKET_MIN_PAIRS}
),
scored AS (
  SELECT p.part_a, p.part_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
         CAST((1000000 * p.n_ab) // n.n_orders AS BIGINT) AS support_ppm,
         CAST((1000000 * n.n_orders * p.n_ab) // (ia.n_item * ib.n_item) AS BIGINT) AS lift_ppm
  FROM pairs p
  JOIN item ia ON p.part_a = ia.l_partkey
  JOIN item ib ON p.part_b = ib.l_partkey
  CROSS JOIN n
)
SELECT part_a, part_b, n_ab, n_a, n_b, support_ppm, lift_ppm
FROM scored
ORDER BY lift_ppm DESC, n_ab DESC, part_a ASC, part_b ASC
LIMIT {_BASKET_TOP}
"""


register("agg_basket_lift", agg_basket_lift, _basket_oracle())
