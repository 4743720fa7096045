"""TPC-H Q15 and Q21 adaptations — the last two TPC-H shapes expressible
over the shipped testdata tables (Q2/Q11/Q16/Q20 need the absent partsupp
table; see TESTDATA.md). With these, every expressible TPC-H query has a
declared (spark_fn, oracle_sql) pair.

Lives in its OWN module on purpose: adding round-5 queries to
relational.py would mark every query in that file as changed-this-round
for scoring-staleness purposes (see queries/__init__._PRIORITY).

Q21 adaptation note: the testdata lineitem has no l_commitdate /
l_receiptdate, so "kept orders waiting" is re-expressed as shipping more
than 90 days after the order date. The interesting part of Q21 — the
EXISTS / NOT EXISTS correlated self-scans over the fact — is re-planned
as ONE aggregation over the order's line set (count distinct suppliers,
count distinct LATE suppliers, pick the unique late supplier in the same
pass), which is the scale-safe form: one fact-fact shuffle on the order
key instead of three correlated scans of lineitem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.queries import register
from cyrela_etl_spark.queries.relational import DEC, SQL_DEC, _dec
from cyrela_etl_spark.sources.parquet import read_table

# --------------------------------------------------------------------------
# q15_top_supplier — revenue view over a quarter; supplier(s) at max.
# The "view" is a tiny per-supplier aggregate, so the max is attached by
# broadcasting the 1-row global max back onto it (the wallet_features
# pattern) — never a global sort, never a single-partition window.
# --------------------------------------------------------------------------
_Q15_START, _Q15_END = "1996-01-01", "1996-04-01"


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q15_START)) & (F.col("l_shipdate") < F.lit(_Q15_END))
    )
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).alias(
                "_rev_dec"
            )
        )
        # r14 tail diet: the view feeds the 1-row max AND the final join;
        # un-persisted, output pruning specializes the two copies and the
        # quarter's lineitem scan + suppkey shuffle run twice (verified:
        # no runtime exchange reuse). release: caller (cache contract,
        # queries/__init__)
        .persist()
    )
    mx = revenue.agg(F.max("_rev_dec").alias("_mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("_rev_dec") == F.col("_mx"))
        .join(F.broadcast(read_table(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("_rev_dec").cast("double").alias("total_revenue"),
        )
    )


ORACLE_Q15 = f"""
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS {SQL_DEC}) * (CAST(1 AS {SQL_DEC}) - CAST(l_discount AS {SQL_DEC}))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_START}' AND l_shipdate < TIMESTAMP '{_Q15_END}'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT max(rev) FROM revenue)
"""
register("q15_top_supplier", q15_top_supplier, ORACLE_Q15)


# --------------------------------------------------------------------------
# q21_waiting_supplier — finished orders held up by exactly one supplier
# (that supplier shipped >90 days after the order date, every other
# supplier on the order shipped on time), counted per supplier.
# --------------------------------------------------------------------------
_LATE_DAYS = 90


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS")
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            # n_late == 1 rows have exactly one late supplier, so max == it
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    waiting = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    return (
        waiting.join(
            F.broadcast(read_table(spark, sf_dir, "supplier")), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLE_Q21 = f"""
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY THEN l_suppkey END) AS n_late,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
"""
register("q21_waiting_supplier", q21_waiting_supplier, ORACLE_Q21)
