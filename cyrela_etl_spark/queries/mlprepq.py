"""ML feature-preparation queries: the encodings a training-data pipeline
applies between curation and the trainer — smoothed target encoding for
high-cardinality categoricals and the hashing trick for unbounded
vocabularies. Both follow the engine's exactness discipline: every
aggregate is an exact decimal/integer sum, ratios are fixed-form IEEE
expressions over the exact sums (single correctly-rounded ops — engine-
identical), hashes are the portable md5-derived 60-bit family
(functions/hashing.py), so a DuckDB oracle reproduces every value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.hashing import hex_prefix_long
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table


def _sql_hex64(expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# ml_target_encode — smoothed mean target encoding (the empirical-Bayes
# shrinkage of Micci-Barreca 2001, "A preprocessing scheme for
# high-cardinality categorical attributes"): encode c_mktsegment by the
# mean order value of its customers, shrunk toward the global mean with
# pseudo-count m: enc = (S_g + m·μ) / (n_g + m), μ = S/N. Evaluated in
# the EXACT rational form (S_g·N + m·S) / (N·(n_g + m)) — decimal sums
# cast to double, then 2 multiplies + 1 add + 1 divide in fixed order —
# so both engines agree bit-for-bit before the defensive round. Naive
# float mean-of-means would be accumulation-order-dependent AND leak
# target noise for rare categories (the problem smoothing exists to fix).
#
# Plan: one keyed equi-join customer⋈orders (both data-sized — correctly
# shuffled on custkey; Catalyst broadcasts the smaller side when it
# fits), ONE per-segment hash agg, global totals re-derived from the
# ≤|segments|-row agg itself (no second scan, no window), assembled via a
# 1-row broadcast crossJoin.
# ---------------------------------------------------------------------------
_TE_SMOOTHING = 20


def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    joined = cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
    # r14 tail diet: per_seg (|segments| rows) feeds the 1-row totals AND
    # the encoding — persist or the customer-orders join + agg runs twice.
    # release: caller
    per_seg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("seg_sum"),
    ).persist()
    totals = per_seg.agg(
        F.sum("n_orders").cast("long").alias("n_total"),
        F.sum("seg_sum").cast("decimal(38,2)").alias("sum_total"),
    )
    m = F.lit(float(_TE_SMOOTHING))
    sg = F.col("seg_sum").cast("double")
    s = F.col("sum_total").cast("double")
    n_g = F.col("n_orders").cast("double")
    n = F.col("n_total").cast("double")
    return per_seg.crossJoin(F.broadcast(totals)).select(
        "c_mktsegment",
        "n_orders",
        F.round(sg / n_g, 6).alias("raw_mean"),
        F.round((sg * n + m * s) / (n * (n_g + m)), 6).alias("encoded_mean"),
    )


register(
    "ml_target_encode",
    ml_target_encode,
    f"""
WITH per_seg AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS seg_sum
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_mktsegment
),
tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS n_total,
         CAST(sum(seg_sum) AS DECIMAL(38,2)) AS sum_total
  FROM per_seg
)
SELECT c_mktsegment, n_orders,
       round(CAST(seg_sum AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS raw_mean,
       round((CAST(seg_sum AS DOUBLE) * CAST(n_total AS DOUBLE)
              + CAST({_TE_SMOOTHING} AS DOUBLE) * CAST(sum_total AS DOUBLE))
             / (CAST(n_total AS DOUBLE)
                * (CAST(n_orders AS DOUBLE) + CAST({_TE_SMOOTHING} AS DOUBLE))), 6)
           AS encoded_mean
FROM per_seg CROSS JOIN tot
""",
)


# ---------------------------------------------------------------------------
# ml_feature_hash — the hashing trick (Weinberger et al. 2009, "Feature
# hashing for large scale multitask learning"): categorical features are
# mapped into a FIXED 64-bucket space by hash, with a second hash bit
# giving each feature a ±1 sign so collisions cancel in expectation
# (the unbiased variant from the paper). Per event the features are
# et=<event_type>, k=<props.k>, ub=<user_id mod 100> — an unbounded
# vocabulary reduced to 64 stable columns with NO fitted dictionary,
# which is the point: at 100 TB a dictionary encode needs a full
# vocabulary pass + broadcast; the hash encode is a zero-state
# projection. Output: per-bucket signed count (the encode of the
# all-corpus sum vector), feature count, distinct-feature count.
#
# Plan: 3-element array explode (zero-join projection; md5 JVM-side) →
# ONE 64-group hash agg with map-side combine. JSON k comes via
# get_json_object — the same scalar-function surface func_json_extract
# pins.
# ---------------------------------------------------------------------------
_FH_BUCKETS = 64


def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    feats = ev.select(
        F.explode(
            F.array(
                F.concat(F.lit("et="), F.col("event_type")),
                F.concat(F.lit("k="), F.get_json_object(F.col("props"), "$.k")),
                F.concat(F.lit("ub="), (F.col("user_id") % 100).cast("string")),
            )
        ).alias("feat")
    )
    h = hex_prefix_long(F.col("feat"))
    signed = feats.select(
        (h % _FH_BUCKETS).alias("bucket"),
        F.when((h % F.lit(2 * _FH_BUCKETS)) >= _FH_BUCKETS, F.lit(-1))
        .otherwise(F.lit(1))
        .alias("sign"),
        F.col("feat"),
    )
    return signed.groupBy("bucket").agg(
        F.sum("sign").cast("long").alias("signed_count"),
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.count_distinct("feat").cast("long").alias("n_distinct_features"),
    )


register(
    "ml_feature_hash",
    ml_feature_hash,
    f"""
WITH feats AS (
  SELECT unnest([
    'et=' || event_type,
    'k=' || json_extract_string(props, '$.k'),
    'ub=' || CAST(user_id % 100 AS VARCHAR)
  ]) AS feat
  FROM events
),
signed AS (
  SELECT {_sql_hex64('feat')} % {_FH_BUCKETS} AS bucket,
         CASE WHEN {_sql_hex64('feat')} % {2 * _FH_BUCKETS} >= {_FH_BUCKETS}
              THEN -1 ELSE 1 END AS sign,
         feat
  FROM feats
)
SELECT bucket,
       CAST(sum(sign) AS BIGINT) AS signed_count,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(count(DISTINCT feat) AS BIGINT) AS n_distinct_features
FROM signed
GROUP BY bucket
""",
)
