"""Storage-path queries: CSV source/sink and zone promotion exercised
through the correctness gate (reference S1/S2/S5/S10 — SURVEY.md §2.1).

Each query round-trips driver data through the engine's own writers into
a scratch directory, reads it back, and aggregates; the oracle computes
the same aggregate straight from the parquet — so a value mismatch means
the storage path corrupted something (type fidelity through CSV being the
classic hazard: these queries pin explicit-schema reads, header handling,
and decimal-exact re-aggregation after a write/read cycle).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table
from cyrela_etl_spark.sources.csv import read_csv, write_csv
from cyrela_etl_spark.sources.zones import ZoneStore


def _on_scratch_store(
    spark: SparkSession, prefix: str, build: Callable[[ZoneStore], DataFrame]
) -> DataFrame:
    """Run ``build`` against a ``ZoneStore`` rooted in a fresh
    ``$TMPDIR/<prefix>*`` dir and return its result detached from that
    dir (collected into a local relation), so the dir is removed before
    the caller sees the rows. Nothing is registered in the session
    catalog."""
    with tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True) as root:
        out = build(ZoneStore(spark, root))
        return spark.createDataFrame(out.collect(), out.schema)


# ---------------------------------------------------------------------------
# storage_csv_roundtrip — orders → CSV (header, overwrite) → explicit-schema
# read → decimal-exact aggregate.
# ---------------------------------------------------------------------------
def storage_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="csv_rt_") + "/orders"
    write_csv(orders, path)
    back = read_csv(spark, path, schema=orders.schema, header=True)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


register(
    "storage_csv_roundtrip",
    storage_csv_roundtrip,
    """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# storage_zone_promote — landing CSV → curated parquet via ZoneStore
# promotion, then aggregate from curated (the reference's copy+parse leg
# as one verified relation).
# ---------------------------------------------------------------------------
def storage_zone_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(store: ZoneStore) -> DataFrame:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        store.promote(cust, "landing", "cust", fmt="csv")
        landed = read_csv(spark, store.path("landing", "cust"), schema=cust.schema, header=True)
        curated_path = store.promote(landed, "curated", "cust", fmt="parquet")
        curated = spark.read.parquet(curated_path)
        return curated.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("total_balance"),
        )

    return _on_scratch_store(spark, "zones_rt_", build)


register(
    "storage_zone_promote",
    storage_zone_promote,
    """
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
FROM customer
GROUP BY c_mktsegment
""",
)


# ---------------------------------------------------------------------------
# storage_table_roundtrip — the lakehouse TABLE layer (sources/txn.py):
# half of supplier (even s_suppkey) is committed as version 1 of a txn
# table, the other half is APPENDED as version 2 against that read
# version, and the latest version is read BACK through the manifest log
# (txn_read, not the path) and aggregated. A stale manifest read, a
# dropped chain directory, or an append that rewrote the base all break
# the totals. Nothing is registered in the session catalog.
# ---------------------------------------------------------------------------
def storage_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.txn import txn_append, txn_init, txn_read

    def build(store: ZoneStore) -> DataFrame:
        supp = read_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        v = txn_init(store, "curated", "supp", supp.filter(F.col("s_suppkey") % 2 == 0))
        txn_append(
            store, "curated", "supp", supp.filter(F.col("s_suppkey") % 2 == 1), read_version=v
        )
        return txn_read(store, "curated", "supp").groupBy("s_nationkey").agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(12,2)")).cast("double").alias("total_balance"),
            F.min("s_suppkey").alias("min_key"),
            F.max("s_suppkey").alias("max_key"),
        )

    return _on_scratch_store(spark, "zone_tbl_", build)


register(
    "storage_table_roundtrip",
    storage_table_roundtrip,
    """
SELECT s_nationkey, count(*) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance,
       min(s_suppkey) AS min_key,
       max(s_suppkey) AS max_key
FROM supplier
GROUP BY s_nationkey
""",
)


# ---------------------------------------------------------------------------
# storage_incremental_agg — incremental view maintenance (operators/
# incremental.py): the orders fact arrives as three date-partitioned
# batches; each contributes a keyed partial-aggregate state and the
# serving numbers come from MERGING the states, never rescanning
# history. The oracle is the full recompute over all of orders — if the
# algebraic merge is correct they are exactly equal (the decimal sum
# makes equality exact, not approximate). At 100 TB this is the
# difference between an O(|delta|) nightly load and an O(|history|) one.
# ---------------------------------------------------------------------------
def storage_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.incremental import (
        finalize_agg_state,
        merge_agg_states,
        partial_agg_state,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    batches = [
        orders.filter(F.col("o_orderdate") < "1994-01-01"),
        orders.filter(
            (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1996-01-01")
        ),
        orders.filter(F.col("o_orderdate") >= "1996-01-01"),
    ]
    keys = ["o_orderpriority"]
    states = [partial_agg_state(b, keys, "o_totalprice") for b in batches]
    return finalize_agg_state(merge_agg_states(states, keys), keys)


register(
    "storage_incremental_agg",
    storage_incremental_agg,
    """
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
       min(o_totalprice) AS min_value,
       max(o_totalprice) AS max_value
FROM orders
GROUP BY o_orderpriority
""",
)


# ---------------------------------------------------------------------------
# storage_snapshot_diff — CDC snapshot diff (sources/zones.py
# snapshot_diff): a new snapshot is derived from orders by deterministic
# rules (drop %97 keys, bump %89 prices, insert %101 clones under new
# keys); the full-outer fingerprint diff must classify every key exactly
# as the rules predict — which is what the oracle computes directly.
# ---------------------------------------------------------------------------
def storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.zones import snapshot_diff

    old = read_table(spark, sf_dir, "orders")
    kept = old.filter(F.col("o_orderkey") % 97 != 0)
    bumped = kept.withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 89 == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    inserted = old.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = bumped.unionByName(inserted.select(*bumped.columns))
    return snapshot_diff(old, new, ["o_orderkey"])


register(
    "storage_snapshot_diff",
    storage_snapshot_diff,
    """
SELECT 'deleted' AS change, o_orderkey FROM orders WHERE o_orderkey % 97 = 0
UNION ALL
SELECT 'updated', o_orderkey FROM orders
WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0
UNION ALL
SELECT 'inserted', o_orderkey + 10000000 FROM orders WHERE o_orderkey % 101 = 0
""",
)


# ---------------------------------------------------------------------------
# storage_zorder_cluster — Morton-curve clustering stats over orders
# (operators/zorder.py): keys = custkey mod 2^16 and orderdate day-number
# mod 2^16, bit-interleaved; per z-bucket row counts + the min/max
# rectangle of both keys (what zone-map pruning sees after an OPTIMIZE
# ZORDER rewrite). Pure integer bit arithmetic — the oracle interleaves
# identically.
# ---------------------------------------------------------------------------
_Z_EPOCH = "1992-01-01"
_Z_BITS = 16
_Z_SHIFT = 16


def storage_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.zorder import zorder_cluster_stats

    orders = read_table(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(65536)).cast("long").alias("k1"),
        F.pmod(
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit(_Z_EPOCH))),
            F.lit(65536),
        )
        .cast("long")
        .alias("k2"),
    )
    return zorder_cluster_stats(orders, "k1", "k2", bits=_Z_BITS, bucket_shift=_Z_SHIFT)


def _zorder_oracle() -> str:
    from cyrela_etl_spark.operators.zorder import zvalue_sql

    z = zvalue_sql("k1", "k2", _Z_BITS)
    return f"""
WITH keys AS (
  SELECT CAST(o_custkey % 65536 AS BIGINT) AS k1,
         CAST(date_diff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS k2
  FROM orders
),
zed AS (SELECT k1, k2, {z} AS zvalue FROM keys)
SELECT CAST(zvalue >> {_Z_SHIFT} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(zvalue) AS min_z, max(zvalue) AS max_z,
       min(k1) AS min_k1, max(k1) AS max_k1,
       min(k2) AS min_k2, max(k2) AS max_k2
FROM zed
GROUP BY 1
"""


register("storage_zorder_cluster", storage_zorder_cluster, _zorder_oracle())


# ---------------------------------------------------------------------------
# storage_numeric_profile — ANALYZE-style per-column stats over orders
# (operators/profile.py numeric_profile): one scan computes every column's
# exact counts/distincts/min/max simultaneously; the oracle is the
# per-column UNION ALL spelling of the same stats.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


def storage_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import numeric_profile

    return numeric_profile(
        read_table(spark, sf_dir, "orders"), _PROFILE_COLS
    )


def _profile_oracle() -> str:
    parts = [
        f"""
SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_value,
       CAST(max({c}) AS DOUBLE) AS max_value
FROM orders"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


register("storage_numeric_profile", storage_numeric_profile, _profile_oracle())


# ---------------------------------------------------------------------------
# storage_moments_profile — distribution-SHAPE profile (operators/
# profile.py moments_profile): per-key population variance, skewness and
# excess kurtosis from exact decimal power sums (n, Σx..Σx⁴) in ONE hash
# agg. The drift signals histogram bin edges quantize away; skew's
# denominator is m2·√m2 on both engines (libm pow is not guaranteed
# correctly rounded; sqrt is).
# ---------------------------------------------------------------------------
def storage_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import moments_profile

    return moments_profile(
        read_table(spark, sf_dir, "lineitem"),
        key_col="l_returnflag",
        value_col="l_quantity",
    )


register(
    "storage_moments_profile",
    storage_moments_profile,
    """
WITH sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s1,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s2,
         CAST(sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s3,
         CAST(sum((CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) * (CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)))) AS DOUBLE) AS s4
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag, n_rows,
         s1 / n_rows AS m1,
         s2 / n_rows - (s1 / n_rows) * (s1 / n_rows) AS m2,
         s3 / n_rows - 3 * (s1 / n_rows) * (s2 / n_rows)
           + 2 * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows) AS m3,
         s4 / n_rows - 4 * (s1 / n_rows) * (s3 / n_rows)
           + 6 * (s1 / n_rows) * (s1 / n_rows) * (s2 / n_rows)
           - 3 * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows) * (s1 / n_rows) AS m4
  FROM sums
)
SELECT l_returnflag, n_rows,
       round(m1, 6) AS mean_value,
       round(m2, 6) AS pop_variance,
       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       round(m4 / (m2 * m2) - 3, 6) AS ex_kurtosis
FROM m
WHERE n_rows >= 2 AND m2 > 0
""",
)


# ---------------------------------------------------------------------------
# storage_jsonl_roundtrip — orders → JSONL (engine writer) → explicit-
# schema read-back → decimal-exact re-aggregation. A value mismatch means
# the JSON path corrupted a type (the float→string→float hazard JSONL
# shares with CSV).
# ---------------------------------------------------------------------------
def storage_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.jsonl import read_jsonl, write_jsonl

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="jsonl_rt_") + "/orders"
    write_jsonl(orders, path)
    back = read_jsonl(spark, path, orders.schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


register(
    "storage_jsonl_roundtrip",
    storage_jsonl_roundtrip,
    """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# storage_jsonl_badrecords — malformed-line policy e2e: a JSONL feed with
# planted garbage lines (every doc_id % 25 == 0 replaced by non-JSON) read
# back PERMISSIVE; bad lines surface as all-null rows that are counted and
# integrity-summed, never silently dropped. The oracle derives the same
# counts from the planting rule.
# ---------------------------------------------------------------------------
def storage_jsonl_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.jsonl import read_jsonl

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 25 == 0, F.lit("{corrupt not-json")
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang")))
        .alias("value")
    )
    path = tempfile.mkdtemp(prefix="jsonl_bad_") + "/feed"
    lines.write.mode("overwrite").text(path)
    back = read_jsonl(spark, path, "doc_id long, lang string", parse_mode="PERMISSIVE")
    return back.agg(
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("doc_id").isNotNull(), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum("doc_id").cast("long").alias("good_id_sum"),
    )


register(
    "storage_jsonl_badrecords",
    storage_jsonl_badrecords,
    """
SELECT CAST(sum(CASE WHEN doc_id % 25 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(sum(CASE WHEN doc_id % 25 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(sum(CASE WHEN doc_id % 25 <> 0 THEN doc_id END) AS BIGINT) AS good_id_sum
FROM documents
""",
)


# ---------------------------------------------------------------------------
# storage_histogram_drift — distribution drift between two order cohorts
# (operators/profile.py histogram_drift): shared integer-cent bin edges,
# exact ppm shares, per-bin L1 contribution. The PSI/KS monitoring check
# without transcendental folds.
# ---------------------------------------------------------------------------
_DRIFT_BINS = 20


def storage_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import histogram_drift

    orders = read_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    curr = orders.filter(F.col("o_orderkey") % 2 == 1)
    return histogram_drift(base, curr, "o_totalprice", bins=_DRIFT_BINS)


register(
    "storage_histogram_drift",
    storage_histogram_drift,
    f"""
WITH cents AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
edges AS (SELECT min(c) AS min_c, max(c) AS max_c FROM cents),
binned AS (
  SELECT o_orderkey % 2 AS cohort,
         least(((c - e.min_c) * {_DRIFT_BINS}) // (e.max_c - e.min_c + 1),
               {_DRIFT_BINS - 1}) AS bin
  FROM cents CROSS JOIN edges e
),
base AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_base FROM binned WHERE cohort = 0 GROUP BY bin
),
curr AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_curr FROM binned WHERE cohort = 1 GROUP BY bin
),
bt AS (SELECT CAST(sum(n_base) AS BIGINT) AS t FROM base),
ct AS (SELECT CAST(sum(n_curr) AS BIGINT) AS t FROM curr),
joined AS (
  SELECT COALESCE(b.bin, c.bin) AS bin,
         COALESCE(b.n_base, 0) AS n_base,
         COALESCE(c.n_curr, 0) AS n_curr,
         COALESCE((b.n_base * 1000000) // bt.t, 0) AS share_base_ppm,
         COALESCE((c.n_curr * 1000000) // ct.t, 0) AS share_curr_ppm
  FROM base b FULL OUTER JOIN curr c ON b.bin = c.bin
  CROSS JOIN bt CROSS JOIN ct
)
SELECT bin, n_base, n_curr, share_base_ppm, share_curr_ppm,
       abs(share_base_ppm - share_curr_ppm) AS l1_ppm
FROM joined
""",
)


# ---------------------------------------------------------------------------
# storage_equidepth_histogram — per-event-type equal-frequency histogram
# (operators/profile.py equidepth_histogram): exact interior percentile
# boundaries (dyadic fractions — identical interpolation in both engines),
# broadcast back, pure-projection bin assignment, (key, bin) hash agg.
# The equi-DEPTH complement of the equi-width histogram_drift profile.
# ---------------------------------------------------------------------------
def storage_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import equidepth_histogram

    ev = read_table(spark, sf_dir, "events")
    return equidepth_histogram(ev, key_col="event_type", value_col="value", bins=8)


register(
    "storage_equidepth_histogram",
    storage_equidepth_histogram,
    """
WITH nn AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
bounds AS (
  SELECT event_type,
         quantile_cont(value, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
  FROM nn GROUP BY event_type
),
binned AS (
  SELECT e.event_type, e.value,
         CAST(length(list_filter(b.bs, x -> x < e.value)) AS BIGINT) AS bin
  FROM nn e JOIN bounds b USING (event_type)
)
SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n_rows,
       min(value) AS min_v, max(value) AS max_v
FROM binned GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# storage_forget_user — right-to-be-forgotten propagation through the
# transaction log (sources/txn.py txn_delete_rows): events are committed
# as version 1 of a txn table, a deterministic deletion-request list
# (user_id % 97 = 0) is MERGE-DELETEd (anti join → new snapshot → version
# 2), and the OUTPUT is read back from the post-delete version — so the
# check covers the physical write path, not just the anti join.
# snapshot_diff between version 1 (time travel) and the latest version
# supplies the CDC evidence column (every changed key must classify as
# 'deleted', and their count is value-checked against the oracle's
# arithmetic). Nothing is registered in the session catalog.
# ---------------------------------------------------------------------------
def storage_forget_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.txn import txn_delete_rows, txn_init, txn_read
    from cyrela_etl_spark.sources.zones import snapshot_diff

    def build(store: ZoneStore) -> DataFrame:
        ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
        v0 = txn_init(store, "curated", "ev", ev)
        forget = ev.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
        txn_delete_rows(store, "curated", "ev", forget, "user_id")
        new_df = txn_read(store, "curated", "ev")
        old_df = txn_read(store, "curated", "ev", version=v0)
        cdc = snapshot_diff(old_df, new_df, key_cols=["event_id"])
        cdc_deleted = cdc.filter(F.col("change") == "deleted").agg(
            F.count(F.lit(1)).cast("long").alias("n_cdc_deleted_total")
        )
        after = new_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_after")
        )
        deleted = (
            old_df.join(forget, "user_id", "left_semi")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_deleted"),
                F.countDistinct("user_id").cast("long").alias("n_users_forgotten"),
            )
        )
        return (
            after.join(deleted, "event_type", "left")
            .crossJoin(F.broadcast(cdc_deleted))
            .select(
                "event_type",
                "n_after",
                F.coalesce("n_deleted", F.lit(0)).alias("n_deleted"),
                F.coalesce("n_users_forgotten", F.lit(0)).alias("n_users_forgotten"),
                "n_cdc_deleted_total",
            )
        )

    return _on_scratch_store(spark, "zone_forget_", build)


register(
    "storage_forget_user",
    storage_forget_user,
    """
WITH after AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_after
  FROM events WHERE user_id % 97 <> 0 GROUP BY 1
),
del AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_deleted,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_forgotten
  FROM events WHERE user_id % 97 = 0 GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cdc_deleted_total
  FROM events WHERE user_id % 97 = 0
)
SELECT a.event_type, a.n_after,
       COALESCE(d.n_deleted, 0) AS n_deleted,
       COALESCE(d.n_users_forgotten, 0) AS n_users_forgotten,
       t.n_cdc_deleted_total
FROM after a LEFT JOIN del d ON a.event_type = d.event_type
CROSS JOIN tot t
""",
)


# ---------------------------------------------------------------------------
# storage_winsorize_profile — per-event-type outlier-clip audit
# (operators/profile.py winsorize_profile): exact p05/p95 bounds (same
# engine-identical interpolation as agg_exact_median / equidepth), tail
# counts, decimal-exact inlier sum. One percentile agg + broadcast + one
# key agg.
# ---------------------------------------------------------------------------
def storage_winsorize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import winsorize_profile

    return winsorize_profile(
        read_table(spark, sf_dir, "events"), key_col="event_type", value_col="value"
    )


register(
    "storage_winsorize_profile",
    storage_winsorize_profile,
    """
WITH nn AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM nn GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       round(min(b.lo), 6) AS lo_bound,
       round(min(b.hi), 6) AS hi_bound,
       CAST(sum(CASE WHEN e.value >= b.lo AND e.value <= b.hi
                     THEN CAST(e.value AS DECIMAL(12,2)) END) AS DOUBLE) AS inlier_total
FROM nn e JOIN b USING (event_type)
GROUP BY e.event_type
""",
)


# ---------------------------------------------------------------------------
# storage_schema_evolution — schema-on-read evolution: a v1 batch lands
# WITHOUT o_orderpriority, a later v2 batch adds the column; the reader
# reconciles both footers with ``mergeSchema`` and v1 rows surface the
# evolved column as NULL. This is the lakehouse contract every long-lived
# 100 TB table depends on (columns only ever widen; old files are never
# rewritten). The oracle replays the same two-generation split straight
# off orders with a CASE. A reader that drops the evolved column (schema
# from a single random footer — Spark's default without mergeSchema) or
# defaults it to anything but NULL breaks the group keys.
#
# Plan: two parquet writes + ONE merged scan + one hash agg; the scan
# prunes to the 3 referenced columns (ReadSchema), evolution is
# footer-metadata work, not a data rewrite.
# ---------------------------------------------------------------------------
def storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="schema_evo_") + "/orders_evolving"
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.parquet(f"{root}/gen=1")
    v2.write.parquet(f"{root}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total_price"),
        F.max("o_orderkey").alias("max_key"),
    )


register(
    "storage_schema_evolution",
    storage_schema_evolution,
    """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE '<pre-evolution>' END AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY 1
""",
)


def sql_hex64_storage(expr: str) -> str:
    """DuckDB twin of hashing.hex_prefix_long (60-bit md5 prefix) — same
    spelling as queries/textq.py's sql_hex64, local to avoid a cross-module
    import at register time."""
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# storage_integrity_checksum — order-insensitive row-level fingerprint per
# partition group: XOR-fold of a portable 60-bit row hash (md5 of the
# canonical '|'-joined row rendering; functions/hashing.py) plus row
# count and key range. The audit primitive for cross-system reconciliation
# at 100 TB — two engines (or two replicas of a zone table) agree iff
# every ROW agrees, verified without moving either side's data: each side
# reduces to one 8-byte digest per group, and XOR is commutative/
# associative so the fold is partition-order-free (safe under any shuffle
# or file ordering). Floats are rendered through DECIMAL(12,2) so both
# engines hash identical strings.
#
# Plan: zero joins — one projection (md5 is JVM codegen) + one hash agg
# with map-side partial XOR; shuffle carries |groups| rows of 8-byte
# digests, never data.
# ---------------------------------------------------------------------------
def storage_integrity_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.hashing import hex_prefix_long

    orders = read_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.col("o_orderpriority"),
    )
    return (
        orders.select("o_orderstatus", hex_prefix_long(row_repr).alias("h"), "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("xor_digest"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


register(
    "storage_integrity_checksum",
    storage_integrity_checksum,
    f"""
SELECT o_orderstatus,
       count(*) AS n_rows,
       bit_xor({sql_hex64_storage("concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), o_orderpriority)")}) AS xor_digest,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# storage_correlation_profile — Pearson correlation matrix over lineitem's
# numeric measures, computed from EXACT decimal co-moment sums (n, Σx, Σy,
# Σx², Σy², Σxy — each a DECIMAL(38,8) sum of decimal-cast inputs, so the
# single-pass accumulation is association-free and engine-identical);
# corr falls out as a fixed-form IEEE expression over the six exact sums
# (two correctly-rounded sqrts + one division — bit-identical everywhere,
# then the defensive round). The textbook one-pass formula's
# catastrophic-cancellation hazard doesn't apply: the sums are EXACT
# decimals, cancellation happens once in binary64 at the end instead of
# accumulating per-row. Feature-correlation audits are standard corpus
# profiling; native corr() is float-accumulation-order-dependent and
# could never hash-match across engines.
#
# Plan: ONE full-scan agg producing a single 10-sum row (map-side partial
# combine; shuffle carries one row), then a 3-row explode of the pair
# matrix — no joins, no second scan.
# ---------------------------------------------------------------------------
def storage_correlation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(12,2)").alias("q"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("p"),
        F.col("l_discount").cast("decimal(12,4)").alias("d"),
    )

    def s(col):  # exact co-moment sum
        return F.sum(col.cast("decimal(38,8)"))

    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        s(F.col("q")).alias("sq"),
        s(F.col("p")).alias("sp"),
        s(F.col("d")).alias("sd"),
        s(F.col("q") * F.col("q")).alias("sqq"),
        s(F.col("p") * F.col("p")).alias("spp"),
        s(F.col("d") * F.col("d")).alias("sdd"),
        s(F.col("q") * F.col("p")).alias("sqp"),
        s(F.col("q") * F.col("d")).alias("sqd"),
        s(F.col("p") * F.col("d")).alias("spd"),
    )
    pairs = sums.select(
        F.col("n").cast("double").alias("n"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("col_x"),
                    F.lit("l_extendedprice").alias("col_y"),
                    F.col("sq").cast("double").alias("sx"),
                    F.col("sp").cast("double").alias("sy"),
                    F.col("sqq").cast("double").alias("sxx"),
                    F.col("spp").cast("double").alias("syy"),
                    F.col("sqp").cast("double").alias("sxy"),
                ),
                F.struct(
                    F.lit("l_quantity").alias("col_x"),
                    F.lit("l_discount").alias("col_y"),
                    F.col("sq").cast("double").alias("sx"),
                    F.col("sd").cast("double").alias("sy"),
                    F.col("sqq").cast("double").alias("sxx"),
                    F.col("sdd").cast("double").alias("syy"),
                    F.col("sqd").cast("double").alias("sxy"),
                ),
                F.struct(
                    F.lit("l_extendedprice").alias("col_x"),
                    F.lit("l_discount").alias("col_y"),
                    F.col("sp").cast("double").alias("sx"),
                    F.col("sd").cast("double").alias("sy"),
                    F.col("spp").cast("double").alias("sxx"),
                    F.col("sdd").cast("double").alias("syy"),
                    F.col("spd").cast("double").alias("sxy"),
                ),
            )
        ).alias("m"),
    )
    corr = (F.col("m.n") * F.col("m.sxy") - F.col("m.sx") * F.col("m.sy")) / (
        F.sqrt(F.col("m.n") * F.col("m.sxx") - F.col("m.sx") * F.col("m.sx"))
        * F.sqrt(F.col("m.n") * F.col("m.syy") - F.col("m.sy") * F.col("m.sy"))
    )
    return pairs.select(
        F.struct(
            F.col("m.col_x").alias("col_x"),
            F.col("m.col_y").alias("col_y"),
            F.col("n").alias("n"),
            F.col("m.sx").alias("sx"),
            F.col("m.sy").alias("sy"),
            F.col("m.sxx").alias("sxx"),
            F.col("m.syy").alias("syy"),
            F.col("m.sxy").alias("sxy"),
        ).alias("m")
    ).select(
        F.col("m.col_x").alias("col_x"),
        F.col("m.col_y").alias("col_y"),
        F.col("m.n").cast("long").alias("n_rows"),
        F.round(corr, 6).alias("pearson_corr"),
    )


def _corr_oracle() -> str:
    sums = """
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(q AS DECIMAL(38,8))) AS DOUBLE) AS sq,
         CAST(sum(CAST(p AS DECIMAL(38,8))) AS DOUBLE) AS sp,
         CAST(sum(CAST(d AS DECIMAL(38,8))) AS DOUBLE) AS sd,
         CAST(sum(CAST(q * q AS DECIMAL(38,8))) AS DOUBLE) AS sqq,
         CAST(sum(CAST(p * p AS DECIMAL(38,8))) AS DOUBLE) AS spp,
         CAST(sum(CAST(d * d AS DECIMAL(38,8))) AS DOUBLE) AS sdd,
         CAST(sum(CAST(q * p AS DECIMAL(38,8))) AS DOUBLE) AS sqp,
         CAST(sum(CAST(q * d AS DECIMAL(38,8))) AS DOUBLE) AS sqd,
         CAST(sum(CAST(p * d AS DECIMAL(38,8))) AS DOUBLE) AS spd
  FROM (SELECT CAST(l_quantity AS DECIMAL(12,2)) AS q,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
               CAST(l_discount AS DECIMAL(12,4)) AS d
        FROM lineitem)
"""
    pair = (
        "SELECT '{x}' AS col_x, '{y}' AS col_y, CAST(n AS BIGINT) AS n_rows,\n"
        "       round((n * {sxy} - {sx} * {sy})\n"
        "             / (sqrt(n * {sxx} - {sx} * {sx})\n"
        "                * sqrt(n * {syy} - {sy} * {sy})), 6) AS pearson_corr\n"
        "FROM s"
    )
    legs = [
        pair.format(x="l_quantity", y="l_extendedprice", sx="sq", sy="sp", sxx="sqq", syy="spp", sxy="sqp"),
        pair.format(x="l_quantity", y="l_discount", sx="sq", sy="sd", sxx="sqq", syy="sdd", sxy="sqd"),
        pair.format(x="l_extendedprice", y="l_discount", sx="sp", sy="sd", sxx="spp", syy="sdd", sxy="spd"),
    ]
    return f"WITH s AS ({sums})\n" + "\nUNION ALL\n".join(legs)


register("storage_correlation_profile", storage_correlation_profile, _corr_oracle())


# ---------------------------------------------------------------------------
# storage_orc_roundtrip — ORC source/sink e2e (Spark's second native
# columnar format; the reference stack is CSV-only, so this is extension
# scope): lineitem columns → ORC write (zlib, the Spark default) →
# schema-preserving read-back → decimal-exact re-aggregation. DuckDB
# cannot read ORC, so the oracle is the aggregate-parity form the CSV
# roundtrip established: any writer/reader corruption (type mangling,
# row loss, encoding drift) breaks the hash. Predicate pushdown into ORC
# scans is asserted separately (tests) — this row pins data fidelity.
# ---------------------------------------------------------------------------
def storage_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/lineitem"
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(li.schema).orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
        F.min("l_orderkey").cast("long").alias("min_key"),
        F.max("l_orderkey").cast("long").alias("max_key"),
    )


register(
    "storage_orc_roundtrip",
    storage_orc_roundtrip,
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
       CAST(min(l_orderkey) AS BIGINT) AS min_key,
       CAST(max(l_orderkey) AS BIGINT) AS max_key
FROM lineitem
GROUP BY l_returnflag
""",
)


# ---------------------------------------------------------------------------
# storage_csv_dialect — CSV QUOTING fidelity e2e: every row gets a
# deterministically constructed hostile payload (embedded delimiter,
# double quote, and a REAL newline) appended to its priority; the engine
# writes quoted CSV and reads it back with multiLine + escape handling.
# The verdict is a 60-bit md5 XOR digest of the round-tripped payloads —
# the oracle computes the same digest from the ORIGINAL construction, so
# any quoting/escaping/newline-splitting corruption (the classic CSV
# production failure: a payload newline read as a row boundary) changes
# n_rows or the digest. The dialect-hardening sibling of
# storage_csv_roundtrip's type-fidelity check.
# ---------------------------------------------------------------------------
def storage_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.hashing import hex_prefix_long

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    payload = F.concat(
        F.lit('a,"b'),
        F.lit("\n"),
        F.col("o_orderpriority"),
        F.lit('",'),
        F.col("o_orderkey").cast("string"),
    )
    hostile = orders.select("o_orderkey", "o_orderstatus", payload.alias("payload"))
    path = tempfile.mkdtemp(prefix="csv_dialect_") + "/orders"
    # RFC-4180 dialect EXPLICITLY on both legs: Spark's writer default
    # escapes embedded quotes with backslash, not by doubling — an
    # asymmetric reader (escape='"') would split payload rows (the exact
    # corruption this query exists to catch; found live on first verify)
    hostile.write.option("header", True).option("quoteAll", True).option(
        "escape", '"'
    ).mode("overwrite").csv(path)
    back = (
        spark.read.schema(hostile.schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor(hex_prefix_long(F.col("payload"))).alias("payload_digest"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


_CSV_DIALECT_PAYLOAD_SQL = (
    "concat('a,\"b', chr(10), o_orderpriority, '\",', CAST(o_orderkey AS VARCHAR))"
)

register(
    "storage_csv_dialect",
    storage_csv_dialect,
    f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor({sql_hex64_storage(_CSV_DIALECT_PAYLOAD_SQL)}) AS payload_digest,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM orders
GROUP BY o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# storage_hive_partition_roundtrip — hive-style partitionBy write → read
# back through the PARTITIONED layout with a partition-key filter (the
# layout the planning-time PartitionFilters pruning proof in
# tests/test_partition_pruning.py measures, now also a DECLARED relation):
# events written partitioned by event_type, one partition read back and
# re-aggregated decimal-exactly. Partition columns come back from
# DIRECTORY NAMES, so this also pins partition-value encoding fidelity
# (a mangled partition path changes the group counts).
# ---------------------------------------------------------------------------
def storage_hive_partition_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id", "value")
    path = tempfile.mkdtemp(prefix="hive_rt_") + "/events"
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type").isin("click", "purchase"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        F.min("event_id").cast("long").alias("min_event_id"),
    )


register(
    "storage_hive_partition_roundtrip",
    storage_hive_partition_roundtrip,
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(min(event_id) AS BIGINT) AS min_event_id
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
)


# ---------------------------------------------------------------------------
# storage_nested_json_flatten — NESTED semi-structured e2e: orders and
# their lineitems are serialized as nested JSON documents ({order,
# status, lines:[{part, qty}...]}), written as JSONL through to_json,
# read back with an explicit NESTED schema (struct + array<struct>), the
# line array EXPLODED, and re-aggregated decimal-exactly. Exercises the
# full document-shape path the flat JSONL roundtrip can't: nested field
# access, array-of-struct decoding, and explode — the shape every
# event-payload/API-dump ingest has. Lines are array_sorted before
# serialization so the document bytes are deterministic.
# ---------------------------------------------------------------------------
def storage_nested_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    lines = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("l_partkey").alias("part"), F.col("l_quantity").alias("qty"))
            )
        ).alias("lines")
    )
    docs = orders.join(lines, orders["o_orderkey"] == lines["l_orderkey"]).select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("order"),
                F.col("o_orderstatus").alias("status"),
                F.col("lines"),
            )
        ).alias("value")
    )
    path = tempfile.mkdtemp(prefix="nested_json_") + "/orders"
    docs.write.mode("overwrite").text(path)
    schema = (
        "order BIGINT, status STRING, lines ARRAY<STRUCT<part: BIGINT, qty: DOUBLE>>"
    )
    back = spark.read.schema(schema).json(path)
    flat = back.select("order", "status", F.explode("lines").alias("line"))
    return flat.groupBy("status").agg(
        F.count_distinct("order").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("line.qty").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        F.max("line.part").cast("long").alias("max_part"),
    )


register(
    "storage_nested_json_flatten",
    storage_nested_json_flatten,
    """
SELECT o.o_orderstatus AS status,
       CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
       CAST(max(l.l_partkey) AS BIGINT) AS max_part
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
""",
)


# ---------------------------------------------------------------------------
# storage_txn_acid — the optimistic-concurrency commit protocol
# (sources/txn.py, VERDICT r7 item 3 / r8 item 2) driven END-TO-END under
# the oracle: a manifest-log table is INITialized from an orders subset,
# an optimistic UPSERT bumps every 10th order's total, an APPEND commit
# (round 10: the Delta add-file path — only the new rows are written, the
# manifest chains the delta dir, the read unions the chain) adds the next
# 1000-key order block, a MERGE-DELETE forgets every 7th key, and the
# LATEST version is read back through the manifest and aggregated per
# status. The oracle replays the same four commits relationally, so the
# merge semantics, the chain-read path and the delete semantics are all
# value-certified (the two-writer conflict races live in
# tests/test_txn_acid.py — races are not oracle-expressible, but the
# committed-state algebra is). n_versions pins the manifest log length:
# init + upsert + append + delete = 4. The delete commit writes a full
# snapshot, so it also exercises the chain reset.
# ---------------------------------------------------------------------------
def storage_txn_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.txn import (
        latest_version,
        txn_append,
        txn_delete_rows,
        txn_init,
        txn_read,
        txn_upsert,
    )

    def build(store: ZoneStore) -> DataFrame:
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        base = orders.filter(F.col("o_orderkey") <= 20000)
        txn_init(store, "curated", "ord", base)
        updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        v = txn_upsert(store, "curated", "ord", updates, "o_orderkey")
        extra = orders.filter(
            (F.col("o_orderkey") > 20000) & (F.col("o_orderkey") <= 21000)
        )
        txn_append(store, "curated", "ord", extra, read_version=v)
        forget_src = base.unionByName(extra)
        forget = forget_src.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
        txn_delete_rows(store, "curated", "ord", forget, "o_orderkey")
        n_versions = latest_version(store, "curated", "ord")
        return (
            txn_read(store, "curated", "ord")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .withColumn("n_versions", F.lit(n_versions).cast("long"))
        )

    return _on_scratch_store(spark, "txn_acid_q_", build)


register(
    "storage_txn_acid",
    storage_txn_acid,
    """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey <= 20000
),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 10 <> 0
),
appended AS (
  SELECT * FROM merged
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey > 20000 AND o_orderkey <= 21000
),
final AS (SELECT * FROM appended WHERE o_orderkey % 7 <> 0)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(4 AS BIGINT) AS n_versions
FROM final
GROUP BY o_orderstatus
""",
)
