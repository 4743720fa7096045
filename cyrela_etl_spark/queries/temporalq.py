"""Temporal queries over `events`: as-of join, bucketized range join, and
time-bucket rollup — each with a DuckDB oracle (DuckDB's native ASOF JOIN
is the as-of oracle, which is the strongest cross-check available: a
different algorithm computing the same relation).

Determinism: the only float aggregate (rollup sum) goes through
DECIMAL(12,2); everything else is ints/timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.operators.temporal import asof_join, range_join_buckets, time_bucket
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table


# ---------------------------------------------------------------------------
# temporal_asof_join — for each click, the user's most recent purchase value
# at or before the click. Union-merge plan (one shuffle) vs DuckDB ASOF JOIN.
# ---------------------------------------------------------------------------
def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_value_cols=["p_value"],
        suffix="",
    )
    return out.select("event_id", "user_id", "ts", "value", F.col("p_value").alias("last_purchase_value"))


register(
    "temporal_asof_join",
    temporal_asof_join,
    """
WITH clicks AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts, c.value, p.p_value AS last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND p.p_ts <= c.ts
""",
)


# ---------------------------------------------------------------------------
# temporal_range_join — (view, click) pairs for the same user with the click
# inside [view_ts, view_ts + 30 min). Bucketized equi-join plan vs DuckDB's
# plain inequality join.
# ---------------------------------------------------------------------------
_WINDOW_S = 1800


def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"), "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"), F.col("user_id").alias("c_user_id")
    )
    # range_join_buckets matches on a shared key column name; align names.
    out = range_join_buckets(
        views,
        clicks.withColumnRenamed("c_user_id", "user_id"),
        on="user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        window_seconds=_WINDOW_S,
    )
    return out.select(
        F.col("l.view_id").alias("view_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.click_id").alias("click_id"),
    )


register(
    "temporal_range_join",
    temporal_range_join,
    f"""
SELECT v.event_id AS view_id, v.user_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts < v.ts + INTERVAL {_WINDOW_S} SECONDS
""",
)


# ---------------------------------------------------------------------------
# temporal_time_bucket — tumbling 1-hour rollup per event_type (the
# hypertable continuous-aggregate pattern as a plain groupBy; the identical
# builder runs under Structured Streaming in streamingq).
# ---------------------------------------------------------------------------
def temporal_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            time_bucket("ts", "1 hour").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


register(
    "temporal_time_bucket",
    temporal_time_bucket,
    """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# temporal_gap_fill — resample with zero-filled missing buckets per key
# (time_bucket_gapfill analogue): calendar spine via per-key sequence
# explode, never a global calendar materialization.
# ---------------------------------------------------------------------------
def temporal_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.temporal import gap_fill

    return gap_fill(read_table(spark, sf_dir, "events"), width="1 hour")


register(
    "temporal_gap_fill",
    temporal_gap_fill,
    """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM r
)
SELECT s.event_type, s.bucket, CAST(coalesce(b.n, 0) AS BIGINT) AS n_events
FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
""",
)


# ---------------------------------------------------------------------------
# temporal_sessionize — BATCH sessionization by inactivity gap (the batch
# twin of the streaming session_window, so backfill and live streams agree
# on session boundaries): a session break is a >30-minute gap since the
# user's previous event; session index = running count of breaks. Two
# window passes over one shuffle on user_id; ties broken by event_id.
# ---------------------------------------------------------------------------
def temporal_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_break = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessions = ev.withColumn("session_idx", F.sum(is_break).over(w))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


register(
    "temporal_sessionize",
    temporal_sessionize,
    """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM s
GROUP BY user_id, session_idx
""",
)


# ---------------------------------------------------------------------------
# temporal_ohlc — per-event-type hourly OHLC bars (operators/temporal.py
# ohlc_downsample). Open/close via deterministic row_number (ts, event_id),
# turnover through DECIMAL(12,2); the oracle mirrors the same windows.
# ---------------------------------------------------------------------------
def temporal_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.temporal import ohlc_downsample

    return ohlc_downsample(
        read_table(spark, sf_dir, "events"), key_cols=["event_type"], width="1 hour"
    ).select(
        "event_type",
        "bucket_start",
        "open",
        "high",
        "low",
        "close",
        F.col("n_events").cast("long").alias("n_events"),
        "turnover",
    )


register(
    "temporal_ohlc",
    temporal_ohlc,
    """
WITH marked AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS turnover
FROM marked
GROUP BY event_type, bucket_start
""",
)


# ---------------------------------------------------------------------------
# events_anomaly_zscore — per-event-type outlier detection (operators/
# profile.py zscore_anomalies): moments from exact decimal sums, z-scores
# rounded before thresholding; output sized to the anomalies.
# ---------------------------------------------------------------------------
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import zscore_anomalies

    return zscore_anomalies(
        read_table(spark, sf_dir, "events"),
        key_col="event_type",
        value_col="value",
        id_col="event_id",
        z=2.0,
    )


register(
    "events_anomaly_zscore",
    events_anomaly_zscore,
    """
WITH stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS q
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, s / n AS mean,
         sqrt((n * q - s * s) / (n * (n - 1))) AS std
  FROM stats
  WHERE n > 1 AND sqrt((n * q - s * s) / (n * (n - 1))) > 0
)
SELECT e.event_id, e.event_type, e.value,
       round(m.mean, 6) AS key_mean,
       round((e.value - m.mean) / m.std, 6) AS zscore
FROM events e JOIN m ON e.event_type = m.event_type
WHERE abs(round((e.value - m.mean) / m.std, 6)) > 2.0
""",
)


# ---------------------------------------------------------------------------
# events_anomaly_mad — robust per-type outliers (operators/profile.py
# mad_anomalies; Iglewicz & Hoaglin 1993 modified z-score): medians
# instead of moments, so heavy-tailed spikes can't mask each other the
# way they inflate zscore_anomalies' σ. Exact interpolating percentiles
# on both engines (the agg_exact_median parity); MAD=0 keys dropped.
# ---------------------------------------------------------------------------
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.profile import mad_anomalies

    return mad_anomalies(
        read_table(spark, sf_dir, "events"),
        key_col="event_type",
        value_col="value",
        id_col="event_id",
        threshold=3.5,
    )


register(
    "events_anomaly_mad",
    events_anomaly_mad,
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS ad
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type
  HAVING quantile_cont(ad, 0.5) > 0
)
SELECT d.event_id, d.event_type, d.value,
       round(d.med, 6) AS key_median,
       round(m.mad, 6) AS key_mad,
       round(0.6745 * ((d.value - d.med) / m.mad), 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE abs(round(0.6745 * ((d.value - d.med) / m.mad), 6)) > 3.5
""",
)


# ---------------------------------------------------------------------------
# temporal_cusum_drift — CUSUM drift detection (Page 1954, "Continuous
# inspection schemes") over per-type DAILY event counts, in EXACT INTEGER
# arithmetic end to end. The textbook recursive form
# s_i = max(0, s_{i-1} + (x_i − target − k)) is replaced by its
# closed-form window identity s_i = S_i − min(0, min_{j≤i} S_j) over the
# prefix sums S of the slack-adjusted deviations — so the whole detector
# is one cumulative sum + one running min per side, NO fold, and the
# oracle replays it with the same two windows. Both one-sided detectors
# (level-up, level-down) share the per-type window; target = integer
# mean daily count, slack k = 5% of target (floored at 1), alarm
# threshold h = 5k — the standard CUSUM parameterization, all named
# knobs. Peaks are exact int64s; the alarm is an integer comparison.
#
# Plan: daily hash agg (1 shuffle) → per-type stats agg broadcast back →
# ONE per-type window exchange carrying all four window columns → final
# per-type agg. Output is type-sized.
# ---------------------------------------------------------------------------
def temporal_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    # r14 tail diet: daily feeds the per-type stats AND the deviation
    # join — persist (type x day rows) or the event-scale daily agg runs
    # twice. release: caller
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x")).persist()
    stats = (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("x").cast("long").alias("total"),
        )
        .withColumn("target", F.expr("total div n_days").cast("long"))
        .withColumn("k", F.greatest(F.expr("target div 20"), F.lit(1)).cast("long"))
    )
    d = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_days",
        "target",
        "k",
        (F.col("x") - F.col("target") - F.col("k")).alias("dh"),
        (F.col("target") - F.col("x") - F.col("k")).alias("dl"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    c1 = d.select(
        "event_type",
        "day",
        "n_days",
        "target",
        "k",
        F.sum("dh").over(w).alias("sh"),
        F.sum("dl").over(w).alias("sl"),
    )
    c2 = c1.select(
        "event_type",
        "n_days",
        "target",
        "k",
        (F.col("sh") - F.least(F.min("sh").over(w), F.lit(0))).alias("cus_h"),
        (F.col("sl") - F.least(F.min("sl").over(w), F.lit(0))).alias("cus_l"),
    )
    out = c2.groupBy("event_type", "n_days", "target", "k").agg(
        F.max("cus_h").cast("long").alias("peak_high"),
        F.max("cus_l").cast("long").alias("peak_low"),
    )
    return out.select(
        "event_type",
        "n_days",
        F.col("target").alias("target_per_day"),
        F.col("k").alias("slack_k"),
        "peak_high",
        "peak_low",
        (
            (F.col("peak_high") > 5 * F.col("k")) | (F.col("peak_low") > 5 * F.col("k"))
        ).alias("drift_alarm"),
    )


register(
    "temporal_cusum_drift",
    temporal_cusum_drift,
    """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(CAST(sum(x) AS BIGINT) // count(*) AS BIGINT) AS target
  FROM daily GROUP BY event_type
),
keyed AS (
  SELECT event_type, n_days, target,
         greatest(target // 20, 1) AS k
  FROM stats
),
d AS (
  SELECT dd.event_type, dd.day, s.n_days, s.target, s.k,
         dd.x - s.target - s.k AS dh,
         s.target - dd.x - s.k AS dl
  FROM daily dd JOIN keyed s USING (event_type)
),
c1 AS (
  SELECT event_type, day, n_days, target, k,
         CAST(sum(dh) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS sh,
         CAST(sum(dl) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS sl
  FROM d
),
c2 AS (
  SELECT event_type, n_days, target, k,
         sh - least(min(sh) OVER (PARTITION BY event_type ORDER BY day), 0) AS cus_h,
         sl - least(min(sl) OVER (PARTITION BY event_type ORDER BY day), 0) AS cus_l
  FROM c1
)
SELECT event_type, n_days,
       target AS target_per_day,
       k AS slack_k,
       CAST(max(cus_h) AS BIGINT) AS peak_high,
       CAST(max(cus_l) AS BIGINT) AS peak_low,
       (CAST(max(cus_h) AS BIGINT) > 5 * k OR CAST(max(cus_l) AS BIGINT) > 5 * k) AS drift_alarm
FROM c2
GROUP BY event_type, n_days, target, k
""",
)


# ---------------------------------------------------------------------------
# events_funnel — ordered conversion funnel (view → click → purchase):
# per user, the first view, the first click AT OR AFTER that view, and the
# first purchase at or after that click; output is the stage-survival
# count row. ONE shuffle: per-user collect of (type, ts) structs, then the
# sequential stage logic runs as array expressions (array_min over
# filtered arrays — deterministic, no re-scan per stage; a join-per-stage
# formulation would rescan events three times).
# ---------------------------------------------------------------------------
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "view", F.col("ts")))
        ).alias("views"),
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("clicks"),
        F.array_sort(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("purchases"),
    )
    staged = (
        per_user.select(
            "user_id",
            "purchases",
            F.element_at("views", 1).alias("first_view"),
            F.array_min(
                F.filter("clicks", lambda t: t >= F.element_at("views", 1))
            ).alias("first_click"),
        )
        .select(
            "user_id",
            "first_view",
            "first_click",
            F.array_min(
                F.filter("purchases", lambda t: t >= F.col("first_click"))
            ).alias("first_purchase"),
        )
    )
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("first_view").isNotNull(), 1).otherwise(0)).cast("long").alias("n_view"),
        F.sum(F.when(F.col("first_click").isNotNull(), 1).otherwise(0)).cast("long").alias("n_view_click"),
        F.sum(F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)).cast("long").alias("n_full_funnel"),
    )


register(
    "events_funnel",
    events_funnel,
    """
WITH v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.first_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN v.first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN c.first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN p.first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)


# ---------------------------------------------------------------------------
# events_attribution — last-touch revenue attribution: every purchase is
# credited to the user's LATEST click at-or-before it and within a 7-day
# lookback; purchases with no qualifying click go to channel -1 (direct).
# Channel = props.k % 10 (the synthetic campaign id).
#
# Plan: the union-merge as-of pattern (same as temporal_asof_join) — tag
# clicks 0 / purchases 1, ONE per-user shuffle, a running last-non-null
# window ordered (ts, tag, event_id) carries the latest click's ts+channel
# onto each purchase row (clicks sort before purchases at equal ts, so
# "at or before" includes ties; the event_id leg makes same-ts click ties
# deterministic), then the lookback check and the channel agg are pure
# projections. A join-per-purchase formulation would rescan clicks per
# row; this is one pass.
# ---------------------------------------------------------------------------
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    channel = (F.get_json_object("props", "$.k").cast("long") % 10).alias("channel")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", channel, F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("tag"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(None).cast("long").alias("channel"),
        "value", F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).select(
        "*",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
        F.last(F.when(F.col("tag") == 0, F.col("channel")), ignorenulls=True)
        .over(w)
        .alias("last_click_channel"),
    )
    attributed = merged.filter(F.col("tag") == 1).select(
        F.when(
            F.col("last_click_ts").isNotNull()
            & (F.col("last_click_ts") + F.expr("INTERVAL 7 DAYS") > F.col("ts")),
            F.col("last_click_channel"),
        )
        .otherwise(-1)
        .alias("channel"),
        "value",
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
    )


register(
    "events_attribution",
    events_attribution,
    """
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS channel
  FROM events WHERE event_type = 'click'
),
p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
att AS (
  SELECT p.event_id, p.value,
         (SELECT c.channel FROM c
          WHERE c.user_id = p.user_id AND c.ts <= p.ts
                AND c.ts + INTERVAL 7 DAY > p.ts
          ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS channel
  FROM p
)
SELECT COALESCE(channel, -1) AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM att GROUP BY 1
""",
)


# ---------------------------------------------------------------------------
# events_retention_cohorts — weekly cohort retention matrix: users are
# cohorted by the Monday-truncated week of their FIRST event; for each
# (cohort_week, week_offset) the count of cohort members active that week
# and the retention ratio. The product-analytics staple (Amplitude/Mixpanel
# retention view) as two key-aligned aggregates.
#
# Plan: first-event agg and per-(user, week) activity dedup both shuffle on
# user_id-led keys (data-sized, unavoidable — per-user state); the
# cohort→activity join is a per-user equi join; everything above it
# (cohort sizes, the matrix itself) is O(weeks²) rows, and the size table
# joins back broadcast. No window functions, no global sort. Retention is
# one IEEE division of two exact counts, rounded on both engines.
# ---------------------------------------------------------------------------
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cohort = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", F.date_trunc("week", "first_ts").alias("cohort_week"))
        # r14 tail diet: cohort feeds the matrix join AND the cohort
        # sizes — persist or the first-touch agg over the event stream
        # runs twice. release: caller
        .persist()
    )
    activity = ev.select("user_id", F.date_trunc("week", "ts").alias("week")).distinct()
    matrix = (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).cast("long").alias("cohort_size"))
    return matrix.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


register(
    "events_retention_cohorts",
    events_retention_cohorts,
    """
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
),
matrix AS (
  SELECT c.cohort_week,
         CAST(date_diff('day', c.cohort_week, a.week) / 7 AS BIGINT) AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM activity a JOIN cohort c ON a.user_id = c.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY 1
)
SELECT m.cohort_week, m.week_offset, m.n_active, s.cohort_size,
       round(m.n_active / s.cohort_size, 6) AS retention
FROM matrix m JOIN sizes s ON m.cohort_week = s.cohort_week
""",
)


# ---------------------------------------------------------------------------
# events_markov_transitions — first-order event-type transition matrix:
# for each user's event sequence ordered (ts, event_id), count
# (from_type → to_type) adjacencies and normalize per from-state. The
# user-journey / process-mining primitive (a Markov chain estimated by
# maximum likelihood).
#
# Plan: ONE per-user window shuffle computes lead(); the transition agg is
# at most |types|² rows and its per-from-state totals join back broadcast.
# prob is one IEEE division of exact counts, rounded on both engines.
# ---------------------------------------------------------------------------
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    # r14 tail diet: trans (|types|^2 rows) feeds the from-state totals
    # AND the output join — persist or the per-user lead() window runs
    # twice. release: caller
    trans = (
        pairs.groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .persist()
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from")
    )
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(F.col("n_transitions") / F.col("n_from"), 6).alias("prob"),
    )


register(
    "events_markov_transitions",
    events_markov_transitions,
    """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_from FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n_transitions,
       round(t.n_transitions / x.n_from, 6) AS prob
FROM trans t JOIN totals x ON t.from_type = x.from_type
""",
)


# ---------------------------------------------------------------------------
# temporal_ewma — per-user exponentially weighted moving average of `value`
# (alpha = 0.2): ewma_1 = x_1; ewma_i = alpha*x_i + (1-alpha)*ewma_{i-1};
# the final smoothed level per user. The recurrence is evaluated as an
# ORDERED LEFT FOLD on both engines (Spark `aggregate` HOF over the
# (ts, event_id)-sorted value array; DuckDB `list_reduce` over
# `list(value ORDER BY ts, event_id)`, whose implicit seed is the first
# element — exactly ewma_1 = x_1), so the double arithmetic is performed
# in the identical order and the results agree bit-for-bit before the
# defensive round. This avoids the classic cumsum/log-domain EWMA trick,
# whose (1-a)^{-i} renormalizer overflows past ~3500 events per key.
#
# Plan: ONE per-user shuffle (the collect_list agg); the fold is a scalar
# expression — no second window pass, no join. Scale note: per-key state
# is the user's event array (bounded by per-user activity, same contract
# as events_funnel); for unbounded keys the streaming twin is
# stream_stateful_running's applyInPandasWithState path.
# ---------------------------------------------------------------------------
_EWMA_ALPHA = 0.2


def temporal_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("seq")
    )
    vals = F.col("seq").getField("value")
    a = F.lit(_EWMA_ALPHA)
    ewma = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
    )
    return per_user.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


register(
    "temporal_ewma",
    temporal_ewma,
    f"""
WITH seq AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       round(list_reduce(vals,
             (acc, x) -> CAST({_EWMA_ALPHA} AS DOUBLE) * x
                         + CAST({1.0 - _EWMA_ALPHA} AS DOUBLE) * acc), 6) AS ewma_value
FROM seq
""",
)


# ---------------------------------------------------------------------------
# temporal_scd2_intervals — slowly-changing-dimension type-2 compression of
# a change log: collapse each user's consecutive run of equal event_type
# into one [valid_from, valid_to) validity interval (valid_to = next run's
# start, NULL for the current open interval). The gaps-and-islands pattern
# every CDC→dimension pipeline needs to turn an event stream into an SCD2
# dimension table.
#
# Plan: run boundaries and run ids come from ONE per-user window pass
# (lag + running sum over the same (user_id; ts, event_id) sort — one
# shuffle, one sort); the run-level agg and the lead() for valid_to reuse
# the user_id partitioning. No joins, no driver collect.
# ---------------------------------------------------------------------------
def temporal_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = (
        ev.withColumn("run_id", F.sum(changed).over(w))
        .groupBy("user_id", "run_id", "event_type")
        .agg(
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    w_runs = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        F.col("run_id").cast("long").alias("run_id"),
        F.col("event_type").alias("attr_value"),
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
        "n_events",
    )


register(
    "temporal_scd2_intervals",
    temporal_scd2_intervals,
    """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id,
         CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS run_id,
         ts, event_type
  FROM marked
),
agg AS (
  SELECT user_id, run_id, event_type AS attr_value,
         min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, run_id, attr_value, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
       n_events
FROM agg
""",
)


# ---------------------------------------------------------------------------
# temporal_interpolate — gap-fill with LINEAR INTERPOLATION (the
# hypertable `interpolate()` analogue, where temporal_gap_fill is the
# zero-fill one): per event_type, the hourly mean of `value` with missing
# buckets linearly interpolated between the nearest observed neighbors.
#
# Determinism: observed means are exact-decimal sums ÷ counts; the
# interpolation pv + (nv − pv)·frac uses a fixed operation order and frac
# is one division of exact epoch-second ints; everything rounds to 6 on
# both engines. Every missing bucket has both neighbors because the spine
# spans each key's own [min, max] (temporal.gap_fill's construction).
#
# Plan: counts agg + per-key spine explode + left join (all keyed by
# event_type), then ONE window pass computing both the
# last-non-null-preceding and first-non-null-following carries. No global
# calendar, no driver loop.
# ---------------------------------------------------------------------------
def temporal_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    vals = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket")).agg(
        (
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    spine = (
        vals.groupBy("event_type")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("b0"), F.col("b1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    g = spine.join(vals, ["event_type", "bucket"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marked_t = F.when(F.col("v").isNotNull(), F.col("bucket"))
    pv = F.last("v", ignorenulls=True).over(wp)
    pt = F.last(marked_t, ignorenulls=True).over(wp)
    nv = F.first("v", ignorenulls=True).over(wn)
    nt = F.first(marked_t, ignorenulls=True).over(wn)
    frac = (F.col("bucket").cast("long") - pt.cast("long")) / (
        nt.cast("long") - pt.cast("long")
    )
    filled = F.when(F.col("v").isNotNull(), F.round(F.col("v"), 6)).otherwise(
        F.round(pv + (nv - pv) * frac, 6)
    )
    return g.select(
        "event_type",
        "bucket",
        F.col("v").isNull().alias("interpolated"),
        filled.alias("value"),
    )


register(
    "temporal_interpolate",
    temporal_interpolate,
    """
WITH vals AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS v
  FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM vals GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM r
),
g AS (
  SELECT s.event_type, s.bucket, v.v
  FROM spine s LEFT JOIN vals v ON s.event_type = v.event_type AND s.bucket = v.bucket
),
f AS (
  SELECT event_type, bucket, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS pt,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS nt
  FROM g
  WINDOW wp AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket, v IS NULL AS interpolated,
       CASE WHEN v IS NOT NULL THEN round(v, 6)
            ELSE round(pv + (nv - pv)
                       * ((epoch(bucket) - epoch(pt)) / (epoch(nt) - epoch(pt))), 6)
       END AS value
FROM f
""",
)


# ---------------------------------------------------------------------------
# events_rfm_segments — RFM customer segmentation (recency / frequency /
# monetary quartile scores) over purchase events. Deliberately NOT the
# ntile formulation: a global ntile is a single-partition window at scale,
# so scores come from exact quartile BOUNDARIES (percentile ↔
# quantile_cont, the agg_exact_median pairing) broadcast back over the
# user table — one user-keyed agg, two 1-row broadcasts, zero windows.
# A metric scores 1-4 by how many boundaries it beats (strictly-better
# comparisons, identical on both engines because the interpolated
# boundaries are bit-identical doubles).
# ---------------------------------------------------------------------------
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("anchor"))
    users = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor", "last_purchase").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
        # r14 tail diet: users feeds the quartile boundaries AND the
        # scoring — persist or the purchase agg over the event stream
        # runs twice. release: caller
        .persist()
    )
    bounds = users.agg(
        F.expr("percentile(recency_days, 0.25)").alias("rq25"),
        F.expr("percentile(recency_days, 0.5)").alias("rq50"),
        F.expr("percentile(recency_days, 0.75)").alias("rq75"),
        F.expr("percentile(frequency, 0.25)").alias("fq25"),
        F.expr("percentile(frequency, 0.5)").alias("fq50"),
        F.expr("percentile(frequency, 0.75)").alias("fq75"),
        F.expr("percentile(monetary, 0.25)").alias("mq25"),
        F.expr("percentile(monetary, 0.5)").alias("mq50"),
        F.expr("percentile(monetary, 0.75)").alias("mq75"),
    )
    scored = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (
            F.lit(1)
            + (F.col("recency_days") < F.col("rq75")).cast("long")
            + (F.col("recency_days") < F.col("rq50")).cast("long")
            + (F.col("recency_days") < F.col("rq25")).cast("long")
        ).alias("r_score"),
        (
            F.lit(1)
            + (F.col("frequency") > F.col("fq25")).cast("long")
            + (F.col("frequency") > F.col("fq50")).cast("long")
            + (F.col("frequency") > F.col("fq75")).cast("long")
        ).alias("f_score"),
        (
            F.lit(1)
            + (F.col("monetary") > F.col("mq25")).cast("long")
            + (F.col("monetary") > F.col("mq50")).cast("long")
            + (F.col("monetary") > F.col("mq75")).cast("long")
        ).alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias("rfm_code"),
    )


register(
    "events_rfm_segments",
    events_rfm_segments,
    """
WITH anchor AS (SELECT max(ts) AS anchor FROM events),
users AS (
  SELECT e.user_id,
         CAST(date_diff('day', max(e.ts), a.anchor) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM events e CROSS JOIN anchor a
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id, a.anchor
),
bounds AS (
  SELECT quantile_cont(recency_days, 0.25) AS rq25,
         quantile_cont(recency_days, 0.5)  AS rq50,
         quantile_cont(recency_days, 0.75) AS rq75,
         quantile_cont(frequency, 0.25) AS fq25,
         quantile_cont(frequency, 0.5)  AS fq50,
         quantile_cont(frequency, 0.75) AS fq75,
         quantile_cont(monetary, 0.25) AS mq25,
         quantile_cont(monetary, 0.5)  AS mq50,
         quantile_cont(monetary, 0.75) AS mq75
  FROM users
),
scored AS (
  SELECT u.user_id, u.recency_days, u.frequency, u.monetary,
         1 + CAST(u.recency_days < b.rq75 AS BIGINT)
           + CAST(u.recency_days < b.rq50 AS BIGINT)
           + CAST(u.recency_days < b.rq25 AS BIGINT) AS r_score,
         1 + CAST(u.frequency > b.fq25 AS BIGINT)
           + CAST(u.frequency > b.fq50 AS BIGINT)
           + CAST(u.frequency > b.fq75 AS BIGINT) AS f_score,
         1 + CAST(u.monetary > b.mq25 AS BIGINT)
           + CAST(u.monetary > b.mq50 AS BIGINT)
           + CAST(u.monetary > b.mq75 AS BIGINT) AS m_score
  FROM users u CROSS JOIN bounds b
)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_code
FROM scored
""",
)


# ---------------------------------------------------------------------------
# events_rolling_active_users — sliding-window DISTINCT counting: per
# event_type and hour, the count of distinct users active in the trailing
# 24 hours (the dashboard "rolling DAU" primitive). Spark has no
# count(DISTINCT) window function; the spelling is size(collect_set())
# over a RANGE frame keyed on epoch seconds — per-window state is the
# distinct-user set of one key's trailing day, bounded by the user
# dimension (the 100 TB-safe alternative is the precomputed HLL-sketch
# union; this is the exact variant). DuckDB's native windowed
# count(DISTINCT ...) is the oracle — a genuinely different algorithm
# computing the same relation.
#
# Plan: one (type, hour, user) distinct agg, ONE per-type range-frame
# window pass, one final distinct projection. The pre-dedup to hourly
# triples is what keeps window state user-sets, not raw events.
# ---------------------------------------------------------------------------
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    triples = ev.select(
        "event_type", F.date_trunc("hour", "ts").alias("bucket"), "user_id"
    ).distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").cast("long"))
        .rangeBetween(-82800, 0)  # 23 trailing hours + the current one
    )
    rolled = triples.withColumn(
        "n_users_24h", F.size(F.collect_set("user_id").over(w)).cast("long")
    )
    return rolled.select("event_type", "bucket", "n_users_24h").distinct()


register(
    "events_rolling_active_users",
    events_rolling_active_users,
    """
WITH triples AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS bucket, user_id
  FROM events
),
rolled AS (
  SELECT event_type, bucket,
         CAST(count(DISTINCT user_id) OVER (
           PARTITION BY event_type ORDER BY epoch(bucket)
           RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_users_24h
  FROM triples
)
SELECT DISTINCT event_type, bucket, n_users_24h FROM rolled
""",
)


# ---------------------------------------------------------------------------
# events_ab_test — two-proportion z-test on conversion: clicks are split
# into variants A/B by campaign-id parity (props.k % 2), a click converts
# if the same user purchases within 30 minutes, and the output row is the
# full test summary (counts, rates, pooled z statistic). The experiment
# readout every growth team runs.
#
# Determinism: counts are exact ints; rates are single divisions; the z
# statistic is a FIXED-ORDER float expression over those exact inputs —
# (p_a − p_b) / sqrt( p·(1−p) · (1/n_a + 1/n_b) ) with explicit
# parenthesization mirrored in the oracle — rounded to 6.
#
# Plan: conversion detection is a LEFT SEMI join keyed on user_id with
# the 30-minute band as a join-side filter (never a time-cross product);
# both variant aggregates come from ONE conditional agg over the tagged
# clicks; the final row is scalar arithmetic. No windows.
# ---------------------------------------------------------------------------
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        (F.get_json_object("props", "$.k").cast("long") % 2).alias("variant"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") < F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    ).select("event_id")
    tagged = clicks.join(
        converted.withColumn("__conv", F.lit(1)), "event_id", "left"
    ).select("variant", F.coalesce("__conv", F.lit(0)).alias("conv"))
    agg = tagged.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).cast("long").alias("x_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).cast("long").alias("x_b"),
    )
    p_a = F.col("x_a") / F.col("n_a")
    p_b = F.col("x_b") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        (pool * (F.lit(1.0) - pool)) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )


register(
    "events_ab_test",
    events_ab_test,
    """
WITH clicks AS (
  SELECT event_id, user_id, ts,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS variant
  FROM events WHERE event_type = 'click'
),
purchases AS (SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'),
conv AS (
  SELECT c.event_id FROM clicks c
  WHERE EXISTS (SELECT 1 FROM purchases p
                WHERE p.p_user = c.user_id
                  AND p.p_ts >= c.ts AND p.p_ts < c.ts + INTERVAL 30 MINUTE)
),
tagged AS (
  SELECT c.variant, CASE WHEN v.event_id IS NULL THEN 0 ELSE 1 END AS conv
  FROM clicks c LEFT JOIN conv v ON c.event_id = v.event_id
),
agg AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
  FROM tagged
)
SELECT n_a, x_a, n_b, x_b,
       round(x_a / n_a, 6) AS rate_a,
       round(x_b / n_b, 6) AS rate_b,
       round((x_a / n_a - x_b / n_b)
             / sqrt((((x_a + x_b) / (n_a + n_b)) * (1.0 - (x_a + x_b) / (n_a + n_b)))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
FROM agg
""",
)


# ---------------------------------------------------------------------------
# events_sequence_trigrams — frequent 3-step behavior paths: for each
# user's (ts, event_id)-ordered event stream, every consecutive
# event-type trigram, counted corpus-wide; top-10 by (count, path) with a
# full lexicographic tiebreak (a total, deterministic order). The
# sequential-pattern primitive behind funnel discovery — where
# events_funnel CHECKS a known path, this MINES the paths worth checking
# (the classic n-gram shortcut to frequent-sequence mining: exact for
# consecutive patterns, no candidate generation).
#
# Plan: ONE per-user window shuffle carries both lead() steps (same
# (user_id; ts, event_id) sort — one exchange, one sort), then a
# (t1,t2,t3) hash agg with map-side combine and TakeOrdered top-10;
# shuffle cardinality after the window is |event_type|³ at most.
# ---------------------------------------------------------------------------
def events_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(10)
    )


register(
    "events_sequence_trigrams",
    events_sequence_trigrams,
    """
WITH seq AS (
  SELECT event_type AS step1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
  FROM events
)
SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_paths
FROM seq
WHERE step2 IS NOT NULL AND step3 IS NOT NULL
GROUP BY step1, step2, step3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT 10
""",
)


# ---------------------------------------------------------------------------
# events_bot_regularity — automation detection via inter-event timing
# regularity: humans produce bursty, high-variance gaps; scripted traffic
# ticks metronomically (low coefficient of variation). Per user the
# consecutive-event gaps (integer milliseconds) are reduced to EXACT
# sums (n, Σg, Σg² — decimal, association-free), and the CV falls out as
# a fixed-form IEEE expression: cv = sqrt(n·Σg² − (Σg)²) / Σg (the
# population-variance identity scaled so only exact ints enter — one
# sqrt, one division, engine-identical). Flag = cv < 0.3, the standard
# screening threshold shape (the number is a named knob, not magic).
#
# Plan: ONE per-user window shuffle (lag over (user_id; ts, event_id))
# + one per-user hash agg on the same partitioning — Catalyst reuses the
# exchange; no joins, no driver collect. Output is user-sized.
# ---------------------------------------------------------------------------
_BOT_CV_THRESHOLD = 0.3
_BOT_MIN_GAPS = 5


def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    sums = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("gap_ms").cast("decimal(38,0)")).alias("sg"),
        F.sum((F.col("gap_ms") * F.col("gap_ms")).cast("decimal(38,0)")).alias("sgg"),
    )
    n = F.col("n_gaps").cast("double")
    sg = F.col("sg").cast("double")
    sgg = F.col("sgg").cast("double")
    cv = F.sqrt(n * sgg - sg * sg) / sg
    return (
        sums.filter((F.col("n_gaps") >= _BOT_MIN_GAPS) & (F.col("sg") > 0))
        .select(
            "user_id",
            "n_gaps",
            F.round(sg / n, 6).alias("mean_gap_ms"),
            F.round(cv, 6).alias("gap_cv"),
            (F.round(cv, 6) < _BOT_CV_THRESHOLD).alias("is_regular"),
        )
    )


register(
    "events_bot_regularity",
    events_bot_regularity,
    f"""
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
),
sums AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_gaps,
         sum(CAST(gap_ms AS DECIMAL(38,0))) AS sg,
         sum(CAST(gap_ms * gap_ms AS DECIMAL(38,0))) AS sgg
  FROM gaps WHERE gap_ms IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_gaps,
       round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_ms,
       round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                  - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
             / CAST(sg AS DOUBLE), 6) AS gap_cv,
       round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                  - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
             / CAST(sg AS DOUBLE), 6) < {_BOT_CV_THRESHOLD} AS is_regular
FROM sums
WHERE n_gaps >= {_BOT_MIN_GAPS} AND sg > 0
""",
)


# ---------------------------------------------------------------------------
# events_stickiness — the product-analytics DAU/MAU stickiness ratio per
# calendar day: what fraction of the month's active users showed up that
# day. Two exact distinct-count aggs (day grain, month grain) joined on
# the month key — the MAU side is months-sized, so it rides a broadcast;
# the ratio is one IEEE division of exact int64s, rounded. The retention
# cohort's cheaper daily sibling — the first engagement KPI any events
# warehouse serves.
# ---------------------------------------------------------------------------
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts"))
    day = F.date_trunc("day", F.col("ts"))
    dau = ev.groupBy(month.alias("month"), day.alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("dau")
    )
    mau = ev.groupBy(month.alias("month")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    return dau.join(F.broadcast(mau), "month").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
    )


register(
    "events_stickiness",
    events_stickiness,
    """
WITH d AS (
  SELECT date_trunc('month', ts) AS month, date_trunc('day', ts) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY date_trunc('month', ts), date_trunc('day', ts)
),
m AS (
  SELECT date_trunc('month', ts) AS month,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY date_trunc('month', ts)
)
SELECT d.day, d.dau, m.mau, round(d.dau / m.mau, 6) AS stickiness
FROM d JOIN m USING (month)
""",
)


# ---------------------------------------------------------------------------
# events_seasonality — the (iso-weekday × hour-of-day) activity heatmap
# per event type, with each cell's share of the type's total as an exact
# ppm integer ((10⁶·n) div total — the rational-variant discipline). The
# weekly/diurnal periodicity profile behind load forecasting and
# anomaly-baseline construction; Spark's weekday()+1 is matched to
# DuckDB's isodow() (both Monday=1..Sunday=7 — the engines' native
# dayofweek() functions DISAGREE on Sunday's index, a documented trap).
# Plan: one (type, dow, hour) hash agg + a type-sized broadcast of the
# totals; output is at most |types|·168 rows.
# ---------------------------------------------------------------------------
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.weekday(F.col("ts")) + 1).cast("long").alias("iso_dow"),
        F.hour(F.col("ts")).cast("long").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events")).persist()
    # r14 tail diet (persist above): cells feeds the per-type totals AND
    # the share join — un-persisted, the event-scale cell agg ran twice.
    # release: caller
    totals = cells.groupBy("event_type").agg(F.sum("n_events").cast("long").alias("total"))
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "iso_dow",
        "hour_of_day",
        "n_events",
        F.expr("CAST((1000000 * n_events) div total AS BIGINT)").alias("share_ppm"),
    )


register(
    "events_seasonality",
    events_seasonality,
    """
WITH cells AS (
  SELECT event_type,
         CAST(isodow(ts) AS BIGINT) AS iso_dow,
         CAST(hour(ts) AS BIGINT) AS hour_of_day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, isodow(ts), hour(ts)
),
totals AS (
  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.iso_dow, c.hour_of_day, c.n_events,
       CAST((1000000 * c.n_events) // t.total AS BIGINT) AS share_ppm
FROM cells c JOIN totals t USING (event_type)
""",
)


# ---------------------------------------------------------------------------
# temporal_asof_forward — the forward as-of direction (pandas merge_asof
# direction='forward'; operators/temporal.py asof_join): for each click,
# the user's NEXT purchase value at-or-after the click — the
# time-to-conversion primitive, checked against DuckDB's native forward
# ASOF JOIN (inequality sense flipped — a genuinely different algorithm
# computing the same relation, the strongest oracle available).
# ---------------------------------------------------------------------------
def temporal_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_value_cols=["p_value"],
        suffix="",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts", "value", F.col("p_value").alias("next_purchase_value")
    )


register(
    "temporal_asof_forward",
    temporal_asof_forward,
    """
WITH clicks AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts, c.value, p.p_value AS next_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND p.p_ts >= c.ts
""",
)


# ---------------------------------------------------------------------------
# events_type_diversity — per-user behavioral diversity as Gini impurity
# over the event-type mix: 1 − Σ p_t², carried as an EXACT ppm integer
# ((10⁶·(N² − Σn_t²)) div N² — the rational-variant discipline; Shannon
# entropy needs log, whose last bit is implementation-defined, so the
# impurity form is the cross-engine-exact diversity measure). 0 = all
# events one type (bot-like), → 10⁶·(1−1/T) = uniform over T types.
# int64-safe while 10⁶·N² fits, i.e. per-user N ≤ ~3·10⁶ events.
# Plan: (user, type) hash agg → per-user agg — two shuffles, the second
# on a strictly coarser key; output user-sized.
# ---------------------------------------------------------------------------
def events_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "CAST((1000000 * (n_events * n_events - s2)) div (n_events * n_events) AS BIGINT)"
        ).alias("gini_ppm"),
    )


register(
    "events_type_diversity",
    events_type_diversity,
    """
WITH per_type AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
per_user AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM per_type GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       CAST((1000000 * (n_events * n_events - s2)) // (n_events * n_events) AS BIGINT) AS gini_ppm
FROM per_user
""",
)


# ---------------------------------------------------------------------------
# events_first_touch — FIRST-touch revenue attribution, the companion
# policy to events_attribution's last-touch: each purchase credits the
# EARLIEST click channel within the 7-day lookback (ties by event_id —
# a total order), -1 when no click qualifies. Reuses the bucketized
# range join (operators/temporal.py range_join_buckets — equi-join on
# (user, time-bucket), never an unbounded inequality join) to pair each
# purchase with its candidate clicks, then a struct-min argmin picks the
# earliest; the oracle replays the same relation with a plain
# inequality join + row_number. Channel totals ride exact decimal sums.
# ---------------------------------------------------------------------------
_FT_LOOKBACK_S = 7 * 24 * 3600


def events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.temporal import range_join_buckets

    ev = read_table(spark, sf_dir, "events")
    channel = (F.get_json_object("props", "$.k").cast("long") % 10).alias("channel")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"), channel
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"), "value"
    )
    pairs = range_join_buckets(
        clicks.withColumnRenamed("c_ts", "l_ts"),
        purchases.withColumnRenamed("p_ts", "r_ts"),
        on="user_id",
        left_ts="l_ts",
        right_ts="r_ts",
        window_seconds=_FT_LOOKBACK_S,
    )
    ft = (
        pairs.select(
            F.col("r.p_id").alias("p_id"),
            F.struct(F.col("l.l_ts").alias("ts"), F.col("l.c_id").alias("cid"),
                     F.col("l.channel").alias("ch")).alias("cand"),
        )
        .groupBy("p_id")
        .agg(F.min("cand").alias("w"))
        .select("p_id", F.col("w.ch").alias("channel"))
    )
    attributed = purchases.join(ft, purchases["p_id"] == ft["p_id"], "left").select(
        F.coalesce(F.col("channel"), F.lit(-1)).alias("channel"), "value"
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
    )


register(
    "events_first_touch",
    events_first_touch,
    f"""
WITH clicks AS (
  SELECT user_id, ts AS c_ts, event_id AS c_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS channel
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.p_id, c.c_ts, c.c_id, c.channel
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id
   AND p.p_ts >= c.c_ts
   AND p.p_ts < c.c_ts + INTERVAL {_FT_LOOKBACK_S} SECONDS
),
ft AS (
  SELECT p_id, channel FROM (
    SELECT p_id, channel,
           row_number() OVER (PARTITION BY p_id ORDER BY c_ts ASC, c_id ASC) AS rn
    FROM pairs) WHERE rn = 1
)
SELECT coalesce(ft.channel, -1) AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM purchases p LEFT JOIN ft ON p.p_id = ft.p_id
GROUP BY coalesce(ft.channel, -1)
""",
)


# ---------------------------------------------------------------------------
# temporal_calendar_dim — generate the warehouse date-dimension table
# spanning the events table's day range: ISO weekday/week, month,
# quarter, year, day-of-year, weekend flag. The standard star-schema
# conformed dimension, derived (not loaded) so it can never drift from
# the fact table's span. All columns are integer calendar functions both
# engines define identically (ISO semantics throughout — weekofyear is
# ISO on both; the native dayofweek()s disagree and are avoided, the
# events_seasonality lesson).
# Plan: 1-row min/max agg → sequence explode on the driver-free spine →
# projection. Output is span-sized (days), never event-sized.
# ---------------------------------------------------------------------------
def temporal_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    iso_dow = (F.weekday(F.col("day")) + 1).cast("long")
    return days.select(
        "day",
        iso_dow.alias("iso_dow"),
        F.weekofyear(F.col("day")).cast("long").alias("iso_week"),
        F.month(F.col("day")).cast("long").alias("month"),
        F.quarter(F.col("day")).cast("long").alias("quarter"),
        F.year(F.col("day")).cast("long").alias("year"),
        F.dayofyear(F.col("day")).cast("long").alias("day_of_year"),
        (iso_dow >= 6).alias("is_weekend"),
    )


register(
    "temporal_calendar_dim",
    temporal_calendar_dim,
    """
WITH span AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
  FROM events
),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span)
SELECT day,
       CAST(isodow(day) AS BIGINT) AS iso_dow,
       CAST(weekofyear(day) AS BIGINT) AS iso_week,
       CAST(month(day) AS BIGINT) AS month,
       CAST(quarter(day) AS BIGINT) AS quarter,
       CAST(year(day) AS BIGINT) AS year,
       CAST(dayofyear(day) AS BIGINT) AS day_of_year,
       isodow(day) >= 6 AS is_weekend
FROM days
""",
)


# ---------------------------------------------------------------------------
# window_time_range_frame — time-based RANGE window frames (the SQL
# RANGE BETWEEN INTERVAL surface): per event, the count and exact
# decimal sum of the user's events in the TRAILING HOUR. Both engines
# order by integer epoch seconds with a numeric RANGE frame — identical
# peer semantics (same-second events share one frame) with none of the
# interval-frame dialect drift. The time-decayed-feature primitive
# (fraud velocity checks, rate features) at one window pass.
# Plan: ONE per-user window exchange; both frame aggregates share it.
# ---------------------------------------------------------------------------
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("value_trailing_1h"),
    )


register(
    "window_time_range_frame",
    window_time_range_frame,
    """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS value_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)


# ---------------------------------------------------------------------------
# events_peak_days — local-extremum detection over the per-type daily
# count series: a day is a PEAK when its count strictly exceeds both
# calendar neighbors in the series (lag/lead over the per-type order), a
# VALLEY when strictly below both; series endpoints are neither (one-
# sided evidence). Pure integer comparisons over one window pass — the
# spike-calendar view that complements CUSUM's cumulative drift state
# (CUSUM finds sustained level shifts; this finds single-day spikes).
# Plan: daily hash agg + ONE per-type window (lag and lead share it);
# output is peak/valley-sized.
# ---------------------------------------------------------------------------
def events_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("day")
    marked = daily.select(
        "event_type",
        "day",
        "n_events",
        F.lag("n_events").over(w).alias("prev_n"),
        F.lead("n_events").over(w).alias("next_n"),
    )
    kind = (
        F.when(
            (F.col("n_events") > F.col("prev_n")) & (F.col("n_events") > F.col("next_n")),
            "peak",
        )
        .when(
            (F.col("n_events") < F.col("prev_n")) & (F.col("n_events") < F.col("next_n")),
            "valley",
        )
    )
    return (
        marked.select("event_type", "day", "n_events", kind.alias("kind"))
        .filter(F.col("kind").isNotNull())
    )


register(
    "events_peak_days",
    events_peak_days,
    """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
marked AS (
  SELECT event_type, day, n_events,
         lag(n_events) OVER w AS prev_n,
         lead(n_events) OVER w AS next_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, n_events,
       CASE WHEN n_events > prev_n AND n_events > next_n THEN 'peak'
            WHEN n_events < prev_n AND n_events < next_n THEN 'valley'
       END AS kind
FROM marked
WHERE (n_events > prev_n AND n_events > next_n)
   OR (n_events < prev_n AND n_events < next_n)
""",
)


# ---------------------------------------------------------------------------
# events_gap_magnitude_histogram — the inter-arrival-time distribution
# per event type, bucketed by ORDER OF MAGNITUDE in exact integer space:
# the bucket is the decimal digit count of the gap in milliseconds
# (length of the integer's string form — exact on any engine, unlike
# floor(log10) whose libm last bit is implementation-defined). The
# latency/burstiness profile behind rate-limit tuning and bot
# triage, with per-type ppm shares.
# Plan: ONE per-type window (lag) + one (type, bucket) hash agg + a
# type-sized broadcast of totals; output ≤ |types|·13 rows.
# ---------------------------------------------------------------------------
def events_gap_magnitude_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gaps = ev.select(
        "event_type", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull() & (F.col("gap_ms") >= 0))
    bucketed = gaps.select(
        "event_type",
        F.length(F.col("gap_ms").cast("string")).cast("long").alias("gap_digits"),
    )
    # r14 tail diet: cells feeds the per-type totals AND the share join —
    # persist or the per-type lag() window over the event stream runs
    # twice. release: caller
    cells = bucketed.groupBy("event_type", "gap_digits").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps")
    ).persist()
    totals = cells.groupBy("event_type").agg(F.sum("n_gaps").cast("long").alias("total"))
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "gap_digits",
        "n_gaps",
        F.expr("CAST((1000000 * n_gaps) div total AS BIGINT)").alias("share_ppm"),
    )


register(
    "events_gap_magnitude_histogram",
    events_gap_magnitude_histogram,
    """
WITH gaps AS (
  SELECT event_type,
         epoch_ms(ts) - lag(epoch_ms(ts))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_ms
  FROM events
),
bucketed AS (
  SELECT event_type,
         CAST(length(CAST(gap_ms AS VARCHAR)) AS BIGINT) AS gap_digits
  FROM gaps WHERE gap_ms IS NOT NULL AND gap_ms >= 0
),
cells AS (
  SELECT event_type, gap_digits, CAST(count(*) AS BIGINT) AS n_gaps
  FROM bucketed GROUP BY event_type, gap_digits
),
totals AS (
  SELECT event_type, CAST(sum(n_gaps) AS BIGINT) AS total
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.gap_digits, c.n_gaps,
       CAST((1000000 * c.n_gaps) // t.total AS BIGINT) AS share_ppm
FROM cells c JOIN totals t USING (event_type)
""",
)


# ---------------------------------------------------------------------------
# temporal_concurrency_curve — peak concurrent sessions per day: the
# classic sweep-line / "meeting rooms" interval-stabbing maximum, as
# pure DataFrame ops. Sessions (the temporal_sessionize boundaries:
# >30-min inactivity gap) become ±1 endpoint deltas; concurrency is the
# running sum over (time, delta) — delta sorts ASC so a session ending
# at instant t frees its slot BEFORE one starting at t claims it (the
# standard no-phantom-overlap tie rule, deterministic on both engines).
#
# Scale shape: a GLOBAL sweep would be a single-reducer sort, so each
# session is first CLIPPED into per-day segments (sequence explode over
# covered days — sessions are 30-min-gap bounded, so the fan-out is tiny)
# and the sweep runs per (day) partition: the curve parallelizes by day
# with no cross-partition carry because segments never span midnight.
# ONE user shuffle (sessionize) + one day-keyed window + a day agg.
# ---------------------------------------------------------------------------
def temporal_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sessions = temporal_sessionize(spark, sf_dir).select(
        "user_id", "session_idx", "session_start", "session_end"
    )
    seg = sessions.select(
        "user_id",
        "session_idx",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("session_start")),
                F.date_trunc("day", F.col("session_end")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).select(
        "day",
        F.greatest(F.col("session_start"), F.col("day")).alias("seg_start"),
        F.least(
            F.col("session_end"), F.col("day") + F.expr("INTERVAL 1 DAY")
        ).alias("seg_end"),
    )
    deltas = seg.select(
        "day", F.col("seg_start").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(
        seg.select("day", F.col("seg_end").alias("ts"), F.lit(-1).alias("delta"))
    )
    w = Window.partitionBy("day").orderBy("ts", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = deltas.select("day", F.sum("delta").over(w).alias("concurrent"))
    return curve.groupBy("day").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent")
    )


register(
    "temporal_concurrency_curve",
    temporal_concurrency_curve,
    """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
  FROM g
),
sessions AS (
  SELECT user_id, session_idx,
         min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY user_id, session_idx
),
seg AS (
  SELECT unnest(generate_series(date_trunc('day', session_start),
                                date_trunc('day', session_end),
                                INTERVAL 1 DAY)) AS day,
         session_start, session_end
  FROM sessions
),
clipped AS (
  SELECT day,
         greatest(session_start, day) AS seg_start,
         least(session_end, day + INTERVAL 1 DAY) AS seg_end
  FROM seg
),
deltas AS (
  SELECT day, seg_start AS ts, 1 AS delta FROM clipped
  UNION ALL
  SELECT day, seg_end AS ts, -1 AS delta FROM clipped
),
curve AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day ORDER BY ts, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
  FROM deltas
)
SELECT day, CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM curve GROUP BY day
""",
)


# ---------------------------------------------------------------------------
# temporal_session_window_native — Spark's NATIVE session_window in
# BATCH mode, cross-checked against the gaps-and-islands SQL spelling:
# the native operator MERGES an exactly-30-minute gap (an event landing
# on the session's end instant extends it — probe-verified; the break
# rule is gap > 1800 s, the same inclusive rule temporal_sessionize
# uses) and reports window.end = last event + gap. Validates Spark's
# built-in session operator against an independent formulation — the
# strongest check for an operator the engine also uses under streaming.
# Plan: ONE per-user shuffle into the native session aggregation.
# ---------------------------------------------------------------------------
def temporal_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),
            "n_events",
        )
    )


register(
    "temporal_session_window_native",
    temporal_session_window_native,
    """
WITH g AS (
  SELECT user_id, ts, event_id,
         -- native session_window compares FULL-PRECISION timestamps
         -- (microseconds), so the oracle gap must stay fractional —
         -- unlike the cast-long sessionize twins, which floor.
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTES AS session_close,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_idx
""",
)


# ---------------------------------------------------------------------------
# events_new_vs_returning — per-day acquisition split: active users
# partitioned into NEW (this is their first-ever active day) vs
# RETURNING. Exact distinct (user, day) grid joined to each user's
# min-day; counts are exact ints. The growth-accounting companion to
# events_stickiness — together they decompose DAU into acquisition and
# retention. Plan: (user, day) distinct agg → user-keyed min-day agg →
# one user-keyed join → day agg; shuffles carry user-day rows.
# ---------------------------------------------------------------------------
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    first_day = user_days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        user_days.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("day") != F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
            F.count(F.lit(1)).cast("long").alias("n_active"),
        )
    )


register(
    "events_new_vs_returning",
    events_new_vs_returning,
    """
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
first_day AS (
  SELECT user_id, min(day) AS first_day FROM user_days GROUP BY user_id
)
SELECT u.day,
       CAST(sum(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN u.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
       CAST(count(*) AS BIGINT) AS n_active
FROM user_days u JOIN first_day f USING (user_id)
GROUP BY u.day
""",
)


# ---------------------------------------------------------------------------
# temporal_week_over_week — the WoW reporting primitive: ISO-week event
# counts per type with the previous week's count, absolute delta, and
# relative change in exact ppm ((10⁶·(n − prev)) div prev — can be
# negative; truncating div on BOTH engines is toward zero for Spark but
# FLOORING in DuckDB for negatives, so the ratio is computed on the
# ABSOLUTE delta with a sign column instead — the documented negative-
# division dialect trap). One daily-grain agg + ONE per-type window.
# ---------------------------------------------------------------------------
def temporal_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    marked = weekly.select(
        "event_type",
        "week_start",
        "n_events",
        F.lag("n_events").over(w).alias("prev_n"),
    ).filter(F.col("prev_n").isNotNull())
    delta = F.col("n_events") - F.col("prev_n")
    return marked.select(
        "event_type",
        "week_start",
        "n_events",
        F.col("prev_n").cast("long").alias("prev_week"),
        delta.cast("long").alias("delta"),
        F.when(delta >= 0, F.lit("up")).otherwise(F.lit("down")).alias("direction"),
        F.expr(
            "CAST((1000000 * abs(n_events - prev_n)) div prev_n AS BIGINT)"
        ).alias("abs_change_ppm"),
    )


register(
    "temporal_week_over_week",
    temporal_week_over_week,
    """
WITH weekly AS (
  SELECT event_type, date_trunc('week', ts) AS week_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('week', ts)
),
marked AS (
  SELECT event_type, week_start, n_events,
         lag(n_events) OVER (PARTITION BY event_type ORDER BY week_start) AS prev_n
  FROM weekly
)
SELECT event_type, week_start, n_events,
       CAST(prev_n AS BIGINT) AS prev_week,
       CAST(n_events - prev_n AS BIGINT) AS delta,
       CASE WHEN n_events - prev_n >= 0 THEN 'up' ELSE 'down' END AS direction,
       CAST((1000000 * abs(n_events - prev_n)) // prev_n AS BIGINT) AS abs_change_ppm
FROM marked
WHERE prev_n IS NOT NULL
""",
)


# ---------------------------------------------------------------------------
# window_ignore_nulls — FIRST_VALUE / LAST_VALUE / LEAD with IGNORE
# NULLS over event windows: `value` is deterministically nulled (every
# 3rd event id) and each user's running frame must report the first and
# most recent NON-NULL observation — the gap-bridging read every sensor
# / sparse-metric pipeline does. Explicit ROWS frames and the (ts,
# event_id) total order make null-skipping identical on both engines.
# One per-user window exchange; all functions share it.
# ---------------------------------------------------------------------------
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 3 != 0, F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        v.alias("sparse_value"),
        F.first(v, ignorenulls=True).over(w).alias("first_seen"),
        F.last(v, ignorenulls=True).over(w).alias("last_seen"),
    )


register(
    "window_ignore_nulls",
    window_ignore_nulls,
    """
SELECT event_id, user_id,
       CASE WHEN event_id % 3 <> 0 THEN value END AS sparse_value,
       first_value(CASE WHEN event_id % 3 <> 0 THEN value END IGNORE NULLS)
         OVER w AS first_seen,
       last_value(CASE WHEN event_id % 3 <> 0 THEN value END IGNORE NULLS)
         OVER w AS last_seen
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)


# ---------------------------------------------------------------------------
# events_heatmap_drift — BEHAVIORAL drift between the first and second
# half of the observation window: each half's (isodow × hour) activity
# profile per event type in ppm shares, L1-differenced per cell and
# summed per type (Σ|a−b|/2e6 ≈ total-variation distance of the weekly
# profile — the time-pattern sibling of storage_histogram_drift's
# value-distribution check; a bot ramp-up or timezone config break moves
# this before volume alarms fire). Split point = midpoint of [min_ts,
# max_ts] — derived, not configured, so both engines agree exactly.
# Integer end to end. Plan: 1-row span agg broadcast → one (type, half,
# cell) agg → per-half totals (type-sized) → full-outer cell join →
# per-type sum; shuffles carry cell rows (≤ types·168·2).
# ---------------------------------------------------------------------------
def events_heatmap_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # millisecond epochs on BOTH engines (unix_millis ≡ epoch_ms, the
    # bot_regularity parity) — second-granularity spellings diverge:
    # DuckDB's epoch() is a fractional DOUBLE whose BIGINT cast ROUNDS
    # while Spark's long cast truncates, moving boundary events
    span = ev.agg(
        F.min(F.unix_millis(F.col("ts"))).alias("t0"),
        F.max(F.unix_millis(F.col("ts"))).alias("t1"),
    )
    marked = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        (F.weekday(F.col("ts")) + 1).cast("long").alias("iso_dow"),
        F.hour(F.col("ts")).cast("long").alias("hour_of_day"),
        F.when(
            F.unix_millis(F.col("ts")) * 2 < F.col("t0") + F.col("t1"), F.lit("a")
        ).otherwise(F.lit("b")).alias("half"),
    )
    cells = marked.groupBy("event_type", "half", "iso_dow", "hour_of_day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = cells.groupBy("event_type", "half").agg(F.sum("n").cast("long").alias("tot"))
    shares = cells.join(totals, ["event_type", "half"]).select(
        "event_type",
        "half",
        "iso_dow",
        "hour_of_day",
        F.expr("CAST((1000000 * n) div tot AS BIGINT)").alias("ppm"),
    )
    a = shares.filter(F.col("half") == "a").select(
        "event_type", "iso_dow", "hour_of_day", F.col("ppm").alias("ppm_a")
    )
    b = shares.filter(F.col("half") == "b").select(
        "event_type", "iso_dow", "hour_of_day", F.col("ppm").alias("ppm_b")
    )
    joined = a.join(b, ["event_type", "iso_dow", "hour_of_day"], "full_outer").select(
        "event_type",
        F.abs(F.coalesce(F.col("ppm_a"), F.lit(0)) - F.coalesce(F.col("ppm_b"), F.lit(0))).alias("d"),
    )
    return joined.groupBy("event_type").agg(
        F.sum("d").cast("long").alias("l1_drift_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )


register(
    "events_heatmap_drift",
    events_heatmap_drift,
    """
WITH span AS (
  SELECT min(epoch_ms(ts)) AS t0,
         max(epoch_ms(ts)) AS t1
  FROM events
),
marked AS (
  SELECT event_type,
         CAST(isodow(ts) AS BIGINT) AS iso_dow,
         CAST(hour(ts) AS BIGINT) AS hour_of_day,
         CASE WHEN epoch_ms(ts) * 2 < s.t0 + s.t1
              THEN 'a' ELSE 'b' END AS half
  FROM events, span s
),
cells AS (
  SELECT event_type, half, iso_dow, hour_of_day,
         CAST(count(*) AS BIGINT) AS n
  FROM marked GROUP BY event_type, half, iso_dow, hour_of_day
),
totals AS (
  SELECT event_type, half, CAST(sum(n) AS BIGINT) AS tot
  FROM cells GROUP BY event_type, half
),
shares AS (
  SELECT c.event_type, c.half, c.iso_dow, c.hour_of_day,
         CAST((1000000 * c.n) // t.tot AS BIGINT) AS ppm
  FROM cells c JOIN totals t USING (event_type, half)
),
joined AS (
  SELECT coalesce(a.event_type, b.event_type) AS event_type,
         abs(coalesce(a.ppm, 0) - coalesce(b.ppm, 0)) AS d
  FROM (SELECT * FROM shares WHERE half = 'a') a
  FULL OUTER JOIN (SELECT * FROM shares WHERE half = 'b') b
    ON a.event_type = b.event_type AND a.iso_dow = b.iso_dow
   AND a.hour_of_day = b.hour_of_day
)
SELECT event_type,
       CAST(sum(d) AS BIGINT) AS l1_drift_ppm,
       CAST(count(*) AS BIGINT) AS n_cells
FROM joined GROUP BY event_type
""",
)


# ---------------------------------------------------------------------------
# events_forecast_backtest — the seasonal-naive forecasting baseline
# (forecast(type, dow, hour, week w) = actual at week w−1, the
# same-slot-last-week rule every forecasting system must beat) back-
# tested over the event history in EXACT integers: per type, the summed
# absolute error across all (week, dow, hour) cells with a prior week,
# and MAE as ppm of actual volume ((10⁶·Σ|err|) div Σactual). The
# evaluation half of a forecasting pipeline, engine-checkable because
# the baseline is deterministic arithmetic. Plan: weekly-cell hash agg →
# ONE (type, dow, hour) window for the lag → per-type agg.
# ---------------------------------------------------------------------------
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week_start"),
        (F.weekday(F.col("ts")) + 1).cast("long").alias("iso_dow"),
        F.hour(F.col("ts")).cast("long").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type", "iso_dow", "hour_of_day").orderBy("week_start")
    scored = cells.select(
        "event_type",
        "n",
        F.lag("n").over(w).alias("pred"),
    ).filter(F.col("pred").isNotNull())
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("total_actual"),
        F.sum(F.abs(F.col("n") - F.col("pred"))).cast("long").alias("total_abs_err"),
        F.expr(
            "CAST((1000000 * sum(abs(n - pred))) div sum(n) AS BIGINT)"
        ).alias("mae_ppm_of_volume"),
    )


register(
    "events_forecast_backtest",
    events_forecast_backtest,
    """
WITH cells AS (
  SELECT event_type, date_trunc('week', ts) AS week_start,
         CAST(isodow(ts) AS BIGINT) AS iso_dow,
         CAST(hour(ts) AS BIGINT) AS hour_of_day,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY event_type, date_trunc('week', ts), isodow(ts), hour(ts)
),
scored AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type, iso_dow, hour_of_day
                      ORDER BY week_start) AS pred
  FROM cells
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n) AS BIGINT) AS total_actual,
       CAST(sum(abs(n - pred)) AS BIGINT) AS total_abs_err,
       CAST((1000000 * sum(abs(n - pred))) // sum(n) AS BIGINT) AS mae_ppm_of_volume
FROM scored
WHERE pred IS NOT NULL
GROUP BY event_type
""",
)


# ---------------------------------------------------------------------------
# events_alert_debounce — alert coalescing with a cooldown: among
# threshold-crossing events (value > 100 — the raw alert stream), emit
# only BURST LEADERS: the first alert per (user) after ≥10 minutes of
# alert silence (the debounce rule every paging system applies so one
# incident pages once). Gaps-and-islands over the ALERT substream: a
# leader is an alert whose previous alert is >600 s older. Also reports
# each burst's size — the suppressed count is the audit trail. One
# per-user window + one burst agg.
# ---------------------------------------------------------------------------
_ALERT_THRESHOLD, _ALERT_COOLDOWN_S = 100.0, 600


def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    alerts = ev.filter(F.col("value") > _ALERT_THRESHOLD)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    marked = alerts.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(ms).over(w).isNull()
            | (ms - F.lag(ms).over(w) > _ALERT_COOLDOWN_S * 1000),
            1,
        )
        .otherwise(0)
        .alias("is_leader"),
    )
    bursts = marked.withColumn("burst_id", F.sum("is_leader").over(w))
    return (
        bursts.groupBy("user_id", "burst_id")
        .agg(
            F.min("ts").alias("alert_ts"),
            F.min("event_id").cast("long").alias("leader_event_id"),
            F.count(F.lit(1)).cast("long").alias("n_suppressed_plus_one"),
        )
        .select(
            "user_id",
            F.col("burst_id").cast("long").alias("burst_id"),
            "alert_ts",
            "leader_event_id",
            (F.col("n_suppressed_plus_one") - 1).cast("long").alias("n_suppressed"),
        )
    )


register(
    "events_alert_debounce",
    events_alert_debounce,
    f"""
WITH alerts AS (
  SELECT user_id, ts, event_id FROM events WHERE value > {_ALERT_THRESHOLD}
),
marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {_ALERT_COOLDOWN_S * 1000}
              THEN 1 ELSE 0 END AS is_leader
  FROM alerts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
bursts AS (
  SELECT user_id, ts, event_id,
         sum(is_leader) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS burst_id
  FROM marked
)
SELECT user_id,
       CAST(burst_id AS BIGINT) AS burst_id,
       min(ts) AS alert_ts,
       CAST(min(event_id) AS BIGINT) AS leader_event_id,
       CAST(count(*) - 1 AS BIGINT) AS n_suppressed
FROM bursts
GROUP BY user_id, burst_id
""",
)
