"""Streaming operators: file-arrival ingest, event-time windows with
watermarks, and stateful dedup.

Scale notes (1000-executor story):

- **File source** scales by listing: ``maxFilesPerTrigger`` bounds batch
  size; state (seen-files log) lives in the checkpoint, not the driver
  heap. The reference's delete-after-consume zone hygiene (reference
  dags/s3-etl-wallet-csv.py:171-176) is the flow's ``delete_landing``
  stage (flows.py), not a source option.
- **Drain.** Every bounded run goes through one ``Trigger.AvailableNow``
  lifecycle (``_drain_available_now``): checkpoint, start, wait, clear the
  terminated query. The runners below only build their sink: memory
  table, parquet directory, or a ``foreachBatch`` snapshot merge.
- **Windowed aggregation** is a streaming hash-agg partitioned by
  (window, keys) — the same shuffle a batch groupBy does, plus a state
  store per partition. Watermarks bound state size: without one, state
  grows forever at 100 TB/day.
- **Dedup** keeps one state row per key; ``dropDuplicatesWithinWatermark``
  expires state once the watermark passes, which is the only formulation
  that survives unbounded streams.
"""

from __future__ import annotations

import glob
import os
import tempfile
from contextlib import nullcontext
from typing import Callable, ContextManager, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
    path_glob: str | None = None,
) -> DataFrame:
    """File-arrival streaming source over a parquet zone directory (the
    Structured Streaming replacement for the reference's polling
    S3KeySensor).

    ``schema`` (a StructType or DDL string) is mandatory: streaming sources
    cannot infer, and explicit schemas are the engine contract anyway (SURVEY.md §1.3). ``path`` must
    be a directory (the zone); ``path_glob`` narrows which arriving files
    belong to this feed (the reference's ``cyrela/*.csv`` wildcard,
    dags/s3-etl-wallet-csv.py:144).
    """
    reader = spark.readStream.format("parquet").schema(schema)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_rate_stream(
    spark: SparkSession,
    rows_per_second: int = 500,
    num_partitions: int = 4,
) -> DataFrame:
    """UNBOUNDED message-bus-shaped source (Spark's rate source): emits
    (timestamp, value) rows forever at a fixed rate across
    ``num_partitions`` — the stock stand-in for a Kafka topic (same
    DataSource-V2 micro-batch interface, per-partition monotone offsets,
    never exhausts). Production swaps ``format('rate')`` for
    ``format('kafka')`` + ``from_bus_envelope`` below; every window/
    watermark builder in this module runs unchanged on either.
    """
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )


def rate_to_events(raw: DataFrame) -> DataFrame:
    """Shape a rate stream into the events contract (event_id, user_id,
    event_type, ts, value) — deterministic in ``value`` so tests can
    assert per-key arithmetic while the arrival times stay genuinely
    unbounded/wall-clock."""
    etype = F.element_at(
        F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
        (F.col("value") % 3 + 1).cast("int"),
    )
    return raw.select(
        F.col("value").alias("event_id"),
        (F.col("value") % 100).alias("user_id"),
        etype.alias("event_type"),
        F.col("timestamp").alias("ts"),
        ((F.col("value") % 1000) / F.lit(100.0)).alias("value"),
    )


# Kafka's fixed source schema — the bus contract the engine codes against.
BUS_VALUE_COLS = ("key", "value", "topic", "partition", "offset", "timestamp")


def to_bus_envelope(df: DataFrame, key_col: str, topic: str, ts_col: str) -> DataFrame:
    """Serialize a typed relation into Kafka-source-shaped envelopes:
    (key binary, value binary(JSON), topic, partition, offset, timestamp).
    partition/offset are synthesized (hash / monotonic id) — a real bus
    assigns its own; what matters is that consumers see the exact schema
    ``spark.readStream.format('kafka')`` produces."""
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.encode(F.col(key_col).cast("string"), "UTF-8").alias("key"),
        F.encode(payload, "UTF-8").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(8)).cast("int").alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.col(ts_col).cast("timestamp").alias("timestamp"),
    )


def from_bus_envelope(envelopes: DataFrame, value_schema: StructType | str) -> DataFrame:
    """Decode bus envelopes back into the typed relation: JSON-parse the
    ``value`` bytes against an explicit schema (schema-on-read is still
    mandatory — bad records become null rows to filter/audit, never a
    stream crash). Works identically on the batch and streaming sides.
    """
    parsed = F.from_json(F.decode(F.col("value"), "UTF-8"), value_schema)
    return envelopes.select(parsed.alias("r")).select("r.*")


def write_bus_envelopes(
    df: DataFrame,
    key_col: str,
    topic: str,
    ts_col: str,
    path: str,
    n_files: int = 4,
) -> StructType:
    """Materialize a typed relation as a file-backed bus replay log: encode
    through ``to_bus_envelope`` and lay the envelopes out across ``n_files``
    parquet files — the deterministic stand-in for a Kafka topic's retained
    segments (the reference's latent bus is MinIO-fed batch; see
    dags/s3-etl-wallet-csv.py:144 for the arrival contract). Each file
    becomes one micro-batch when replayed with ``maxFilesPerTrigger=1``,
    so multi-batch incremental execution is exercised with FIXED event
    timestamps (from the data) instead of the rate source's wall clock.
    Returns the envelope schema the replay reader must declare.

    The ``repartition(n_files)`` shuffle assigns rows to segment files
    arbitrarily — exactly a real bus's cross-partition arrival order.
    Downstream results must therefore be arrival-order-independent, which
    is the property the replay exists to test.
    """
    env = to_bus_envelope(df, key_col, topic, ts_col)
    env.repartition(n_files).write.mode("overwrite").parquet(path)
    return env.schema


def replay_bus_stream(
    spark: SparkSession,
    path: str,
    envelope_schema: StructType,
    value_schema: StructType | str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Re-consume a bus replay log through the DataSource-V2 micro-batch
    path: a streaming file source paced to ``max_files_per_trigger`` files
    per micro-batch (so an ``n_files`` log yields ``n_files`` batches even
    under Trigger.AvailableNow), decoded with ``from_bus_envelope``.
    Production swaps the source line for ``format('kafka')`` +
    ``startingOffsets='earliest'``; the decode and everything downstream
    run unchanged.
    """
    raw = (
        spark.readStream.format("parquet")
        .schema(envelope_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )
    return from_bus_envelope(raw, value_schema)


def _checkpoint(checkpoint_dir: str | None = None) -> ContextManager[str]:
    """A query's checkpoint location: ``checkpoint_dir`` when the caller
    gives one (kept, so a later run resumes from it), else a fresh temp
    directory removed on exit — an AvailableNow drain or a stopped
    unbounded run never reads it again, so repeated calls (bench loops,
    long test sessions) leave no disk state."""
    if checkpoint_dir is not None:
        return nullcontext(checkpoint_dir)
    return tempfile.TemporaryDirectory(prefix="ckpt_", ignore_cleanup_errors=True)


def _drain_available_now(
    writer: DataStreamWriter, checkpoint_dir: str | None = None
) -> StreamingQuery:
    """The one ``Trigger.AvailableNow`` lifecycle (the batch-drain trigger
    that replaces the reference's sensor+DAG run): start ``writer`` — a
    configured sink — at ``_checkpoint(checkpoint_dir)``, wait until it
    has processed every input available at start, and return the
    terminated query (its ``recentProgress`` stays readable). The query is
    cleared from its session's StreamingQueryManager registry either way,
    so a failed drain does not make the next ``awaitAnyTermination``
    return at once."""
    streams = writer._spark.streams  # the writer's own session
    with _checkpoint(checkpoint_dir) as ckpt:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            streams.resetTerminated()
    return q


def run_until_rows(
    sdf: DataFrame,
    name: str,
    min_rows: int,
    timeout_sec: float = 60.0,
    output_mode: str = "append",
) -> DataFrame:
    """Run an UNBOUNDED stream (rate/bus source — AvailableNow cannot
    drain it) with continuous micro-batches until the memory sink holds
    ``min_rows``, then stop. Raises on timeout — a silent short result
    would let a wedged stream pass tests.

    The driver-side poll (``spark.table(name).count()`` four times a
    second) is a TEST harness pattern only: it plans a job per poll and
    holds the result on the driver. Production stream monitoring should
    hang a ``StreamingQueryListener`` on ``spark.streams`` (progress
    events push ``numInputRows``/``batchDuration`` per micro-batch, no
    polling jobs) or read ``q.lastProgress`` — see
    ``tests/test_streaming.py`` for the listener-based variant.

    Cleanup: the checkpoint is the drains' temp ``_checkpoint``, removed
    on return; the result is materialized into a LOCAL (non-streaming)
    DataFrame and the memory-sink temp view dropped, so repeated
    invocations accumulate no session or disk state.
    """
    import time

    spark = sdf.sparkSession
    with _checkpoint() as ckpt:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            deadline = time.monotonic() + timeout_sec
            while spark.table(name).count() < min_rows:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"stream {name!r} produced <{min_rows} rows in {timeout_sec}s"
                    )
                if not q.isActive:
                    raise RuntimeError(f"stream {name!r} died: {q.exception()}")
                time.sleep(0.25)
            sink = spark.table(name)
            # Detach the result from the sink view before dropping it.
            out = spark.createDataFrame(sink.collect(), sink.schema)
        finally:
            q.stop()
            spark.catalog.dropTempView(name)
            spark.streams.resetTerminated()
    return out


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    keys: Sequence[str] = ("event_type",),
    value_col: str | None = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window count/sum per key. Batch and streaming: identical
    plan shape (hash agg keyed by (window, keys)); with ``watermark`` set
    the streaming state store drops windows older than max(event_time) −
    delay."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.sum(F.col(value_col).cast("decimal(12,2)")).cast("double").alias("total_value"))
    w = F.window(F.col(ts_col), width)
    out_cols = ["n_events"] + (["total_value"] if value_col else [])
    return (
        df.groupBy(w.alias("w"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *keys, *out_cols)
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "30 minutes",
    keys: Sequence[str] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows
    (Spark expands via a generator — no self-join)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide).alias("w"), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based): state merges adjacent events per key
    until a quiet period ≥ gap. session_window start = first event ts,
    end = last event ts + gap."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound: right
    rows match left rows with the same ``key`` and
    ``left_ts + lower <= right_ts <= left_ts + upper`` (e.g. purchases
    within an hour of the click that led to them).

    Unlike the stream-static join (no state), BOTH sides buffer rows in
    the state store; the watermark + time-range condition are what make
    that state BOUNDED — each side can discard rows once the other
    side's watermark passes the interval, which is the only formulation
    that survives unbounded streams (without the time bound Spark
    rejects the plan outright for append mode). The drained INNER result
    must equal the batch join with the identical predicate — that
    equality is this operator's oracle contract.

    ``how="left_outer"`` additionally emits null-padded rows for left
    rows that never matched — but ONLY once the watermark proves no
    match can still arrive: a left row's null row is emitted when
    ``left_ts + upper`` falls below the final event-time watermark
    (max event time − watermark delay). Left rows younger than that
    horizon are withheld even at end of stream — the price of
    correctness over unbounded input, and exactly the visible semantics
    the declared query's oracle replays (the stream_dedup_expiry
    discipline: make the watermark DO something checkable).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"stream_stream_interval_join: unsupported how={how!r}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] + F.expr(f"INTERVAL {lower}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful exactly-once dedup on ``keys`` with bounded state: a
    duplicate arriving within the watermark delay of the original is
    dropped; state for keys older than the watermark is evicted (the
    always-on variant, ``dropDuplicates``, would grow state forever)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def run_available_now(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame (``_drain_available_now``) into an
    in-memory table; returns the result as a batch DataFrame.

    Used by tests and the declared-query harness; production sinks swap
    ``format('memory')`` for parquet/kafka with the same trigger.

    The sink temp view survives the call (the returned DataFrame reads
    it) but is REPLACED by the next drain under the same name, so session
    growth is bounded by the number of distinct query names.
    """
    _drain_available_now(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        checkpoint_dir,
    )
    return sdf.sparkSession.table(name)


def run_available_now_to_parquet(sdf: DataFrame, path: str) -> DataFrame:
    """Drain a streaming DataFrame (``_drain_available_now``) into a
    PARQUET sink and read the result back — the scale-true sink path: the
    memory-sink harness above holds results on the driver heap, a file
    sink streams each partition straight to storage and is the only shape
    that survives a 100 TB day.

    File sinks support append mode only, which also means windowed
    aggregations flush a window only once the watermark passes its end —
    the final open windows of a drained stream stay unemitted by contract.
    Row-wise operators (dedup, stateful per-event emission, maps) emit
    everything and round-trip exactly.
    """
    _drain_available_now(
        sdf.writeStream.format("parquet").option("path", path).outputMode("append")
    )
    return sdf.sparkSession.read.parquet(path)


def _latest_snapshot_below(state_dir: str, epoch_id: int) -> str | None:
    """Newest ``v_*`` snapshot STRICTLY below this epoch's own version.

    Replay safety for foreachBatch merges: if epoch N crashed after
    writing ``v_N`` but before its checkpoint committed, the redelivered
    batch must merge into N-1's state again — reading ``versions[-1]``
    would re-add the same counts into epoch N's own output. (A max-merge
    is idempotent and would survive that; a SUM-merge would not.)"""
    if not os.path.isdir(state_dir):
        return None
    own = f"v_{epoch_id:08d}"
    versions = sorted(d for d in os.listdir(state_dir) if d.startswith("v_") and d < own)
    return versions[-1] if versions else None


def _run_snapshot_merge(
    sdf: DataFrame,
    state_dir: str,
    reduce_batch: Callable[[DataFrame], DataFrame],
    reduce_state: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a stream through a ``foreachBatch`` sink whose state is a
    parquet snapshot per epoch under ``state_dir`` (mirroring the
    one-immutable-snapshot-per-version commits of sources/txn.py).

    Per micro-batch: ``reduce_batch`` the batch, union it with
    ``_latest_snapshot_below`` this epoch, ``reduce_state`` the union,
    write snapshot ``v_{epoch}``. Reading below the epoch's own version
    makes a replayed epoch N re-merge its batch into snapshot N-1, never
    into its own output. State is O(keys); each micro-batch shuffles
    O(batch + keys), never history. Returns the final snapshot as a batch
    DataFrame.
    """
    spark = sdf.sparkSession

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        part = reduce_batch(batch)
        prev = _latest_snapshot_below(state_dir, epoch_id)
        if prev is not None:
            cur = spark.read.parquet(os.path.join(state_dir, prev))
            part = reduce_state(cur.unionByName(part))
        part.write.mode("overwrite").parquet(os.path.join(state_dir, f"v_{epoch_id:08d}"))

    _drain_available_now(sdf.writeStream.foreachBatch(_merge).outputMode("append"), checkpoint_dir)
    versions = sorted(glob.glob(os.path.join(state_dir, "v_*")))
    if not versions:
        raise RuntimeError(f"foreachBatch merge produced no state snapshot in {state_dir}")
    return spark.read.parquet(versions[-1])


def run_foreach_batch_upsert(
    sdf: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a stream through a ``foreachBatch`` MERGE that maintains a
    latest-row-per-key state table — the standard streaming-upsert sink
    (Delta's ``foreachBatch`` + MERGE recipe, minus the transaction log:
    ``_run_snapshot_merge``'s epoch snapshots stand in for it).

    Both reduce steps keep the latest row per key (max ``order_cols``,
    fully deterministic). Because the merge keeps the ORDER-maximum (not
    the arrival-latest), the final state is independent of how the source
    chops files into micro-batches — replay/out-of-order delivery
    converges to the same table, which is what makes the batch
    window-query oracle exact. Returns the final state as a batch
    DataFrame.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    return _run_snapshot_merge(sdf, state_dir, _latest, _latest, checkpoint_dir)


def run_foreach_batch_topk_view(
    sdf: DataFrame,
    state_dir: str,
    group_cols: Sequence[str],
    partition_cols: Sequence[str],
    k: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a stream through a ``foreachBatch`` sink that maintains an
    incrementally-updated TOP-K MATERIALIZED VIEW — the streaming answer
    to "rank inside a window", which Structured Streaming cannot express
    natively (no rank() on a streaming DataFrame): keep an ADDITIVE count
    state per ``group_cols`` and derive the rank from state, never from
    history.

    ``_run_snapshot_merge`` counts each batch per group and SUM-merges the
    partial counts into the state snapshot. The final ranking
    (row_number ≤ k per ``partition_cols``, ordered by count desc with the
    group key as deterministic tiebreak) runs over the O(groups)-sized
    state table.

    Returns the ranked top-k view as a batch DataFrame with columns
    ``*group_cols, n_events, rank``.
    """

    def _count(batch: DataFrame) -> DataFrame:
        return batch.groupBy(*group_cols).agg(F.count(F.lit(1)).cast("long").alias("n_events"))

    def _sum(df: DataFrame) -> DataFrame:
        return df.groupBy(*group_cols).agg(F.sum("n_events").cast("long").alias("n_events"))

    state = _run_snapshot_merge(sdf, state_dir, _count, _sum, checkpoint_dir)
    tiebreak = [c for c in group_cols if c not in partition_cols]
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col("n_events").desc(), *[F.col(c) for c in tiebreak]
    )
    return (
        state.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
