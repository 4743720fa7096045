"""Model-check wave 4: the within-watermark dedup-expiry protocol
(queries/streamingq.py stream_dedup_expiry + streaming/ops.py
dedup_within_watermark) re-derived as a plain-Python MICRO-BATCH STATE
MACHINE.

Why this one: the query's DuckDB oracle states the drained RELATION
(events ∪ tick ∪ expired-key re-sends) as set algebra — it is blind to
the protocol that produces it. This model executes the protocol itself:

  per micro-batch (maxFilesPerTrigger=1, mtime order):
    1. rows with event time below the CURRENT watermark are late-dropped;
    2. a row whose key is in state is dropped; otherwise it is emitted
       and inserted (state value = its event time);
    3. END-of-batch cleanup: the watermark advances to
       max(event time seen so far) - delay, and entries with
       ts + delay < new watermark are evicted (eviction at cleanup, NOT
       at lookup — the property the r6 round verified against Spark and
       the fixture's margins depend on).

So a regression in eviction TIMING (evict-at-lookup, evict-before-emit,
watermark advancing mid-batch) changes this model's output and would be
caught here even where the set-algebra oracle still matches by luck of
the margins.

The model reconstructs the query's exact 3-file layout from the same
events table: batch 1 = all events; batch 2 = one tick row at max(ts)
(fresh key -1 — the intervening batch that lets the watermark evict);
batch 3 = re-sends (expired subset event_id%7==0 with ts+150min <
max(ts), plus every alive row with ts+90min > max(ts)) re-stamped to
ts' = max(ts) + 3660s + (event_id % 3600)s.
"""

from __future__ import annotations
import pytest

from collections import Counter
from datetime import timedelta


def test_stream_dedup_expiry_matches_state_machine_model(spark, sf_dir, tmp_path):
    """The query builds its arrivals with pyarrow, so its ``ts`` decode is
    pinned to ``read_table`` on two more copies of the events table: ``ts``
    as timestamp[ns] drains to the model built from ``read_table`` on that
    copy, and ``ts`` as a raw int64 raises SchemaDriftError."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cyrela_etl_spark.queries.streamingq import stream_dedup_expiry
    from cyrela_etl_spark.sources.parquet import SchemaDriftError

    events = pq.read_table(f"{sf_dir}/events.parquet")
    i = events.schema.get_field_index("ts")
    copies = {}
    for name, ts_type in (("ts_ns", pa.timestamp("ns")), ("ts_int64", pa.int64())):
        (tmp_path / name).mkdir()
        pq.write_table(
            events.set_column(i, "ts", events["ts"].cast(ts_type)),
            tmp_path / name / "events.parquet",
        )
        copies[name] = str(tmp_path / name)

    for src in (sf_dir, copies["ts_ns"]):
        _check_against_model(spark, src)
    with pytest.raises(SchemaDriftError, match="events.ts"):
        stream_dedup_expiry(spark, copies["ts_int64"])


def _check_against_model(spark, sf_dir):
    from cyrela_etl_spark.queries.streamingq import stream_dedup_expiry
    from cyrela_etl_spark.sources.parquet import read_table

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    base = [tuple(r[c] for c in cols) for r in read_table(spark, sf_dir, "events").select(*cols).collect()]
    mx = max(r[4] for r in base)
    delay = timedelta(hours=1)

    tick = (-1, -1, "tick", 0.0, mx)
    resent = [
        (eid, uid, et, v, mx + timedelta(seconds=3660 + eid % 3600))
        for (eid, uid, et, v, ts) in base
        if (eid % 7 == 0 and ts + timedelta(minutes=150) < mx)
        or ts + timedelta(minutes=90) > mx
    ]
    batches = [base, [tick], resent]

    # --- the protocol ------------------------------------------------------
    state: dict[int, object] = {}  # key (event_id) -> event time
    watermark = None  # no watermark until the first batch commits
    max_seen = None
    emitted: list[tuple] = []
    for batch in batches:
        for row in batch:
            eid, ts = row[0], row[4]
            if watermark is not None and ts < watermark:
                continue  # late row, dropped before the dedup operator
            if eid in state:
                continue  # duplicate within watermark: dropped
            state[eid] = ts
            emitted.append(row)
            max_seen = ts if max_seen is None else max(max_seen, ts)
        # end-of-batch cleanup: advance watermark, THEN evict
        if max_seen is not None:
            watermark = max_seen - delay
            state = {k: t for k, t in state.items() if t + delay >= watermark}

    want = Counter(emitted)
    got = Counter(
        tuple(r[c] for c in cols)
        for r in stream_dedup_expiry(spark, sf_dir).collect()
    )
    assert got == want

    # the protocol did real work: some re-sends emitted (expired keys),
    # some dropped (alive keys still in state)
    n_resent_emitted = sum(1 for (eid, *_rest, ts) in emitted if ts > mx and eid != -1)
    assert 0 < n_resent_emitted < len(resent), (n_resent_emitted, len(resent))

