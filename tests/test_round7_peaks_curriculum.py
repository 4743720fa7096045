"""Round-7 wave: peak/valley detection, gap-magnitude histogram,
curriculum staging — hand-computed pins."""

from __future__ import annotations

import datetime


def _mk_events(spark, daily_counts):
    rows, eid = [], 0
    for day, cnt in enumerate(daily_counts):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime.datetime(2026, 7, 1 + day, 10, 0), 1, "t", 1.0))
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_peak_days_endpoints_excluded(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    # series 5, 9, 3, 3, 8: day2 is a peak, day3 a valley (strict only on
    # one side -> day4 is nothing), endpoints never classified
    tiny = _mk_events(spark, [5, 9, 3, 3, 8])
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    got = {r["day"].day: r["kind"] for r in temporalq.events_peak_days(spark, "x").collect()}
    assert got == {2: "peak"}  # day3 (3) ties day4 (3): not strictly below both


def test_peak_and_valley_detected(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    tiny = _mk_events(spark, [5, 9, 3, 8, 6])
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    got = {r["day"].day: r["kind"] for r in temporalq.events_peak_days(spark, "x").collect()}
    assert got == {2: "peak", 3: "valley", 4: "peak"}


def test_gap_histogram_digit_buckets(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    base = datetime.datetime(2026, 7, 1, 0, 0, 0)
    # gaps: 5 ms (1 digit), 500 ms (3 digits), 5000 ms (4 digits)
    times = [base]
    for ms in (5, 500, 5000):
        times.append(times[-1] + datetime.timedelta(milliseconds=ms))
    tiny = spark.createDataFrame(
        [(i + 1, t, 1, "t", 1.0) for i, t in enumerate(times)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    from cyrela_etl_spark.queries import temporalq as tq

    monkeypatch.setattr(tq, "read_table", lambda spark, sf_dir, name: tiny)
    got = {
        r["gap_digits"]: (r["n_gaps"], r["share_ppm"])
        for r in tq.events_gap_magnitude_histogram(spark, "x").collect()
    }
    assert got == {1: (1, 333333), 3: (1, 333333), 4: (1, 333333)}


def test_curriculum_stage_order_and_budget(spark, tmp_path, pad_testdata_table):
    from cyrela_etl_spark.queries.textq import corpus_curriculum_stages

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([1, 2, 3, 4, 5, 6, 7, 8])],
        "doc_id long, text string",
    )
    pad_testdata_table(docs, "documents").write.parquet(f"{tmp_path}/documents.parquet")
    rows = {r["doc_id"]: r for r in corpus_curriculum_stages(spark, str(tmp_path)).collect()}
    # shortest docs lead the curriculum; 8 docs / 4 stages = 2 each
    assert rows[0]["stage"] == 1 and rows[0]["position"] == 1
    assert rows[7]["stage"] == 4 and rows[7]["position"] == 8
    # stage 1 holds tokens 1+2 of total 36 -> 83333 ppm
    assert rows[0]["stage_tokens"] == 3
    assert rows[0]["stage_share_ppm"] == 83333


def test_bpe_pairs_hand_computed(spark, tmp_path, pad_testdata_table):
    from cyrela_etl_spark.queries.textq import text_bpe_pair_stats

    docs = spark.createDataFrame(
        # "abab" pairs: ab, ba, ab; "ab": ab; "x" (1-char): MUST emit none
        [(1, "abab ab x")],
        "doc_id long, text string",
    )
    pad_testdata_table(docs, "documents").write.parquet(f"{tmp_path}/documents.parquet")
    rows = [(r["pair"], r["n_occurrences"]) for r in text_bpe_pair_stats(spark, str(tmp_path)).collect()]
    assert rows == [("ab", 3), ("ba", 1)]


def test_concurrency_curve_meeting_rooms(spark, monkeypatch):
    """Three users: A 10:00-10:10, B 10:05-10:15, C 10:12-10:20 ->
    peak 2 (A∩B, then B∩C); sessions touching at an instant do NOT
    overlap (end's -1 sorts before start's +1)."""
    import datetime

    from cyrela_etl_spark.queries import temporalq

    def ev(eid, user, minute):
        return (eid, datetime.datetime(2026, 8, 1, 10, minute), user, "t", 1.0)

    tiny = spark.createDataFrame(
        [
            ev(1, 1, 0), ev(2, 1, 10),
            ev(3, 2, 5), ev(4, 2, 15),
            ev(5, 3, 12), ev(6, 3, 20),
            # user 4's session starts exactly when user 1's ends: no overlap
            ev(7, 4, 10), ev(8, 4, 11),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = temporalq.temporal_concurrency_curve(spark, "x").collect()
    assert len(rows) == 1
    # at 10:05-10:10 three would overlap only if the touch counted: A,B
    # plus C from 10:12 with B; plus user 4 10:10-10:11 with B. Peak = 3?
    # intervals: A[0,10] B[5,15] C[12,20] D[10,11]
    # t in (5,10): A,B = 2; t=10: A ends before D starts -> B,D = 2;
    # t in (12,15): B,C,? D ended at 11 -> 2. Peak = 2... but B/D/A at 10:
    # -1(A) then +1(D) -> never 3.
    assert rows[0]["peak_concurrent"] == 2
