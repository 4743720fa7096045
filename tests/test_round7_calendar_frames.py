"""Round-7 wave: filter-agreement composition, calendar dimension,
time-based RANGE frames — contract pins."""

from __future__ import annotations

import datetime


def test_agreement_matrix_sums_to_million(spark):
    from cyrela_etl_spark.queries.textq import quality_filter_agreement

    rows = quality_filter_agreement(spark, "/root/testdata/sf0.001").collect()
    total_ppm = sum(r["share_ppm"] for r in rows)
    # truncating ppm shares can undershoot by at most (cells-1)
    assert 1_000_000 - len(rows) < total_ppm <= 1_000_000
    assert sum(r["n_docs"] for r in rows) > 0


def test_calendar_dim_iso_contract(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    tiny = spark.createDataFrame(
        [
            (1, datetime.datetime(2026, 1, 1, 5, 0), 1, "t", 1.0),   # Thursday
            (2, datetime.datetime(2026, 1, 4, 22, 0), 1, "t", 1.0),  # Sunday
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = {r["day"].day: r for r in temporalq.temporal_calendar_dim(spark, "x").collect()}
    assert len(rows) == 4  # Jan 1..4 inclusive
    assert rows[1]["iso_dow"] == 4 and rows[1]["is_weekend"] is False
    assert rows[4]["iso_dow"] == 7 and rows[4]["is_weekend"] is True
    assert rows[1]["iso_week"] == 1 and rows[1]["day_of_year"] == 1


def test_time_range_frame_trailing_hour(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    def ev(eid, minute):
        return (eid, datetime.datetime(2026, 2, 1, 12, 0) + datetime.timedelta(minutes=minute), 7, "t", 10.0)

    tiny = spark.createDataFrame(
        [ev(1, 0), ev(2, 30), ev(3, 60), ev(4, 61), ev(5, 200)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    got = {
        r["event_id"]: r["n_trailing_1h"]
        for r in temporalq.window_time_range_frame(spark, "x").collect()
    }
    # frame is [ts-3600, ts] inclusive: event 3 (at +60min) still sees event 1
    assert got == {1: 1, 2: 2, 3: 3, 4: 3, 5: 1}
