"""Round-7 wave: n-gram novelty conservation, first-touch attribution,
LISTAGG determinism — contract pins beyond the oracle."""

from __future__ import annotations

import datetime


def test_novelty_conservation_law(spark, tmp_path, pad_testdata_table):
    """Σ n_first over documents counts each distinct corpus gram exactly
    once; a pure replica scores novelty 0."""
    from cyrela_etl_spark.queries.textq import text_ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # exact replica of doc 1
            (3, "epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    pad_testdata_table(docs, "documents").write.parquet(f"{tmp_path}/documents.parquet")
    rows = {r["doc_id"]: r for r in text_ngram_novelty(spark, str(tmp_path)).collect()}
    assert rows[1]["novelty_ppm"] == 1_000_000
    assert rows[2]["novelty_ppm"] == 0  # every gram first seen in doc 1
    assert rows[3]["novelty_ppm"] == 1_000_000
    total_first = sum(r["n_first"] for r in rows.values())
    # 2 distinct 3-shingles per 4-token doc; docs 1+3 disjoint -> 4 grams
    assert total_first == 4


def test_first_touch_earliest_click_wins(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    def ev(eid, minute, user, etype, value, k):
        return (
            eid,
            datetime.datetime(2026, 6, 1, 12, minute),
            user,
            etype,
            value,
            '{"k": %d}' % k,
        )

    tiny = spark.createDataFrame(
        [
            ev(1, 0, 7, "click", 0.0, 3),    # channel 3 — FIRST touch
            ev(2, 10, 7, "click", 0.0, 5),   # channel 5 — last touch
            ev(3, 20, 7, "purchase", 50.0, 0),
            ev(4, 0, 8, "purchase", 10.0, 0),  # no click -> channel -1
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = {r["channel"]: r for r in temporalq.events_first_touch(spark, "x").collect()}
    assert rows[3]["n_purchases"] == 1 and rows[3]["revenue"] == 50.0
    assert rows[-1]["n_purchases"] == 1 and rows[-1]["revenue"] == 10.0
    assert 5 not in rows  # last-touch channel gets no credit here


def test_listagg_order_is_input_order_free(spark, monkeypatch):
    from cyrela_etl_spark.queries import relational

    tiny = spark.createDataFrame(
        [("CANADA", 1), ("BRAZIL", 1), ("ARGENTINA", 1)],
        "n_name string, n_regionkey int",
    ).repartition(3)
    monkeypatch.setattr(
        relational, "read_table", lambda spark, sf_dir, name: tiny if name == "nation" else None
    )
    row = relational.agg_listagg(spark, "x").collect()[0]
    assert row["names_csv"] == "ARGENTINA,BRAZIL,CANADA"
