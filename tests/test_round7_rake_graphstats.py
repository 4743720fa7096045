"""Round-7 wave: RAKE keywords, degree assortativity, DAU/MAU
stickiness — hand-computed pins behind the oracle-checked entries.
"""

from __future__ import annotations

import datetime


# ---------------------------------------------------------------------------
# text_rake_keywords
# ---------------------------------------------------------------------------
def test_rake_hand_computed(spark, tmp_path, pad_testdata_table):
    from cyrela_etl_spark.queries.textq import text_rake_keywords

    docs = spark.createDataFrame(
        [(1, "red apple and green apple")], "doc_id long, text string"
    )
    pad_testdata_table(docs, "documents").write.parquet(f"{tmp_path}/documents.parquet")
    rows = text_rake_keywords(spark, str(tmp_path)).collect()
    # phrases: "red apple", "green apple" (split on stopword "and");
    # deg/freq: red 2/1, green 2/1, apple 4/2 -> all 2.0 => 2e6 ppm;
    # both phrases score 4e6; tie broken by phrase asc
    assert [(r["phrase"], r["n_occurrences"], r["score_ppm"]) for r in rows] == [
        ("green apple", 1, 4_000_000),
        ("red apple", 1, 4_000_000),
    ]


def test_rake_long_runs_dropped(spark, tmp_path, pad_testdata_table):
    """A stopword-free run longer than the 4-token cap contributes
    neither a phrase nor word-score mass."""
    from cyrela_etl_spark.queries.textq import text_rake_keywords

    docs = spark.createDataFrame(
        [(1, "one two three four five"), (2, "big data")],
        "doc_id long, text string",
    )
    pad_testdata_table(docs, "documents").write.parquet(f"{tmp_path}/documents.parquet")
    rows = text_rake_keywords(spark, str(tmp_path)).collect()
    assert [r["phrase"] for r in rows] == ["big data"]


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------
def test_assortativity_star_is_minus_one(spark):
    from cyrela_etl_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    row = degree_assortativity(star).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 3
    # a star is the canonical perfectly disassortative graph
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_null(spark):
    from cyrela_etl_spark.operators.graph import degree_assortativity

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    row = degree_assortativity(tri).collect()[0]
    # all degrees equal -> zero variance -> undefined, emitted as NULL
    assert row["assortativity"] is None


# ---------------------------------------------------------------------------
# events_stickiness
# ---------------------------------------------------------------------------
def test_stickiness_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    def ev(day, user):
        return (user * 10 + day, datetime.datetime(2026, 4, day, 12, 0), user, "t", 1.0)

    tiny = spark.createDataFrame(
        [ev(1, 1), ev(1, 2), ev(2, 2), ev(2, 3)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = {
        r["day"].day: r for r in temporalq.events_stickiness(spark, "ignored").collect()
    }
    assert rows[1]["dau"] == 2 and rows[1]["mau"] == 3
    assert rows[1]["stickiness"] == round(2 / 3, 6)
    assert rows[2]["stickiness"] == round(2 / 3, 6)
