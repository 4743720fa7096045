"""Round-7 wave: forward as-of direction, Gini type diversity, k-NN
majority-vote classification — contract pins the oracles can't see.
"""

from __future__ import annotations

import datetime

import pytest


def _ts(minute: int):
    return datetime.datetime(2026, 5, 1, 12, minute)


# ---------------------------------------------------------------------------
# asof_join direction="forward"
# ---------------------------------------------------------------------------
def _asof(spark, direction, left_rows, right_rows):
    from cyrela_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(left_rows, "event_id long, ts timestamp, user_id long")
    right = spark.createDataFrame(right_rows, "user_id long, p_ts timestamp, p_value double")
    return asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="p_ts",
        right_value_cols=["p_value"], suffix="", direction=direction,
    ).collect()


def test_asof_forward_picks_next_at_or_after(spark):
    rows = _asof(
        spark,
        "forward",
        [(1, _ts(10), 7), (2, _ts(30), 7)],
        [(7, _ts(10), 1.0), (7, _ts(20), 2.0), (7, _ts(40), 3.0)],
    )
    got = {r["event_id"]: r["p_value"] for r in rows}
    # equal-ts right row IS visible (>=); the later click skips to :40
    assert got == {1: 1.0, 2: 3.0}


def test_asof_forward_no_future_match_is_null(spark):
    rows = _asof(spark, "forward", [(1, _ts(50), 7)], [(7, _ts(20), 2.0)])
    assert rows[0]["p_value"] is None


def test_asof_backward_unchanged(spark):
    rows = _asof(
        spark,
        "backward",
        [(1, _ts(30), 7)],
        [(7, _ts(10), 1.0), (7, _ts(20), 2.0), (7, _ts(40), 3.0)],
    )
    assert rows[0]["p_value"] == 2.0


def test_asof_rejects_unknown_direction(spark):
    with pytest.raises(ValueError, match="direction"):
        _asof(spark, "nearest", [(1, _ts(0), 7)], [(7, _ts(0), 1.0)])


# ---------------------------------------------------------------------------
# events_type_diversity
# ---------------------------------------------------------------------------
def test_gini_diversity_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    rows = [
        (1, _ts(0), 1, "a", 1.0),
        (2, _ts(1), 1, "a", 1.0),
        (3, _ts(2), 1, "b", 1.0),
        (4, _ts(3), 1, "b", 1.0),
        (5, _ts(4), 2, "a", 1.0),
    ]
    tiny = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    got = {r["user_id"]: r for r in temporalq.events_type_diversity(spark, "x").collect()}
    # user 1: N=4, s2=8 -> (1e6*(16-8)) div 16 = 500000 (uniform over 2 types)
    assert got[1]["n_types"] == 2 and got[1]["gini_ppm"] == 500_000
    # user 2: single event, single type -> impurity 0
    assert got[2]["gini_ppm"] == 0


# ---------------------------------------------------------------------------
# vector_knn_classify
# ---------------------------------------------------------------------------
def test_knn_majority_and_tiebreak(spark):
    """Direct vote-layer check: 5 neighbors with labels [2,2,1,1,3] must
    predict 1 (votes tie 2-2, smallest label wins)."""
    from pyspark.sql import functions as F

    topk = spark.createDataFrame(
        [(0, v) for v in [11, 12, 13, 14, 15]], "query_id long, vec_id long"
    )
    labels = spark.createDataFrame(
        [(11, 2), (12, 2), (13, 1), (14, 1), (15, 3)], "vec_id long, label long"
    )
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    best = (
        votes.groupBy("query_id")
        .agg(F.max(F.struct(F.col("votes"), (-F.col("label")).alias("nl"))).alias("w"))
        .select("query_id", (-F.col("w.nl")).cast("long").alias("predicted_label"))
    ).collect()
    assert best[0]["predicted_label"] == 1
