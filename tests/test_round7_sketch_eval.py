"""Round-7 sketch/eval wave: Count-Min estimates, ANN recall report,
bot-regularity detection. Registry entries are oracle-checked; these pin
the guarantees the oracle can't see: the CMS one-sided error bound, the
recall identity on a self-comparison, and hand-computed CV flags on
metronomic vs bursty streams.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# scale_countmin_estimate
# ---------------------------------------------------------------------------
def test_countmin_never_underestimates(spark):
    """The defining CMS guarantee: estimate ≥ true count, always."""
    from cyrela_etl_spark.queries.relational import scale_countmin_estimate

    out = scale_countmin_estimate(spark, SF).toPandas()
    assert len(out) == 10
    assert (out["overestimate"] >= 0).all()
    assert (out["cms_estimate"] >= out["true_count"]).all()


def test_countmin_estimate_bounded_by_total_mass(spark):
    """No counter can exceed the total event count — a row-hash bug that
    merged rows would break this."""
    from cyrela_etl_spark.queries.relational import scale_countmin_estimate
    from cyrela_etl_spark.sources.parquet import read_table

    out = scale_countmin_estimate(spark, SF).toPandas()
    total = read_table(spark, SF, "events").count()
    assert (out["cms_estimate"] <= total).all()


# ---------------------------------------------------------------------------
# vector_recall_report
# ---------------------------------------------------------------------------
def test_recall_bounds_and_exact_self_recall(spark):
    """IVF recall lies in [0,1] with n_hits ≤ k; comparing the exact
    ranking against itself must yield recall 1.0 for every query."""
    from cyrela_etl_spark.operators.similarity import cosine_topk
    from cyrela_etl_spark.queries.vectorq import (
        _K,
        _emb,
        _queries_df,
        vector_recall_report,
    )

    out = vector_recall_report(spark, SF).toPandas()
    assert (out["n_hits"] <= _K).all()
    assert out["recall_at_k"].between(0.0, 1.0).all()

    exact = cosine_topk(_emb(spark, SF), _queries_df(spark, SF), k=_K).select(
        "query_id", "vec_id"
    )
    self_hits = (
        exact.alias("a")
        .join(
            exact.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.vec_id") == F.col("b.vec_id")),
        )
        .groupBy(F.col("a.query_id"))
        .count()
        .toPandas()
    )
    assert (self_hits["count"] == _K).all()


# ---------------------------------------------------------------------------
# events_bot_regularity
# ---------------------------------------------------------------------------
def _ev_rows(uid, gaps_s):
    t = datetime.datetime(2026, 1, 1)
    rows, cur = [], t
    for i, g in enumerate([0] + gaps_s):
        cur = cur + datetime.timedelta(seconds=g)
        rows.append(
            {
                "event_id": uid * 1000 + i,
                "ts": cur,
                "user_id": uid,
                "event_type": "x",
                "value": 1.0,
                "props": "{}",
            }
        )
    return rows


def test_bot_regularity_flags_metronome_not_burst(spark, monkeypatch):
    """User 1 ticks every 60 s exactly (cv 0) → flagged; user 2 has
    wildly varying gaps (cv >> 0.3) → not flagged."""
    from cyrela_etl_spark.queries import temporalq

    rows = _ev_rows(1, [60] * 6) + _ev_rows(2, [1, 600, 5, 900, 2, 1200])
    ev = spark.createDataFrame(pd.DataFrame(rows))
    monkeypatch.setattr(temporalq, "read_table", lambda s, d, name: ev)
    out = temporalq.events_bot_regularity(spark, SF).toPandas().set_index("user_id")
    assert bool(out.loc[1, "is_regular"]) is True
    assert out.loc[1, "gap_cv"] == 0.0
    assert out.loc[1, "mean_gap_ms"] == 60000.0
    assert bool(out.loc[2, "is_regular"]) is False
    assert out.loc[2, "gap_cv"] > 0.3


def test_bot_regularity_min_gap_floor(spark, monkeypatch):
    """Users with fewer than the minimum gap count are excluded — too few
    samples to call anyone a bot."""
    from cyrela_etl_spark.queries import temporalq

    rows = _ev_rows(1, [60] * 3)  # 3 gaps < the 5-gap floor
    ev = spark.createDataFrame(pd.DataFrame(rows))
    monkeypatch.setattr(temporalq, "read_table", lambda s, d, name: ev)
    assert temporalq.events_bot_regularity(spark, SF).count() == 0


def test_bot_regularity_single_window_shuffle(spark):
    from cyrela_etl_spark.queries.temporalq import events_bot_regularity

    plan = (
        events_bot_regularity(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
