"""Round-7 wave: CUSUM drift, asymmetric containment, moments profile.
Pins the hand-computed recurrences/identities behind the oracle-checked
registry entries.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# temporal_cusum_drift
# ---------------------------------------------------------------------------
def test_cusum_window_identity_matches_recursive_form(spark, monkeypatch):
    """Daily counts [10,10,10,20,20] -> target 14, k 1; the recursive
    CUSUM s_i = max(0, s_{i-1} + d_i) gives peaks high=10, low=9 — the
    closed-form window identity must reproduce them exactly."""
    from cyrela_etl_spark.queries import temporalq

    rows = []
    eid = 0
    for day, cnt in enumerate([10, 10, 10, 20, 20]):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime.datetime(2026, 3, 1 + day, 12, 0), "t", 1.0))
    tiny = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    row = temporalq.temporal_cusum_drift(spark, "ignored").collect()[0]
    assert row["n_days"] == 5
    assert row["target_per_day"] == 14
    assert row["slack_k"] == 1
    assert row["peak_high"] == 10
    assert row["peak_low"] == 9
    assert row["drift_alarm"] is True  # 10 > 5*k


def test_cusum_steady_series_no_alarm(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    rows = []
    eid = 0
    for day in range(4):
        for _ in range(20):
            eid += 1
            rows.append((eid, datetime.datetime(2026, 3, 1 + day, 9, 0), "t", 1.0))
    tiny = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    row = temporalq.temporal_cusum_drift(spark, "ignored").collect()[0]
    # constant series: every deviation is -k / -k, both CUSUMs pinned at 0
    assert row["peak_high"] == 0
    assert row["peak_low"] == 0
    assert row["drift_alarm"] is False


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------
def test_containment_sees_subset_jaccard_misses(spark):
    """A short doc quoted verbatim inside a long one: containment_a = 1.0
    while Jaccard stays below any dedup threshold — the operator's reason
    to exist."""
    from cyrela_etl_spark.operators.dedup import containment_pairs, word_shingles

    quote = "alpha beta gamma delta"
    long_doc = "one two three four five six seven eight " + quote + " nine ten eleven"
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = containment_pairs(docs, cand, n=3, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["containment_a"] == 1.0
    n_a = 2  # 4 tokens -> 2 distinct 3-shingles
    n_b = docs.filter("doc_id = 2").select(
        F.size(word_shingles(F.col("text"), 3))
    ).collect()[0][0]
    assert r["n_shared"] == n_a
    assert r["containment_b"] == round(n_a / n_b, 6)
    # jaccard = 2 / (n_b + 0) would NOT cross 0.5
    assert n_a / n_b < 0.5


def test_containment_below_threshold_dropped(spark):
    from cyrela_etl_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z w v u t s r q p")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    # shared shingles: only "a b c" -> containment_a = 1/4 = 0.25 < 0.5
    assert containment_pairs(docs, cand, n=3, threshold=0.5).count() == 0


# ---------------------------------------------------------------------------
# moments_profile
# ---------------------------------------------------------------------------
def test_moments_uniform_discrete_hand_computed(spark):
    from cyrela_etl_spark.operators.profile import moments_profile

    df = spark.createDataFrame(
        [("k", float(v)) for v in [1, 2, 3, 4, 5]], "key string, v double"
    )
    row = moments_profile(df, "key", "v").collect()[0]
    # mean 3, m2 = 2, symmetric -> skew 0; m4 = 6.8 -> kurt 1.7 -> excess -1.3
    assert row["mean_value"] == 3.0
    assert row["pop_variance"] == 2.0
    assert row["skewness"] == 0.0
    assert row["ex_kurtosis"] == -1.3


def test_moments_constant_key_dropped(spark):
    from cyrela_etl_spark.operators.profile import moments_profile

    df = spark.createDataFrame(
        [("k", 7.0), ("k", 7.0), ("k", 7.0)], "key string, v double"
    )
    assert moments_profile(df, "key", "v").count() == 0
