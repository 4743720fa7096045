"""Round-7 wave: deterministic LPA communities, MAD robust anomalies,
weighted median. Registry entries are oracle-checked; these tests pin the
hand-computed recurrences and the degenerate-key guards the oracle's
sf0.01 run may never exercise.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------
def _lpa(spark, edges, iterations=2):
    from cyrela_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: (r["community"], r["community_size"])
        for r in label_propagation(df, iterations=iterations).collect()
    }


TWO_TRIANGLES = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]


def test_lpa_two_rounds_hand_computed(spark):
    # Round 1 (majority neighbor label, ties -> min):
    #   1:{2,3}->2  2:{1,3}->1  3:{1,2,4}->1  4:{3,5,6}->3  5:{4,6}->4  6:{4,5}->4
    # Round 2 over those labels:
    #   1:{1,1}->1  2:{2,1}->1  3:{2,1,3}->1  4:{1,4,4}->4  5:{3,4}->3  6:{3,4}->3
    got = _lpa(spark, TWO_TRIANGLES)
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (4, 1),
        5: (3, 2),
        6: (3, 2),
    }


def test_lpa_orientation_and_duplicate_invariant(spark):
    """Reversed / duplicated input edges describe the same undirected
    graph and must yield identical communities."""
    messy = TWO_TRIANGLES + [(b, a) for a, b in TWO_TRIANGLES] + [(1, 2), (2, 1)]
    assert _lpa(spark, messy) == _lpa(spark, TWO_TRIANGLES)


def test_lpa_plan_equi_joins_only(spark):
    from cyrela_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(TWO_TRIANGLES, "id_a long, id_b long")
    plan = _plan(label_propagation(df, iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the argmax is a struct-max aggregate, not a per-node window sort
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# mad_anomalies
# ---------------------------------------------------------------------------
def test_mad_flags_only_true_outlier(spark):
    from cyrela_etl_spark.operators.profile import mad_anomalies

    rows = [(i, "b", v) for i, v in enumerate([10.0, 12.0, 14.0, 16.0, 18.0, 1000.0])]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = mad_anomalies(df, "event_type", "value", "event_id").collect()
    # median 15, deviations [5,3,1,1,3,985], MAD 3 -> only 1000.0 crosses 3.5
    assert [r["event_id"] for r in out] == [5]
    assert out[0]["key_median"] == 15.0
    assert out[0]["key_mad"] == 3.0
    assert out[0]["robust_z"] == round(0.6745 * (985.0 / 3.0), 6)


def test_mad_zero_mad_key_dropped(spark):
    """>=half identical values => MAD=0 => no deviation scale: the key
    must be dropped entirely, not flag every row (the zscore guard's
    sibling)."""
    from cyrela_etl_spark.operators.profile import mad_anomalies

    rows = [(i, "a", v) for i, v in enumerate([1.0, 1.0, 1.0, 2.0, 100.0])]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    assert mad_anomalies(df, "event_type", "value", "event_id").count() == 0


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------
def test_weighted_median_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import relational

    tiny = spark.createDataFrame(
        [("N", 10.0, 1.0), ("N", 20.0, 2.0), ("N", 30.0, 1.0), ("R", 5.0, 3.0)],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    monkeypatch.setattr(
        relational, "read_table", lambda spark, sf_dir, name: tiny if name == "lineitem" else None
    )
    rows = {
        r["l_returnflag"]: r
        for r in relational.agg_weighted_median(spark, "ignored").collect()
    }
    # N: cum weights 10->1, 20->3, 30->4; total 4; first 2*cw>=4 is 20
    assert rows["N"]["weighted_median_price"] == 20.0
    assert rows["N"]["total_weight"] == 4.0
    assert rows["N"]["n_rows"] == 3
    # single-row key: its value is the weighted median
    assert rows["R"]["weighted_median_price"] == 5.0


def test_weighted_median_tied_values_share_cumweight(spark, monkeypatch):
    """Equal prices are RANGE-frame peers: they share one cumulative
    weight, so the crossing test can't depend on their arrival order."""
    from cyrela_etl_spark.queries import relational

    tiny = spark.createDataFrame(
        [("N", 10.0, 1.0), ("N", 10.0, 1.0), ("N", 99.0, 1.0)],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    ).repartition(3)
    monkeypatch.setattr(
        relational, "read_table", lambda spark, sf_dir, name: tiny if name == "lineitem" else None
    )
    row = relational.agg_weighted_median(spark, "ignored").collect()[0]
    # both 10s carry cum weight 2 (>= 3/2 doubled), so the median is 10
    assert row["weighted_median_price"] == 10.0
