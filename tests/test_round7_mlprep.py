"""Round-7 ML-prep wave: link prediction, target encoding, feature
hashing. Registry entries are oracle-checked; these tests pin the
semantics the oracle can't see: hand-computed RA scores on a known
graph, the shrinkage direction of smoothed target encoding, the
plan shapes (no nested-loop joins, anti-join closure), and hash-encode
dimensionality invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# operators/graph.py link_prediction
# ---------------------------------------------------------------------------
def test_link_prediction_hand_computed_path(spark):
    """Path graph 1-2-3-4: non-edges with common neighbors are (1,3)
    via 2, (2,4) via 3, each RA = 1/deg(mid) = 1/2 → 500000 ppm; (1,4)
    shares no neighbor and must be absent; existing edges are excluded."""
    from cyrela_etl_spark.operators.graph import link_prediction

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    out = {
        (r["lo"], r["hi"]): (r["n_common"], r["ra_ppm"])
        for r in link_prediction(edges, top_n=10).collect()
    }
    assert out == {(1, 3): (1, 500000), (2, 4): (1, 500000)}


def test_link_prediction_triangle_has_no_candidates(spark):
    """A triangle is transitively closed — every wedge endpoint pair is
    already an edge, so the anti-join must leave nothing."""
    from cyrela_etl_spark.operators.graph import link_prediction

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["id_a", "id_b"])
    assert link_prediction(edges, top_n=10).count() == 0


def test_link_prediction_ra_prefers_low_degree_neighbors(spark):
    """Star through a hub (deg 4) vs a private bridge (deg 2): the pair
    connected via the low-degree bridge must outrank the hub pair."""
    from cyrela_etl_spark.operators.graph import link_prediction

    # hub 0 connects 1,2,3,4; bridge 9 connects 5 and 6
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (9, 5), (9, 6)], ["id_a", "id_b"]
    )
    rows = link_prediction(edges, top_n=100).collect()
    scores = {(r["lo"], r["hi"]): r["ra_ppm"] for r in rows}
    assert scores[(5, 6)] == 500000  # via bridge deg 2
    assert scores[(1, 2)] == 250000  # via hub deg 4
    top = max(scores.items(), key=lambda kv: kv[1])
    assert top[0] == (5, 6)


def test_link_prediction_plan_no_nested_loop(spark):
    from cyrela_etl_spark.queries.textq import graph_link_prediction

    plan = _plan(graph_link_prediction(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# ml_target_encode
# ---------------------------------------------------------------------------
def test_target_encode_shrinks_toward_global_mean(spark):
    """Every segment's encoded mean must lie strictly between its raw
    mean and the global mean (the defining property of shrinkage), and
    closer to raw for larger segments."""
    from cyrela_etl_spark.queries.mlprepq import ml_target_encode

    out = ml_target_encode(spark, SF).toPandas()
    total_orders = out["n_orders"].sum()
    # reconstruct the global mean from raw means (weights = n_orders)
    global_mean = (out["raw_mean"] * out["n_orders"]).sum() / total_orders
    for _, r in out.iterrows():
        lo, hi = sorted([r["raw_mean"], global_mean])
        assert lo - 1e-6 <= r["encoded_mean"] <= hi + 1e-6, r["c_mktsegment"]
        # shrinkage weight matches m/(n+m) within rounding
        m = 20.0
        expected = (r["n_orders"] * r["raw_mean"] + m * global_mean) / (r["n_orders"] + m)
        assert abs(r["encoded_mean"] - expected) < 1e-3


# ---------------------------------------------------------------------------
# ml_feature_hash
# ---------------------------------------------------------------------------
def test_feature_hash_fixed_dimensionality_and_mass(spark):
    """Bucket ids live in [0, 64); total |signed| mass ≤ total features =
    3 per event; distinct features per bucket is bounded by the (tiny)
    true vocabulary."""
    from cyrela_etl_spark.queries.mlprepq import ml_feature_hash
    from cyrela_etl_spark.sources.parquet import read_table

    out = ml_feature_hash(spark, SF).toPandas()
    n_events = read_table(spark, SF, "events").count()
    assert out["bucket"].between(0, 63).all()
    assert out["n_features"].sum() == 3 * n_events
    assert (out["signed_count"].abs() <= out["n_features"]).all()


def test_feature_hash_is_input_order_insensitive(spark):
    from cyrela_etl_spark.queries.mlprepq import ml_feature_hash

    a = ml_feature_hash(spark, SF).toPandas().sort_values("bucket").reset_index(drop=True)
    b = ml_feature_hash(spark, SF).toPandas().sort_values("bucket").reset_index(drop=True)
    assert a.equals(b)
