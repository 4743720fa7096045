"""Round-7 wave: Gonzalez k-center selection and bag-semantics set ops."""

from __future__ import annotations


def test_kcenter_picks_farthest_hand_computed(spark, tmp_path, monkeypatch):
    """2-D toy: seed is vec 0 at origin; the greedy must pick the
    farthest point next, then maximize the min-distance each round."""
    from cyrela_etl_spark.queries import vectorq

    pts = {0: [0.0, 0.0], 1: [1.0, 0.0], 2: [10.0, 0.0], 3: [5.0, 0.0]}
    emb = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(vectorq, "_emb", lambda spark, sf_dir: emb)
    rows = vectorq.vector_kcenter_select(spark, "ignored").collect()
    order = [r["vec_id"] for r in rows]
    # seed 0 -> farthest is 2 (d2=100) -> then 3 (min d2 to {0,2} = 25)
    # -> then 1 (min d2 to {0,2,3} = 1); k=5 but only 4 points exist
    assert order[:4] == [0, 2, 3, 1]
    assert rows[0]["min_dist_sq"] is None
    assert rows[1]["min_dist_sq"] == 100.0
    assert rows[2]["min_dist_sq"] == 25.0
    assert rows[3]["min_dist_sq"] == 1.0
    # coverage radius sequence is non-increasing
    ds = [r["min_dist_sq"] for r in rows[1:] if r["min_dist_sq"] is not None]
    assert ds == sorted(ds, reverse=True)


def test_set_ops_all_multiplicity(spark, monkeypatch):
    from cyrela_etl_spark.queries import relational

    orders = spark.createDataFrame(
        # custkey 1: two urgent, one finished -> except_all keeps ONE copy,
        # intersect_all keeps one; custkey 2: urgent only
        [
            (1, "1-URGENT", "O"),
            (1, "1-URGENT", "O"),
            (1, "2-HIGH", "F"),
            (2, "1-URGENT", "O"),
            (3, "5-LOW", "F"),
        ],
        "o_custkey long, o_orderpriority string, o_orderstatus string",
    )
    monkeypatch.setattr(
        relational, "read_table", lambda spark, sf_dir, name: orders if name == "orders" else None
    )
    rows = relational.set_ops_all(spark, "x").collect()
    got = sorted((r["custkey"], r["op"]) for r in rows)
    # high side bag: {1,1,1,2}; finished bag: {1,3}
    assert got == [
        (1, "except_all"),
        (1, "except_all"),
        (1, "intersect_all"),
        (2, "except_all"),
    ]
