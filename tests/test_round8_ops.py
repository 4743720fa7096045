"""Round-8 operator unit tests: hand-built inputs with known answers for
the TPC-H pseudo-partsupp adaptations, IVF-PQ composition, k-core
peeling, BFS frontier, overlap join, WOE/IV, Pareto curve, entropy, and
the corpus planners. The oracle gate (tools/verify_local.py) checks
engine parity; these pin SEMANTICS against values computed by hand."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cyrela_etl_spark.session import scoped_conf


# -- TPC-H pseudo-partsupp ---------------------------------------------------
def test_pseudo_partsupp_cost_and_availqty(spark, sf_dir):
    from cyrela_etl_spark.queries.tpch2 import _pseudo_partsupp

    ps = _pseudo_partsupp(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pair = li.limit(1).collect()[0]
    rows = li.filter(
        (F.col("l_partkey") == pair["l_partkey"]) & (F.col("l_suppkey") == pair["l_suppkey"])
    ).collect()
    # exact integer rational: cents*10000 // qty (no float rounding —
    # the sf0.1 verify pass caught a round-half boundary in the float
    # formulation, see tpch2._pseudo_partsupp)
    expect_cost_ppm = min(
        round(r["l_extendedprice"] * 100) * 10000 // int(r["l_quantity"]) for r in rows
    )
    expect_qty = sum(int(r["l_quantity"]) for r in rows)
    got = ps.filter(
        (F.col("ps_partkey") == pair["l_partkey"]) & (F.col("ps_suppkey") == pair["l_suppkey"])
    ).collect()[0]
    assert got["ps_supplycost_ppm"] == expect_cost_ppm
    assert got["ps_availqty"] == expect_qty


def test_q20_excludes_exact_half_lifetime_shipper(spark, tmp_path):
    """Boundary of the integer inequality 2*qty_year > availqty, driven
    through the REAL query on a planted fixture (ADVICE r8: the old test
    asserted only constant arithmetic): supplier 1 ships EXACTLY half its
    lifetime volume of a red part in 1996 (10 of 20) -> excluded;
    supplier 2 ships just over half (11 of 21) -> included."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cyrela_etl_spark.queries.tpch2 import q20_excess_shippers

    in_year = dt.datetime(1996, 6, 1)
    before = dt.datetime(1995, 6, 1)

    def li_row(supp, qty, ts):
        return {
            "l_partkey": 100, "l_suppkey": supp, "l_quantity": float(qty),
            "l_extendedprice": 100.0 * qty, "l_shipdate": ts,
        }

    tables = {
        "lineitem": [
            li_row(1, 10, in_year), li_row(1, 10, before),   # exactly half
            li_row(2, 11, in_year), li_row(2, 10, before),   # just over half
        ],
        "part": [{"p_partkey": 100, "p_name": "red shiny thing", "p_brand": "B",
                  "p_type": "ECONOMY", "p_size": 5, "p_retailprice": 1.0}],
        "supplier": [
            {"s_suppkey": 1, "s_name": "Supplier#1", "s_nationkey": 0, "s_acctbal": 1.0},
            {"s_suppkey": 2, "s_name": "Supplier#2", "s_nationkey": 0, "s_acctbal": 1.0},
        ],
        "nation": [{"n_nationkey": 0, "n_name": "BRAZIL", "n_regionkey": 0}],
        "region": [{"r_regionkey": 0, "r_name": "AMERICA"}],
    }
    schemas = {
        "lineitem": pa.schema([
            ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_shipdate", pa.timestamp("us")),
        ]),
        "part": pa.schema([
            ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
            ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
        ]),
        "supplier": pa.schema([
            ("s_suppkey", pa.int64()), ("s_name", pa.string()),
            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
        ]),
        "nation": pa.schema([
            ("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32()),
        ]),
        "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    }
    for name, rows in tables.items():
        pq.write_table(pa.Table.from_pylist(rows, schema=schemas[name]),
                       str(tmp_path / f"{name}.parquet"))

    got = {r["s_suppkey"] for r in q20_excess_shippers(spark, str(tmp_path)).collect()}
    assert got == {2}


# -- IVF-PQ ------------------------------------------------------------------
def test_ivf_pq_subset_of_pq_candidates(spark, sf_dir):
    """IVF-PQ scores a SUBSET of the full PQ candidate set (only probed
    lists), and on shared (query, vec) pairs the ADC distance matches
    pq_adc_topk's integer math exactly."""
    from cyrela_etl_spark.operators.similarity import ivf_pq_topk, pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = {
        (r["query_id"], r["vec_id"]): r["adc_ppm"]
        for r in pq_adc_topk(emb, q, k=1000).collect()
    }
    ivf = ivf_pq_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["query_id"], r["vec_id"])
        assert key in full, "IVF-PQ surfaced a pair outside the PQ universe"
        assert r["adc_ppm"] == full[key], "ADC integer distance drifted"


# -- k-core ------------------------------------------------------------------
def test_kcore_peel_hand_graph(spark):
    """Triangle + pendant: round 1 removes the pendant, round 2 is stable."""
    from cyrela_etl_spark.queries import round8q  # noqa: F401

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )

    # replicate the peel helper inline (operator is module-internal)
    def peel(edges):
        deg = (
            edges.select(F.col("id_a").alias("v"))
            .unionByName(edges.select(F.col("id_b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 2).select("v")
        return (
            edges.join(keep.withColumnRenamed("v", "id_a"), "id_a", "left_semi")
            .join(keep.withColumnRenamed("v", "id_b"), "id_b", "left_semi")
        )

    e1 = peel(e)
    assert sorted(map(tuple, e1.select("id_a", "id_b").collect())) == [(1, 2), (1, 3), (2, 3)]
    e2 = peel(e1)
    assert e2.count() == 3  # 2-core (the triangle) is stable


# -- BFS frontier ------------------------------------------------------------
def test_bfs_frontier_counts_on_path_graph(spark):
    # path 1-2-3-4: from seed 1, hop1={2}, hop2={3}
    d = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["seed"])
    hop1 = (
        seeds.join(d, F.col("seed") == F.col("src"))
        .filter(F.col("dst") != F.col("seed"))
        .select("seed", F.col("dst").alias("v1"))
        .distinct()
    )
    hop2 = (
        hop1.join(d, F.col("v1") == F.col("src"))
        .filter(F.col("dst") != F.col("seed"))
        .select("seed", F.col("dst").alias("v2"))
        .distinct()
        .join(hop1.select("seed", F.col("v1").alias("v2")), ["seed", "v2"], "left_anti")
    )
    assert hop1.count() == 1 and hop2.count() == 1


# -- overlap join ------------------------------------------------------------
def test_overlap_join_session_semantics(spark):
    from cyrela_etl_spark.queries.round8q import _OVL_GAP_S, _sessions

    rows = [
        # user 1, click: two events 1 gap apart -> one session [0, 100]
        (1, 1, "2024-01-01 00:00:00", "click"),
        (2, 1, "2024-01-01 00:01:40", "click"),
        # user 1, view inside the click session -> overlap
        (3, 1, "2024-01-01 00:00:50", "view"),
        # user 1, view far outside (> gap after) -> separate, no overlap
        (4, 1, "2024-01-20 00:00:00", "view"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"]).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    clicks = _sessions(ev, "click").collect()
    views = _sessions(ev, "view").collect()
    assert len(clicks) == 1 and len(views) == 2
    assert _OVL_GAP_S < 19 * 86400  # the far view lands outside one session


# -- WOE / IV ----------------------------------------------------------------
def test_woe_sign_convention():
    # category with MORE positives than base rate => positive WOE
    pos_c, neg_c, POS, NEG = 30, 10, 100, 100
    woe = math.log((pos_c * NEG) / (neg_c * POS))
    assert woe > 0


# -- Pareto curve ------------------------------------------------------------
def test_pareto_monotone_shares(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import events_power_pareto

    rows = events_power_pareto(spark, sf_dir).orderBy(F.col("events_per_user").desc()).collect()
    assert rows, "empty pareto"
    shares = [(r["user_share"], r["event_share"]) for r in rows]
    assert all(s1 <= s2 + 1e-12 for (s1, _), (s2, _) in zip(shares, shares[1:]))
    # concentration: cumulative event share dominates cumulative user share
    assert all(es >= us - 1e-12 for us, es in shares)
    assert shares[-1][0] == pytest.approx(1.0) and shares[-1][1] == pytest.approx(1.0)


# -- entropy -----------------------------------------------------------------
def test_entropy_bounds(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import agg_entropy

    for r in agg_entropy(spark, sf_dir).collect():
        assert 0.0 <= r["entropy_nats"] <= math.log(5) + 1e-9  # ≤ ln(n_event_types)


# -- corpus planners ---------------------------------------------------------
def test_epoch_plan_respects_cap_and_budget(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import _EPOCH_CAP, corpus_epoch_plan

    for r in corpus_epoch_plan(spark, sf_dir).collect():
        assert r["epochs"] <= _EPOCH_CAP + 1e-9
        assert r["planned_tokens"] <= r["budget_tokens"]
        assert r["planned_tokens"] <= _EPOCH_CAP * r["n_tokens"]


def test_temperature_mix_flattens_distribution(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import corpus_temperature_mix

    rows = corpus_temperature_mix(spark, sf_dir).collect()
    z3 = sum(r["share_a3"] for r in rows)
    z7 = sum(r["share_a7"] for r in rows)
    assert z3 == pytest.approx(1.0, abs=1e-4) and z7 == pytest.approx(1.0, abs=1e-4)
    # lower alpha flattens: the max share shrinks
    assert max(r["share_a3"] for r in rows) <= max(r["share_a7"] for r in rows) + 1e-9
    assert max(r["share_a7"] for r in rows) <= max(r["p"] for r in rows) + 1e-9


# -- leakage -----------------------------------------------------------------
def test_leakage_nonzero_on_planted_corpus(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import ml_leakage_check

    r = ml_leakage_check(spark, sf_dir).collect()[0]
    assert r["n_test_docs"] > 0
    # the planted corpus contains exact + near duplicates across splits
    assert r["n_leaked"] > 0
    assert 0.0 < r["leak_ratio"] <= 1.0


# -- cluster quality ---------------------------------------------------------
def test_cluster_quality_fields(spark, sf_dir):
    from cyrela_etl_spark.operators.clustering import kmeans_quality_profile

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = kmeans_quality_profile(emb, k=4, iterations=2).collect()
    assert rows
    for r in rows:
        assert r["nn_cid"] != r["cid"]
        assert r["nn_dist2"] > 0
        assert r["db_ratio"] == pytest.approx(
            round(r["mean_dist2"] / r["nn_dist2"], 6), abs=2e-6
        )


# -- asset dedup -------------------------------------------------------------
def test_duplicate_assets_wasted_bytes(spark):
    from cyrela_etl_spark.operators.multimodal import binarize_text

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    assets = binarize_text(df)
    grp = (
        assets.select(
            "doc_id", F.md5("payload").alias("h"), F.length("payload").alias("b")
        )
        .groupBy("h", "b")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("canon"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(grp) == 1 and grp[0]["n"] == 2 and grp[0]["canon"] == 1


# -- final mini-wave ---------------------------------------------------------
def test_ablation_marginal_bounded_by_total(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import corpus_quality_ablation

    rows = corpus_quality_ablation(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_failed_only"] <= r["n_failed"] <= r["n_docs"]


def test_wilson_interval_brackets_rate(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import events_conversion_wilson

    for r in events_conversion_wilson(spark, sf_dir).collect():
        assert 0.0 <= r["wilson_lo"] <= r["rate"] <= r["wilson_hi"] <= 1.0
        # Wilson never collapses to a point for 0 < x < n
        if 0 < r["x"] < r["n"]:
            assert r["wilson_hi"] > r["wilson_lo"]


def test_percentiles_monotone(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import agg_percentile_cont

    for r in agg_percentile_cont(spark, sf_dir).collect():
        assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


def test_centroid_shift_nonnegative_and_small_after_mean(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import vector_centroid_shift

    rows = vector_centroid_shift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["shift_dist2"] >= 0.0


def test_partition_balance_ratios_sum(spark, sf_dir):
    from cyrela_etl_spark.queries.round8q import _PB_BUCKETS, scale_partition_balance

    rows = scale_partition_balance(spark, sf_dir).collect()
    assert 0 < len(rows) <= _PB_BUCKETS
    # every row is in exactly one bucket, so Σ n_b·B/N over the emitted
    # buckets is exactly B (up to the round-6 on each ratio)
    total_ratio = sum(r["load_ratio"] for r in rows)
    assert total_ratio == pytest.approx(_PB_BUCKETS, abs=len(rows) * 1e-6)
    for r in rows:
        assert r["load_ratio"] > 0


# -- partition-count invariance ----------------------------------------------
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_shuffle_width_invariance_representatives(spark, sf_dir):
    """Results must not depend on shuffle width (what actually changes on
    a 1000-executor cluster). Full block-B sweep at 7-vs-32 partitions was
    35/35 identical this round (NOTES.md); this keeps three
    representatives — a two-phase top-k, a histogram window, and a
    decimal-fold regression — under permanent guard at two widths."""
    from cyrela_etl_spark.queries import load_all

    reg = load_all()
    names = ["vector_ivf_pq_topk", "events_power_pareto", "text_zipf_fit"]
    results = {}
    for parts in ("5", "17"):
        try:
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
                for n in names:
                    rows = sorted(map(str, reg[n][0](spark, sf_dir).collect()))
                    results.setdefault(n, []).append(rows)
        finally:
            spark.catalog.clearCache()
    for n, (a, b) in results.items():
        assert a == b, f"{n} changed results under a different shuffle width"
