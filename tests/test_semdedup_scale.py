"""SemDeDup hub stress (VERDICT r7 item 6 remainder / r8 item 5): a
mass-duplicated embedding drives within-cluster pair enumeration
quadratic — C(|group|,2) pairs are genuinely emitted — and the
exact-collapse pre-pass removes the quadratic term at its source while
preserving the duplication information in group sizes. The 1x/10x/100x
wall curve lives in `tools/scale_curve.py semdedup` + README."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cyrela_etl_spark.operators.similarity import (
    _ivf_assign,
    collapse_exact_embeddings,
    seed_centroids,
    semdedup_pairs,
)

N_BG = 400
HUB_SIZE = 100
DIM = 16
N_CLUSTERS = 8


@pytest.fixture(scope="module")
def hub_corpus(spark):
    rng = np.random.default_rng(7)
    bg = rng.normal(size=(N_BG, DIM))
    hub_vec = rng.normal(size=DIM)
    rows = [(i, bg[i].tolist()) for i in range(N_BG)]
    rows += [(N_BG + j, hub_vec.tolist()) for j in range(HUB_SIZE)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def _sum_sq_cluster_sizes(df, id_col="vec_id", vec_col="embedding"):
    cents = seed_centroids(df, N_CLUSTERS, id_col=id_col, vec_col=vec_col)
    sizes = (
        _ivf_assign(df, cents, 1, id_col, vec_col, "vec_id")
        .groupBy("list_id")
        .count()
    )
    agg = sizes.agg(
        F.sum(F.col("count") * F.col("count")).alias("ss"),
        F.max("count").alias("mx"),
    ).collect()[0]
    return int(agg["ss"]), int(agg["mx"])


def test_hub_pairs_are_quadratic_in_group_size(spark, hub_corpus):
    """Raw SemDeDup on the hub corpus MUST emit all C(100,2) hub pairs —
    the quadratic output is correct semantics, not a bug, which is why
    the mitigation has to happen before clustering."""
    pairs = semdedup_pairs(hub_corpus, n_clusters=N_CLUSTERS, threshold=0.999)
    hub_pairs = pairs.filter(
        (F.col("id_a") >= N_BG) & (F.col("id_b") >= N_BG)
    ).count()
    assert hub_pairs == HUB_SIZE * (HUB_SIZE - 1) // 2


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_collapse_removes_hub_quadratic_term(spark, hub_corpus):
    reps, membership = collapse_exact_embeddings(hub_corpus)
    # background vectors are all distinct; the hub collapses to one rep
    assert reps.count() == N_BG + 1
    hub_rep = reps.filter(F.col("group_size") == HUB_SIZE).collect()
    assert len(hub_rep) == 1 and hub_rep[0]["vec_id"] == N_BG
    # membership expands every hub id back to the representative
    assert (
        membership.filter(F.col("rep_id") == N_BG).count() == HUB_SIZE
    )

    # Σ|cluster|² accounting: raw clustering carries the hub's mass in
    # one block (>= HUB_SIZE members -> >= HUB_SIZE² in the sum); after
    # collapse the largest block is knob-sized, not hub-sized
    ss_raw, mx_raw = _sum_sq_cluster_sizes(hub_corpus)
    ss_col, mx_col = _sum_sq_cluster_sizes(reps, id_col="vec_id", vec_col="v")
    assert mx_raw >= HUB_SIZE
    assert ss_raw >= HUB_SIZE * HUB_SIZE
    assert mx_col < HUB_SIZE
    assert ss_col < ss_raw

    # collapsed semdedup emits no intra-hub pairs; the duplication mass
    # survives in group_size (100 copies -> weight 100 on one node)
    pairs = semdedup_pairs(
        reps, n_clusters=N_CLUSTERS, threshold=0.999, id_col="vec_id", vec_col="v"
    )
    assert pairs.filter((F.col("id_a") >= N_BG) & (F.col("id_b") >= N_BG)).count() == 0


def test_collapse_signed_zero_and_exactness(spark):
    """ADVICE r9: default collapse must share exact-equality semantics
    with a SQL GROUP BY embedding — signed zeros merge (-0.0 = 0.0), but
    vectors agreeing only to 1e-7 stay distinct (the old round-to-6
    default would have merged them). Quantized collapse remains opt-in."""
    rows = [
        (0, [0.0, 1.0]),
        (1, [-0.0, 1.0]),
        (2, [1e-7, 1.0]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    reps, _ = collapse_exact_embeddings(df)
    assert {(r["vec_id"], r["group_size"]) for r in reps.collect()} == {(0, 3), (2, 1)}
    # opt-in quantization merges the 1e-7 neighbor too
    reps_q, _ = collapse_exact_embeddings(df, round_digits=6)
    assert {(r["vec_id"], r["group_size"]) for r in reps_q.collect()} == {(0, 4)}


# -- model-based property test ------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VEC = st.tuples(st.integers(-2, 2), st.integers(-2, 2), st.integers(-2, 2))


@settings(
    max_examples=6,  # each example runs Spark jobs — keep it bounded
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
@given(vecs=st.lists(_VEC, min_size=1, max_size=12))
def test_collapse_matches_python_model(spark, vecs):
    """collapse_exact_embeddings must reproduce plain-Python grouping:
    identical vectors share one representative (min id), group sizes sum
    to the corpus, and membership maps every id to its group's rep.
    Small integer-valued vectors make equality exact by construction."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    reps, membership = collapse_exact_embeddings(df)

    model = {}
    for i, v in enumerate(vecs):
        model.setdefault(v, []).append(i)
    expect_reps = {(min(ids), len(ids)) for ids in model.values()}
    got_reps = {(r["vec_id"], r["group_size"]) for r in reps.collect()}
    assert got_reps == expect_reps

    expect_members = {
        (i, min(ids)) for ids in model.values() for i in ids
    }
    got_members = {(r["vec_id"], r["rep_id"]) for r in membership.collect()}
    assert got_members == expect_members
