"""Distributed k-means (Lloyd 1982) with ENGINE-PORTABLE determinism —
the oracle-checkable twin of ``similarity.kmeans_refine`` (whose Arrow
GEMM means use float partial sums in arrival order and therefore cannot
be replayed bit-for-bit by an external engine).

Everything that could drift is pinned:
- seeding is the md5-ordered deterministic sample (same scheme as
  ``similarity.seed_centroids`` / the IVF oracle);
- assignment distance is the three-dot-product expansion
  (vv − 2·v·c + c·c), each dot a sequential fold over array order,
  rounded to 6 digits BEFORE the argmin, ties broken by centroid id;
- centroid means are computed in EXACT DECIMAL space (elements rounded
  to 6 digits, summed as DECIMAL(18,6), one final IEEE division) — a
  float sum across rows would depend on hash-aggregation arrival order
  on BOTH engines;
- inertia is an exact decimal sum of rounded squared distances.

Scale shape: centroids are broadcast (k·dim doubles — small by
contract); each Lloyd iteration is one broadcast-join pass over the data
plus one (cid, dim)-keyed aggregate whose output is k·dim rows. The
cast-up base relation is persisted once and reused by every iteration's
assignment, so the corpus is scanned once. Empty clusters drop out of
the next round's centroid set (mirrored by the oracle).

Reference parity note: the reference repo has no clustering operator;
this extends the engine's similarity family (IVF seeding in
operators/similarity.py `seed_centroids` uses the same sampling scheme).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.vectors import dot, to_double_array


def _dist2(v, c):
    """round₆( max(v·v − 2·v·c + c·c, 0) ) — fold order identical to the
    DuckDB spelling with list_dot_product."""
    return F.round(
        F.greatest(
            dot(v, v) - F.lit(2.0) * dot(v, c) + dot(c, c),
            F.lit(0.0),
        ),
        6,
    )


def _assign(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid table,
    rank candidate (point, centroid) pairs by (dist², cid)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("dist2").asc(), F.col("cid").asc())
    return (
        base.crossJoin(F.broadcast(centroids))
        .select("vec_id", "v", "cid", _dist2(F.col("v"), F.col("cv")).alias("dist2"))
        .withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") == 1)
        .drop("__crank")
    )


def _means(assigned: DataFrame) -> DataFrame:
    """Per-cluster elementwise means in exact decimal space, reassembled
    into ordered centroid arrays."""
    return (
        assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("cid", "pos", (F.col("s").cast("double") / F.col("n")).alias("m"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.col("pm").getField("m").alias("cv"))
    )


def kmeans_cluster_profile(
    data: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds from the md5-ordered seed sample
    and profile the final assignment: per cluster the member count,
    exact-decimal inertia (sum of rounded squared distances), and mean
    squared distance. Output is k rows (fewer if a cluster emptied)."""
    base = data.select(
        F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v")
    ).persist()  # release: caller (cache contract, queries/__init__)
    centroids = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    assigned = _assign(base, centroids)
    for _ in range(iterations - 1):
        assigned = _assign(base, _means(assigned))
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.col("dist2").cast("decimal(20,6)")).alias("__inertia"),
        )
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_points",
            F.col("__inertia").cast("double").alias("inertia"),
            F.round(F.col("__inertia").cast("double") / F.col("n_points"), 6).alias(
                "mean_dist2"
            ),
        )
    )


def kmeans_quality_profile(
    data: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-quality report after ``iterations`` Lloyd rounds: per
    cluster the member count, mean intra-cluster squared distance
    (cohesion), the nearest OTHER centroid and its squared distance
    (separation), and the cohesion/separation ratio — the Davies-Bouldin-
    flavored signal a curation pipeline uses to decide whether SemDeDup-
    style cluster blocking is tight enough.

    The centroid-pair table is k×k rows (tiny by contract, broadcast);
    everything corpus-sized reuses the one persisted base relation and
    the broadcast-assign pass. Same determinism contract as
    ``kmeans_cluster_profile``: rounded dist², decimal means, ties by cid.
    """
    base = data.select(
        F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v")
    ).persist()  # release: caller (cache contract, queries/__init__)
    centroids = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    assigned = _assign(base, centroids)
    cent = centroids
    for _ in range(iterations - 1):
        cent = _means(assigned)
        assigned = _assign(base, cent)
    # cent feeds THREE consumers (the final assignment plus both sides of
    # the separation self-join); without a persist each re-plans the
    # corpus-scale means aggregate behind it (r13 diet — the LPA/PCA
    # two-consumer-tail pattern). k rows.
    cent = cent.persist()  # release: caller (cache contract, queries/__init__)
    cohesion = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.col("dist2").cast("decimal(20,6)")).alias("__inertia"),
    )
    a = cent.select(F.col("cid").alias("a_cid"), F.col("cv").alias("a_cv"))
    b = cent.select(F.col("cid").alias("b_cid"), F.col("cv").alias("b_cv"))
    sep = (
        a.join(F.broadcast(b), F.col("a_cid") != F.col("b_cid"))
        .select(
            "a_cid",
            F.struct(
                _dist2(F.col("a_cv"), F.col("b_cv")).alias("d2"),
                F.col("b_cid").alias("cid"),
            ).alias("dc"),
        )
        .groupBy("a_cid")
        .agg(F.min("dc").alias("nn"))
        .select(
            "a_cid",
            F.col("nn.cid").alias("nn_cid"),
            F.col("nn.d2").alias("nn_dist2"),
        )
    )
    return (
        cohesion.join(F.broadcast(sep), F.col("cid") == F.col("a_cid"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_points",
            F.round(F.col("__inertia").cast("double") / F.col("n_points"), 6).alias(
                "mean_dist2"
            ),
            F.col("nn_cid").cast("long").alias("nn_cid"),
            F.col("nn_dist2").alias("nn_dist2"),
            F.round(
                F.round(F.col("__inertia").cast("double") / F.col("n_points"), 6)
                / F.col("nn_dist2"),
                6,
            ).alias("db_ratio"),
        )
    )
