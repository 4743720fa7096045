"""Similarity search over embedding columns (array<float>).

Every top-k operator is two steps: score (query_id, vec_id, score)
pairs, then rank them with the one shared ``_topk`` — a plain
``row_number`` window whose partial WindowGroupLimit Spark plants below
the rank exchange, so the shuffle carries k rows per map partition and
query, never the corpus.

- **Exact top-k** (`cosine_topk`, `l2_topk`): the query set is broadcast
  (it is small by construction); each data partition scores its rows
  against every query independently. Scoring is JVM-side
  zip_with/aggregate folds — bit-reproducible, oracle-checkable.

- **ANN top-k**: random-hyperplane LSH buckets (`rhp_lsh_topk`, Charikar
  2002 — equality join on the bucket, never n²), inverted lists
  (`ivf_topk`), int8 and product quantization (`sq_int8_topk`,
  `pq_adc_topk`, `ivf_pq_topk`) and prefix truncation
  (`matryoshka_topk`). Recall < 1 by design; every hyperplane, centroid
  and codebook is deterministic so results are stable and testable.
  The trained operators score through one private function each
  (``_ivf_scored``, ``_sq_scored``, ``_pq_scored``, ``_ivf_pq_scored``),
  which ``tools/scale_curve.py ann`` reuses with pinned training.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.vectors import cosine_similarity, dot, to_double_array


# Every score rounds to this many digits BEFORE ranking, so the order is
# stable across engines whose last-bit rounding differs.
_ROUND_DIGITS = 6


def _topk(scored: DataFrame, k: int, score_col: str, ascending: bool) -> DataFrame:
    """Each query's k best rows of ``scored`` (query_id, vec_id,
    <score_col>, ...): one total order, score then vec_id asc, ranked by
    one plain ``row_number`` window and cut at ``rank <= k``. Returns
    (query_id, rank, vec_id, <the other columns of scored>).

    The scale contract rides on Spark's rank-limit pushdown: for
    k <= ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000, left at
    its default by session.py) the planner puts a partial
    WindowGroupLimit below the rank's exchange, so each map partition
    ships only its local top-k and the shuffle carries
    k * partitions * |queries| rows at any corpus size. Above 1000 the
    whole scored set would funnel into |queries| reducers
    (tests/test_plan_quality.py pins the pushdown for every ANN query).
    """
    score = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy("query_id").orderBy(score, F.col("vec_id").asc())
    rest = [c for c in scored.columns if c not in ("query_id", "vec_id")]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", *rest)
    )


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest data rows.

    ``queries`` must have columns (query_id, <vec_col>). Vectors are cast
    to double before arithmetic (float32 accumulation drifts). Scores are
    rounded to ``_ROUND_DIGITS`` before ranking.
    """
    d = data.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(F.col("query_id"), to_double_array(vec_col).alias("qv"))
    cos = F.round(cosine_similarity(F.col("qv"), F.col("v")), _ROUND_DIGITS)
    scored = (
        d.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cosine"))
    )
    return _topk(scored, k, "cosine", ascending=False)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → reproducible plans)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def rhp_bucket(vec_col, planes: list[list[float]]):
    """Random-hyperplane LSH bucket id: bit i = sign(v · plane_i)."""
    v = to_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(v, p) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def rhp_lsh_topk(
    data: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidates share the query's hyperplane sign bucket.

    At 100 TB the bucket join replaces the all-pairs broadcast: data is
    shuffled once by bucket id (2^n_planes buckets), each query probes one
    bucket. Recall is tunable via n_planes (fewer planes → bigger buckets
    → higher recall, more compute).

    ``dim`` costs no extra job: the length check rides the plan as a
    per-row guard (a silent mismatch would null out every plane dot
    product — zip_with pads with nulls — and collapse all rows into
    bucket 0, i.e. a full scan with no error, so the guard raises
    instead).
    """
    planes = _hyperplanes(dim, n_planes, seed)

    def _guarded_bucket(col):
        return F.when(
            F.size(col) == dim, rhp_bucket(col, planes)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"rhp_lsh_topk: dim={dim} does not match embedding length "),
                    F.size(col).cast("string"),
                )
            ).cast("long")
        )

    d = data.select(
        F.col(id_col).alias("vec_id"),
        to_double_array(vec_col).alias("v"),
        _guarded_bucket(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col("query_id"),
        to_double_array(vec_col).alias("qv"),
        _guarded_bucket(F.col(vec_col)).alias("bucket"),
    )
    cos = F.round(cosine_similarity(F.col("qv"), F.col("v")), _ROUND_DIGITS)
    scored = (
        d.join(F.broadcast(q), (d["bucket"] == q["bucket"]) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id", cos.alias("cosine"))
    )
    return _topk(scored, k, "cosine", ascending=False)


def seed_centroids(
    data: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random centroid sample: the ``n_centroids``
    rows that sort first by ``md5(cast(id as string))``. md5 ordering is a
    uniform shuffle of the id space, so the seeds spread across the corpus
    (unlike "first N ids", which at real scale is whatever landed in the
    oldest file) while staying engine-reproducible: any SQL oracle can
    replay ``ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT N``.

    Executes as a TakeOrdered (per-partition top-N, then a driver merge of
    N·n_partitions candidate rows) — no global sort, scale-safe. Returns
    driver-side values because centroids are small by contract (C·dim
    doubles); they ship to executors as a broadcast variable, never as plan
    literals.
    """
    rows = (
        data.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")).asc(), F.col("id").asc())
        .limit(n_centroids)
        .collect()
    )
    if not rows:
        raise ValueError("cannot seed centroids from empty data")
    return sorted((int(r["id"]), list(r["v"])) for r in rows)


def kmeans_refine(
    data: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of seeded centroids: each iteration assigns every
    row to its nearest centroid (Arrow GEMM, no shuffle) and recomputes
    per-list element-wise means with one ``posexplode`` + hash aggregation
    (shuffle volume = C·dim partial sums per map partition, independent of
    corpus size). Empty lists keep their previous centroid. Refined
    centroids keep their seed cid, so downstream tie-breaks stay stable.
    """
    for _ in range(iters):
        assigned = _ivf_assign(data, centroids, 1, id_col, vec_col, "vec_id")
        means = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .collect()
        )
        by_cid = dict(centroids)
        for r in means:
            by_cid[int(r["list_id"])] = [p["m"] for p in r["pm"]]
        centroids = sorted(by_cid.items())
    return centroids


def _ivf_assign(
    data: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nearest_m: int,
    id_col: str,
    vec_col: str,
    id_out: str,
) -> DataFrame:
    """(id, v, list_id) rows: each input row replicated once per its
    ``nearest_m`` closest centroids (by rounded cosine desc, cid asc).

    Arrow-batched numpy GEMM against a *broadcast variable* of centroids —
    per-row, zero shuffle, and the plan is O(1) in n_centroids×dim (plan
    literals at 1k centroids × 1k dims would be a multi-MB codegen'd
    expression). Same determinism contract as ``cosine_topk``: scores
    round to ``_ROUND_DIGITS`` before selection; ties break cid asc.
    """
    spark = data.sparkSession
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    b_cids = spark.sparkContext.broadcast(cids)
    b_cmat = spark.sparkContext.broadcast(cmat)
    m = min(nearest_m, len(centroids))
    schema = f"{id_out} long, v array<double>, list_id long"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ci, cm = b_cids.value, b_cmat.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vecs = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = np.round(
                (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) @ cm.T, _ROUND_DIGITS
            )
            # Per-row total order (cosine desc, cid asc), vectorized.
            order = np.lexsort((np.broadcast_to(ci, sims.shape), -sims), axis=1)[:, :m]
            yield pd.DataFrame(
                {
                    id_out: np.repeat(ids, m),
                    "v": [list(v) for v in np.repeat(vecs, m, axis=0)],
                    "list_id": ci[order].ravel(),
                }
            )

    return data.select(
        F.col(id_col).alias(id_col), to_double_array(vec_col).alias(vec_col)
    ).mapInPandas(assign, schema=schema)


def _ivf_scored(
    data: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every (query_id, vec_id, cosine) pair ``ivf_topk`` scores with the
    given centroids, self pairs included: each row sits in its nearest
    list, each query probes its ``nprobe`` nearest, and the probe join
    (broadcast query side) shuffles by list id only."""
    d = _ivf_assign(data, centroids, 1, id_col, vec_col, "vec_id")
    q = _ivf_assign(
        queries, centroids, nprobe, "query_id", vec_col, "query_id"
    ).withColumnRenamed("v", "qv")
    cos = F.round(cosine_similarity(F.col("qv"), F.col("v")), _ROUND_DIGITS)
    return d.join(F.broadcast(q), d["list_id"] == q["list_id"]).select(
        "query_id", "vec_id", cos.alias("cosine")
    )


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-flavored ANN top-k: partition the corpus into inverted lists by
    nearest centroid, probe only the query's ``nprobe`` closest lists.

    Centroids are a deterministic md5-ordered sample (``seed_centroids``),
    optionally Lloyd-refined (``refine_iters``); they travel to executors
    as a broadcast variable and assignment is an Arrow GEMM per batch
    (``_ivf_assign``) — per-row, no shuffle, plan size independent of
    n_centroids×dim. The probe join shuffles by centroid id only — at
    100 TB that is the difference between an n×q scan and reading
    nprobe/n_centroids of the corpus per query.

    Deterministic & oracle-checkable: centroid scores are rounded before
    ranking, ties break on centroid id, final ranking ties on vec_id.
    """
    centroids = seed_centroids(data, n_centroids, id_col, vec_col)
    if refine_iters:
        centroids = kmeans_refine(data, centroids, refine_iters, id_col, vec_col)
    scored = _ivf_scored(data, queries, centroids, nprobe, id_col, vec_col)
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")), k, "cosine", ascending=False
    )


def embedding_neardup_pairs(
    data: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    ``block_col`` (e.g. an LSH bucket or cluster label) bounds the
    self-join. Without it the plan is a full n² cartesian — refused unless
    the caller opts in with ``allow_full_scan=True`` (safe-by-default: a
    100×-scale caller must never hit a silent cartesian product).
    """
    if block_col is None and not allow_full_scan:
        raise ValueError(
            "embedding_neardup_pairs without block_col plans a full n² "
            "self-join; pass block_col (LSH bucket / cluster label) or "
            "opt in explicitly with allow_full_scan=True"
        )
    d = data.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"), F.col(block_col).alias("blk") if block_col else F.lit(0).alias("blk"))
    a, b = d.alias("a"), d.alias("b")
    cos = F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), _ROUND_DIGITS)
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def l2_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact Euclidean (L2) top-k — the metric twin of ``cosine_topk``,
    same broadcast + ``_topk`` plan. Distance is computed by the
    three-dot-product expansion sqrt(aa − 2ab + bb) so both engines fold
    floats in the identical order as their dot products (a zip-subtract-
    square fold would sum in a different order and drift past the
    rounding guard); clamped at 0 before sqrt (identical vectors can
    expand to −1e−16)."""
    d = data.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(F.col("query_id"), to_double_array(vec_col).alias("qv"))
    dist = F.sqrt(
        F.greatest(
            dot(F.col("qv"), F.col("qv"))
            - F.lit(2.0) * dot(F.col("qv"), F.col("v"))
            + dot(F.col("v"), F.col("v")),
            F.lit(0.0),
        )
    )
    scored = d.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(dist, _ROUND_DIGITS).alias("l2_dist")
    )
    return _topk(scored, k, "l2_dist", ascending=True)


# ---------------------------------------------------------------------------
# Scalar quantization (int8) — the memory-bandwidth path.
# ---------------------------------------------------------------------------
def _abs_max(v):
    return F.array_max(F.transform(v, lambda x: F.abs(x)))


def quantize_int8(v, scale):
    """Symmetric per-vector int8 quantization: q[i] = round(127·v[i]/scale),
    scale = max|v[i]|. Pure comparisons + one round per element — exact and
    portable (round-half-away-from-zero in both Spark and DuckDB)."""
    return F.transform(v, lambda x: F.round(F.lit(127) * x / scale).cast("long"))


def _int_dot(a, b):
    """Exact integer dot product of two long arrays (zip_with + fold —
    integer adds, no float accumulation, bit-identical everywhere)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sq_scored(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every (query_id, vec_id, cosine) pair ``sq_int8_topk`` scores, self
    pairs included: cosine of the int8-quantized vectors (exact integer
    dot and norms, rounded), broadcast query side, no shuffle."""
    d0 = data.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q0 = queries.select("query_id", to_double_array(vec_col).alias("v"))

    def _quant(df, qname):
        withv = df.select("*", _abs_max(F.col("v")).alias("s"))
        return withv.select(
            *[c for c in df.columns if c != "v"],
            quantize_int8(F.col("v"), F.col("s")).alias(qname),
        )

    d = _quant(d0, "qd")
    d = d.select("vec_id", "qd", _int_dot(F.col("qd"), F.col("qd")).alias("nd"))
    q = _quant(q0, "qq")
    q = q.select("query_id", "qq", _int_dot(F.col("qq"), F.col("qq")).alias("nq"))

    cos = F.round(
        _int_dot(F.col("qq"), F.col("qd")) / (F.sqrt(F.col("nq")) * F.sqrt(F.col("nd"))),
        _ROUND_DIGITS,
    )
    return d.join(F.broadcast(q)).select("query_id", "vec_id", cos.alias("cosine"))


def sq_int8_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over scalar-quantized (int8) vectors.

    The production rationale at 100 TB: an int8 corpus is 4× smaller than
    float32 (16× vs double), so the scan is 4× less IO and the dot products
    are integer SIMD — this is the standard first compression rung before
    PQ. Accuracy loss is bounded (|Δcos| ≲ 1/127 per axis); the returned
    score is the cosine OF THE QUANTIZED vectors, deterministically.

    Determinism contract: quantization is round(127·x/max|x|) per element
    (identical double ops both engines), dot/norms are EXACT integer
    folds, and the only floats are two correctly-rounded sqrts + one
    division, rounded to ``_ROUND_DIGITS`` before ranking. Ties break on
    vec_id. Same broadcast + ``_topk`` plan as ``cosine_topk`` — no
    shuffle except the rank's k·partitions exchange.

    Zero vectors (scale = 0) would divide by zero; the synthetic
    embeddings have none, and real pipelines drop them upstream.
    """
    scored = _sq_scored(data, queries, id_col, vec_col)
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")), k, "cosine", ascending=False
    )


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance (ADC) — the deep-compression
# rung: IVF-PQ is how billion-vector indexes (FAISS) fit in RAM.
# ---------------------------------------------------------------------------
def pq_codebooks(
    data: DataFrame,
    m: int,
    ksub: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Deterministic PQ codebooks: the full-dim md5-seeded sample
    (``seed_centroids``) sliced into ``m`` subspaces of dim/m — one
    (subspace j, centroid cid, subvector) row per codeword, m·ksub rows
    total. Tiny by contract (m·ksub·dsub doubles), shipped broadcast.
    A SQL oracle replays the seeding exactly (ORDER BY md5(id) LIMIT k).

    ``seeds``: pass an existing ``seed_centroids(data, ksub)`` result to
    reuse it (IVF-PQ with n_centroids == ksub draws the identical sample
    for coarse lists and codebooks — one TakeOrdered pass, not two).
    """
    dsub = dim // m
    if seeds is None:
        seeds = seed_centroids(data, ksub, id_col=id_col, vec_col=vec_col)
    elif len(seeds) != ksub:
        raise ValueError(f"seeds has {len(seeds)} entries, expected ksub={ksub}")
    rows = [
        (j, cid, v[j * dsub : (j + 1) * dsub])
        for j in range(m)
        for cid, v in seeds
    ]
    return data.sparkSession.createDataFrame(rows, "j long, cid long, cv array<double>")


def _sub_explode(df: DataFrame, m: int, dsub: int, id_name: str) -> DataFrame:
    """(id, j, sub): each vector split into its m subvectors, one row per
    subspace — a pure projection (posexplode of an array of slices)."""
    slices = F.array(*[F.slice(F.col("v"), j * dsub + 1, dsub) for j in range(m)])
    return df.select(
        F.col(id_name), F.posexplode(slices).alias("j", "sub")
    )


def _d2_ppm(a, b):
    """Squared L2 distance in exact ppm integers: |a|² − 2a·b + |b|² via
    the shared sequential dot fold, scaled to 1e6 and rounded ONCE —
    everything after (argmin, ADC sums) is integer arithmetic, immune to
    float-summation order."""
    raw = (dot(a, a) - F.lit(2.0) * dot(a, b)) + dot(b, b)
    return F.round(raw * F.lit(1_000_000)).cast("long")


def pq_encode(
    data: DataFrame,
    codebooks: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code): each subvector mapped to its nearest codeword.

    The argmin is a STRUCT-MIN AGGREGATE over (d2_ppm, cid) — lexicographic
    min ≡ 'order by distance, cid' rank-1, but it runs as a hash agg with
    map-side partial combining (the shuffle carries one partial min per
    (row, subspace), never the ksub candidate rows a window formulation
    would sort). Codebooks join broadcast; ties break cid asc by the
    struct's second field.
    """
    subs = _sub_explode(
        data.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")),
        m,
        dsub,
        "id",
    )
    cand = subs.join(F.broadcast(codebooks), "j").select(
        "id", "j", F.struct(_d2_ppm(F.col("sub"), F.col("cv")).alias("d2"), F.col("cid").alias("cid")).alias("dc")
    )
    return (
        cand.groupBy("id", "j")
        .agg(F.min("dc").alias("best"))
        .select("id", "j", F.col("best.cid").alias("code"))
    )


def _adc_table(queries: DataFrame, books: DataFrame, m: int, dsub: int, vec_col: str) -> DataFrame:
    """Per-query ADC distance table (query_id, j, cid, d2_ppm): each query
    subvector's exact ppm squared distance to every codeword of its
    subspace — m·ksub·|queries| rows, joined broadcast."""
    qsubs = _sub_explode(
        queries.select(F.col("query_id"), to_double_array(vec_col).alias("v")),
        m,
        dsub,
        "query_id",
    )
    return qsubs.join(F.broadcast(books), "j").select(
        "query_id", "j", "cid", _d2_ppm(F.col("sub"), F.col("cv")).alias("d2_ppm")
    )


def _pq_scored(
    data: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every (query_id, vec_id, adc_ppm) pair ``pq_adc_topk`` scores with
    the given codebooks, self pairs included: codes ⋈ broadcast distance
    table, then the per-(query, vec) integer sum of m lookups."""
    codes = pq_encode(data, books, m, dsub, id_col=id_col, vec_col=vec_col)
    dtable = _adc_table(queries, books, m, dsub, vec_col)
    return (
        codes.join(
            F.broadcast(dtable),
            (codes["j"] == dtable["j"]) & (codes["code"] == dtable["cid"]),
        )
        .groupBy("query_id", F.col("id").alias("vec_id"))
        .agg(F.sum("d2_ppm").cast("long").alias("adc_ppm"))
    )


def pq_adc_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (Jégou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): the corpus is
    stored as m small codes per vector (here 8 codes ≈ 8 bytes vs 256
    bytes of float32 — 32× compression); each query builds an m×ksub
    distance table against the codebooks and a candidate's distance is the
    INTEGER sum of m table lookups. The returned ``adc_ppm`` is the exact
    squared-L2-to-codeword distance in ppm.

    Scale shape: encode = projection + broadcast join + struct-min hash
    agg (shuffle carries m partial minima per vector); search = codes ⋈
    broadcast distance-table (m·ksub·|queries| rows) + per-(query, vec)
    integer sum + the shared ``_topk`` rank. No full-precision vector is
    touched at query time — that is the PQ contract that lets 100 TB of
    vectors serve from the codes alone.
    """
    books = pq_codebooks(data, m, ksub, dim, id_col=id_col, vec_col=vec_col)
    scored = _pq_scored(data, queries, books, m, dim // m, id_col, vec_col)
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")), k, "adc_ppm", ascending=True
    )


def _ivf_pq_scored(
    data: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: DataFrame,
    nprobe: int,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every (query_id, vec_id, adc_ppm) pair ``ivf_pq_topk`` scores with
    the given centroids and codebooks, self pairs included. Candidate
    restriction FIRST (codes ⋈ own list ⋈ broadcast probe lists), then
    the ADC lookup — the join order that reads only the probed fraction
    of the code table per query."""
    lists = _ivf_assign(data, centroids, 1, id_col, vec_col, "vec_id").select(
        "vec_id", "list_id"
    )
    qlists = _ivf_assign(
        queries, centroids, nprobe, "query_id", vec_col, "query_id"
    ).select("query_id", "list_id")
    codes = pq_encode(data, books, m, dsub, id_col=id_col, vec_col=vec_col)
    dtable = _adc_table(queries, books, m, dsub, vec_col)
    cand = codes.join(lists, codes["id"] == lists["vec_id"]).join(
        F.broadcast(qlists), "list_id"
    )
    return (
        cand.join(
            F.broadcast(dtable),
            (cand["j"] == dtable["j"])
            & (cand["code"] == dtable["cid"])
            & (cand["query_id"] == dtable["query_id"]),
        )
        .groupBy(cand["query_id"], F.col("id").alias("vec_id"))
        .agg(F.sum("d2_ppm").cast("long").alias("adc_ppm"))
    )


def ivf_pq_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the FAISS `IndexIVFPQ` architecture (Jégou et al. 2011 §V)
    — a coarse inverted-file quantizer restricts the candidate set to the
    query's ``nprobe`` nearest lists, and candidates are scored by
    asymmetric PQ distance over their stored codes. Combines the two
    existing rungs: ``ivf_topk``'s list pruning (read nprobe/n_centroids
    of the corpus) with ``pq_adc_topk``'s 32× code compression (never
    touch a full-precision vector at query time) — at 100 TB both savings
    multiply.

    Scale shape: list assignment and PQ encoding are both broadcast-
    centroid map passes over the corpus (one Arrow GEMM, one struct-min
    hash agg); query-time joins carry only codes ⋈ (broadcast probe table)
    ⋈ (broadcast distance table); the top-k is the shared ``_topk`` rank.
    Determinism: coarse scores round to ``_ROUND_DIGITS`` before list
    ranking (ties cid asc); ADC is exact ppm integers; final ties break
    vec_id asc.
    """
    centroids = seed_centroids(data, n_centroids, id_col, vec_col)
    # n_centroids == ksub draws the identical md5-ordered sample for the
    # coarse lists and the codebooks: reuse it (one TakeOrdered pass over
    # the corpus instead of two — at 100 TB each pass is a full scan).
    books = pq_codebooks(
        data, m, ksub, dim, id_col=id_col, vec_col=vec_col,
        seeds=centroids if n_centroids == ksub else None,
    )
    scored = _ivf_pq_scored(data, queries, centroids, books, nprobe, m, dim // m, id_col, vec_col)
    return _topk(
        scored.filter(F.col("vec_id") != F.col("query_id")), k, "adc_ppm", ascending=True
    )


def semdedup_pairs(
    data: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-duplicate
    pairs found by clustering embeddings and comparing ONLY within each
    cluster — the trick that turns the n² web-corpus comparison into
    per-cluster blocks.

    Pipeline: md5-seeded centroids (``seed_centroids``, broadcast) →
    nearest-centroid assignment (Arrow GEMM, zero shuffle) → blocked
    self-join within cluster (``embedding_neardup_pairs`` — one shuffle
    by cluster id) → pairs (id_a < id_b, cosine ≥ threshold). Keep-rule
    downstream: drop every id_b, or feed the pairs to
    dedup.connected_components for transitive groups.

    Cluster count is the scale knob: shuffle volume is Σ|cluster|² —
    at corpus scale pick n_clusters so the expected cluster fits an
    executor (SemDeDup used 50k clusters for LAION); the md5 seeding and
    rounded-cosine argmax keep the assignment engine-reproducible.
    """
    cents = seed_centroids(data, n_clusters, id_col=id_col, vec_col=vec_col)
    # Persist the assignment: the blocked self-join below references it on
    # BOTH sides, and without a persist each side re-runs the Arrow GEMM
    # pass over the full corpus (two Python map passes + two scans for one
    # logical assignment — the same double-compute the LSH family's
    # persist discipline exists for). MEMORY_AND_DISK, corpus-sized,
    # spillable; at cluster scale the equivalent is checkpointing the
    # assignment to a temp table before the pair join.
    assigned = _ivf_assign(
        data, cents, 1, id_col, vec_col, "vec_id"
    ).persist()  # release: caller (cache contract, queries/__init__)
    return embedding_neardup_pairs(
        assigned,
        threshold=threshold,
        id_col="vec_id",
        vec_col="v",
        block_col="list_id",
    )


def matryoshka_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse_dim: int = 16,
    refine_factor: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN via MATRYOSHKA truncation (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): rank ALL rows by cosine over
    only the first ``coarse_dim`` dimensions (the MRL nesting property —
    prefix dims carry most of the signal), keep the per-query top
    ``k·refine_factor`` candidates, then re-rank those exactly at full
    dimensionality. Completes the engine's vector-compression ladder
    (int8 → PQ/ADC → SemDeDup → MRL truncation).

    Both stages share the deterministic contract: scores rounded to
    ``_ROUND_DIGITS`` before ranking, ties on vec_id, and both rank with
    ``_topk`` (the coarse cut k·refine_factor must stay <= 1000 for the
    rank-limit pushdown; no per-query reducer funnel); the refine
    stage's exact cosine touches only candidates — a dim/coarse_dim
    compute reduction. Deployment note: the parquet scan still reads
    whole arrays; at 100 TB store the head ``coarse_dim`` dims as their
    OWN column so column pruning turns the compute reduction into an IO
    reduction too.
    """
    d = data.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(F.col("query_id"), to_double_array(vec_col).alias("qv"))
    head = F.slice(F.col("v"), 1, coarse_dim)
    qhead = F.slice(F.col("qv"), 1, coarse_dim)
    coarse = F.round(cosine_similarity(qhead, head), _ROUND_DIGITS)
    scored = d.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", "v", "qv", coarse.alias("coarse_cos")
    )
    candidates = _topk(scored, k * refine_factor, "coarse_cos", ascending=False)
    exact = F.round(cosine_similarity(F.col("qv"), F.col("v")), _ROUND_DIGITS)
    return _topk(
        candidates.select("query_id", "vec_id", exact.alias("cosine")), k, "cosine", ascending=False
    )


def collapse_exact_embeddings(
    data: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Mass-duplicate pre-collapse for SemDeDup: one md5 hash-groupBy over
    the vector keeps a single representative (min id, its raw vector via
    min_by) per exact-duplicate group, with the group size.

    Grouping is EXACT vector equality by default (``round_digits=None``),
    matching what a SQL ``GROUP BY embedding`` gives: each component is
    normalized ``x + 0.0`` first, so signed zero collapses the way SQL
    equality treats it (-0.0 = 0.0), then stringified at full double
    precision — bit-faithful otherwise. Pass ``round_digits`` to opt into
    quantized collapse (vectors agreeing to that many digits merge); that
    is a near-dup heuristic, deliberately NOT the default, because it
    silently diverges from exact-equality oracles (ADVICE r9).

    Why it exists (the hub stress): a mass-duplicated vector — the same
    boilerplate page embedded millions of times — lands its whole copy
    set in ONE semantic cluster, and within-cluster pair enumeration is
    C(|group|, 2): quadratic OUTPUT no cluster-count knob can fix,
    because every copy pair genuinely IS a near-dup pair. Collapsing
    exact groups first (one cheap hash shuffle, the dedup.py exact-dedup
    pattern applied to vectors) removes the quadratic term at its
    source: each hub enters clustering as one representative whose
    ``group_size`` carries the duplication mass, and SemDeDup's
    Σ|cluster|² stays governed by n_clusters alone. Scale protocol +
    measured 1x/10x/100x curve: `tools/scale_curve.py semdedup`, README.

    Returns ``(representatives, membership)``: representatives are
    (vec_id, v, group_size) rows ready to feed ``semdedup_pairs(...,
    id_col='vec_id', vec_col='v')``; membership maps every original id to
    its representative — (vec_id, rep_id, group_size) — so keep/drop
    decisions on representatives expand back to the full corpus with one
    broadcast-able join.
    """
    d = data.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    if round_digits is None:
        component = lambda x: (x + F.lit(0.0)).cast("string")  # noqa: E731
    else:
        component = lambda x: F.round(x, round_digits).cast("string")  # noqa: E731
    canon = F.md5(F.concat_ws(",", F.transform(F.col("v"), component)))
    keyed = d.select("vec_id", "v", canon.alias("_h"))
    groups = keyed.groupBy("_h").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).alias("group_size"),
        F.min_by("v", "vec_id").alias("rep_v"),
    )
    membership = keyed.join(groups.select("_h", "rep_id", "group_size"), "_h").select(
        "vec_id", "rep_id", "group_size"
    )
    representatives = groups.select(
        F.col("rep_id").alias("vec_id"), F.col("rep_v").alias("v"), "group_size"
    )
    return representatives, membership
