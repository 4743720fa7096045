"""Similarity-search queries over `embeddings` (array<float>, dim 64), each
with a DuckDB oracle.

Cross-engine float contract: all vector math is double (float32 arrays are
cast up first); cosine = dot/(||a||·||b||) with sequential folds on both
engines; scores are rounded to 6 digits BEFORE ranking/thresholding so a
last-bit accumulation difference can't reorder results; every rank tie
breaks on vec_id asc.

Near-dup corpus: the synthetic embeddings are random (no near-dups), so
the near-dup query plants exact directional copies (every 10th vector
scaled ×2 — cosine exactly 1 after rounding) — same construction on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.vectors import to_double_array
from cyrela_etl_spark.operators.similarity import (
    _hyperplanes,
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
    rhp_lsh_topk,
)
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import fan_out, read_table

_K = 5
_N_QUERIES = 8  # query set = vec_id < 8 (small by contract — broadcast side)
_DIM = 64
_N_PLANES = 6

# DuckDB spelling of the double-fold cosine (same op order as
# functions/vectors.py: dot / (l2(a) * l2(b))).
_SQL_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _emb(spark: SparkSession, sf_dir: str, fan: bool = True) -> DataFrame:
    # fan_out: the single-row-group file scans as ONE task, serializing
    # every Arrow GEMM / cosine fold above it; repartition to session
    # parallelism (no-op on splittable inputs — sources/parquet.py). The
    # query-side subtree shares the identical scan+exchange, so the added
    # shuffle is planned once and reused. ``fan=False``: consumers whose
    # per-row map work is too light to amortize the exchange measurably
    # lose — each opt-out cites its r18 interleaved A/B. `tools/ab.py
    # <query> --patch cyrela_etl_spark.sources.parquet.fan_out` re-checks
    # a consumer that still fans (an opt-out never calls fan_out).
    raw = read_table(spark, sf_dir, "embeddings")
    return fan_out(raw) if fan else raw


def _queries_df(spark: SparkSession, sf_dir: str, fan: bool = True) -> DataFrame:
    return (
        _emb(spark, sf_dir, fan)
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


# ---------------------------------------------------------------------------
# vector_cosine_topk — exact brute-force top-k (expression path).
# ---------------------------------------------------------------------------
def vector_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cosine_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")


ORACLE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.query_id, d.vec_id,
         round({_SQL_COS.format(a='q.qv', b='d.v')}, 6) AS cosine
  FROM d JOIN q ON d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {_K}
"""
register("vector_cosine_topk", vector_cosine_topk, ORACLE_TOPK)


# ---------------------------------------------------------------------------
# vector_rhp_lsh_topk — ANN via random-hyperplane LSH buckets. The oracle
# inlines the SAME deterministic hyperplanes (seeded, rounded literals) so
# both engines bucket identically.
# ---------------------------------------------------------------------------
def vector_rhp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan=False: r18 interleaved A/B (5 reps, tools/ab.py protocol) — fanned
    # 2.241 s vs raw 2.009 s median; the bucket self-join's exchange
    # dominates and the per-row plane dot products are too light to
    # amortize the extra shuffle. The 8-row query side keeps its fan: its
    # own A/B does not separate (4 cores, 15 reps: fanned 1.512 s vs raw
    # 1.482 s median, 9/15 pairs, quartile ranges overlapping).
    out = rhp_lsh_topk(
        _emb(spark, sf_dir, fan=False),
        _queries_df(spark, sf_dir),
        k=_K,
        n_planes=_N_PLANES,
        dim=_DIM,
    )
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")


def _rhp_oracle() -> str:
    planes = _hyperplanes(_DIM, _N_PLANES)
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {2**i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket} AS bucket FROM base),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, d.vec_id,
         round({_SQL_COS.format(a='q.qv', b='d.v')}, 6) AS cosine
  FROM bucketed d JOIN q ON d.bucket = q.bucket AND d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {_K}
"""


register("vector_rhp_lsh_topk", vector_rhp_lsh_topk, _rhp_oracle())


# ---------------------------------------------------------------------------
# vector_ivf_topk — IVF inverted-list ANN: assign to nearest of 16 seed
# centroids (md5-ordered deterministic sample, broadcast to executors —
# never plan literals), probe the query's 2 closest lists. The oracle
# replays the same seeding, assignment and probe ranking in SQL.
# ---------------------------------------------------------------------------
_N_CENT, _NPROBE = 16, 2


def vector_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan=False: r18 interleaved A/B (5 reps, tools/ab.py protocol) — fanned
    # 1.782 s vs raw 1.200 s median, the biggest fan loser measured: the
    # centroid TakeOrdered + assignment passes each pay the exchange
    # again (the fanned subtree is referenced more than once but the
    # seed-sample collect cannot reuse it). The 8-row query side follows:
    # fanned 1.303 s vs raw 1.094 s median (4 cores, 9 reps, 9/9 pairs).
    out = ivf_topk(
        _emb(spark, sf_dir, fan=False),
        _queries_df(spark, sf_dir, fan=False),
        k=_K,
        n_centroids=_N_CENT,
        nprobe=_NPROBE,
    )
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")


ORACLE_IVF = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM base
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_N_CENT}),
cscored AS (
  SELECT b.vec_id, b.v, c.cid,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY round({_SQL_COS.format(a='b.v', b='c.cv')}, 6) DESC, c.cid
         ) AS crank
  FROM base b CROSS JOIN cent c
),
assign AS (SELECT vec_id, v, cid AS list_id FROM cscored WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid AS list_id
           FROM cscored WHERE vec_id < {_N_QUERIES} AND crank <= {_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({_SQL_COS.format(a='p.qv', b='a.v')}, 6) AS cosine
  FROM assign a JOIN probes p ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {_K}
"""
register("vector_ivf_topk", vector_ivf_topk, ORACLE_IVF)


# ---------------------------------------------------------------------------
# vector_neardup_pairs — embedding-cosine near-duplicates over the planted
# corpus, blocked by label (the production contract: always blocked).
# ---------------------------------------------------------------------------
_NEARDUP_T = 0.99


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("embedding"), "label"
    )
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    return emb.unionByName(copies)


def vector_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _neardup_corpus(spark, sf_dir), threshold=_NEARDUP_T, block_col="label"
    )


register(
    "vector_neardup_pairs",
    vector_neardup_pairs,
    f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0), label
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_SQL_COS.format(a='a.v', b='b.v')}, 6) AS cosine
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_SQL_COS.format(a='a.v', b='b.v')}, 6) >= {_NEARDUP_T}
""",
)


# ---------------------------------------------------------------------------
# vector_l2_topk — exact Euclidean top-k (metric twin of cosine; same
# broadcast + rank-limited top-k plan; sqrt(aa-2ab+bb) expansion keeps the
# float fold order identical to the oracle's list_dot_product).
# ---------------------------------------------------------------------------
def vector_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import l2_topk

    out = l2_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "l2_dist")


ORACLE_L2 = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.query_id, d.vec_id,
         round(sqrt(greatest(
           list_dot_product(q.qv, q.qv)
           - 2.0 * list_dot_product(q.qv, d.v)
           + list_dot_product(d.v, d.v), 0.0)), 6) AS l2_dist
  FROM d JOIN q ON d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, l2_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY l2_dist ASC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, l2_dist FROM ranked WHERE rank <= {_K}
"""
register("vector_l2_topk", vector_l2_topk, ORACLE_L2)


# ---------------------------------------------------------------------------
# vector_sq_int8_topk — cosine top-k over symmetric int8 scalar-quantized
# vectors (operators/similarity.py sq_int8_topk): 4× less scan IO than
# float32, exact integer dot products, two correctly-rounded sqrts + one
# division as the only float ops. The oracle quantizes identically and
# folds the dot product in exact BIGINT space.
# ---------------------------------------------------------------------------
def vector_sq_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import sq_int8_topk

    out = sq_int8_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")


def _sq_oracle() -> str:
    quant = (
        "list_transform(v, x -> CAST(round(127 * x / "
        "list_max(list_transform(v, y -> abs(y)))) AS BIGINT))"
    )
    idot = (
        "CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> {a}[i] * {b}[i])) AS BIGINT)"
    )
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
quant AS (SELECT vec_id, {quant} AS qv FROM base),
normed AS (SELECT vec_id, qv,
                  {idot.format(dim=_DIM, a='qv', b='qv')} AS nrm
           FROM quant),
q AS (SELECT vec_id AS query_id, qv AS qq, nrm AS nq FROM normed WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.query_id, d.vec_id,
         round({idot.format(dim=_DIM, a='q.qq', b='d.qv')}
               / (sqrt(q.nq) * sqrt(d.nrm)), 6) AS cosine
  FROM normed d JOIN q ON d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {_K}
"""


register("vector_sq_int8_topk", vector_sq_int8_topk, _sq_oracle())


# ---------------------------------------------------------------------------
# vector_pq_adc_topk — product-quantization ADC search (operators/
# similarity.py pq_adc_topk): md5-seeded codebooks (8 subspaces × 16
# codewords over dim 64), struct-min encoding, and integer-ppm distance
# sums — the 32×-compression rung below int8. The oracle replays seeding,
# encoding argmin, and the ADC table lookups with the same integer math.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_KSUB = 8, 16
_PQ_DSUB = _DIM // _PQ_M


def vector_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import pq_adc_topk

    out = pq_adc_topk(
        _emb(spark, sf_dir),
        _queries_df(spark, sf_dir),
        k=_K,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        dim=_DIM,
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "adc_ppm"
    )


def _pq_oracle() -> str:
    d2 = (
        "CAST(round((list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})) * 1000000) AS BIGINT)"
    )
    lo = f"j*{_PQ_DSUB}+1"
    hi = f"j*{_PQ_DSUB}+{_PQ_DSUB}"
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM base
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_KSUB}),
js AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS j),
books AS (SELECT js.j, cent.cid, cent.cv[{lo}:{hi}] AS cw FROM cent CROSS JOIN js),
dsubs AS (SELECT base.vec_id, js.j, base.v[{lo}:{hi}] AS sub FROM base CROSS JOIN js),
cand AS (
  SELECT d.vec_id, d.j, b.cid, {d2.format(a='d.sub', b='b.cw')} AS d2
  FROM dsubs d JOIN books b ON d.j = b.j
),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, cid ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
qsubs AS (SELECT vec_id AS query_id, j, sub FROM dsubs WHERE vec_id < {_N_QUERIES}),
dtable AS (
  SELECT q.query_id, q.j, b.cid, {d2.format(a='q.sub', b='b.cw')} AS d2_ppm
  FROM qsubs q JOIN books b ON q.j = b.j
),
scored AS (
  SELECT t.query_id, c.vec_id, CAST(sum(t.d2_ppm) AS BIGINT) AS adc_ppm
  FROM codes c JOIN dtable t ON c.j = t.j AND c.code = t.cid
  WHERE c.vec_id <> t.query_id
  GROUP BY t.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_ppm,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_ppm ASC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, adc_ppm FROM ranked WHERE rank <= {_K}
"""


register("vector_pq_adc_topk", vector_pq_adc_topk, _pq_oracle())


# ---------------------------------------------------------------------------
# vector_semdedup_pairs — SemDeDup over the planted near-dup corpus
# (operators/similarity.py semdedup_pairs): md5-seeded clusters, nearest-
# centroid assignment, near-dup pairs only WITHIN a cluster. The oracle
# replays seeding, the rounded-cosine argmax assignment, and the blocked
# pair join.
# ---------------------------------------------------------------------------
_SEM_C, _SEM_T = 16, 0.99


def vector_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import semdedup_pairs

    return semdedup_pairs(
        _neardup_corpus(spark, sf_dir), n_clusters=_SEM_C, threshold=_SEM_T
    )


ORACLE_SEMDEDUP = f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
  FROM embeddings WHERE vec_id % 10 = 0
),
cent AS (SELECT vec_id AS cid, v AS cv FROM corpus
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SEM_C}),
cscored AS (
  SELECT c.vec_id, c.v, ct.cid,
         row_number() OVER (
           PARTITION BY c.vec_id
           ORDER BY round({_SQL_COS.format(a='c.v', b='ct.cv')}, 6) DESC, ct.cid
         ) AS crank
  FROM corpus c CROSS JOIN cent ct
),
assign AS (SELECT vec_id, v, cid AS list_id FROM cscored WHERE crank = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_SQL_COS.format(a='a.v', b='b.v')}, 6) AS cosine
  FROM assign a JOIN assign b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {_SEM_T}
"""
register("vector_semdedup_pairs", vector_semdedup_pairs, ORACLE_SEMDEDUP)


# ---------------------------------------------------------------------------
# vector_kmeans_clusters — 2 full Lloyd iterations from the md5-ordered
# seed sample, profiled per final cluster (operators/clustering.py). The
# oracle unrolls BOTH iterations in SQL: the nearest-centroid argmin, the
# exact-decimal elementwise means, and the decimal inertia sums are
# replayed operation-for-operation, making this the strongest available
# cross-check of a distributed iterative algorithm (not just its output
# schema). Distances are the same three-dot expansion as vector_l2_topk;
# means round elements to 6 digits and sum in DECIMAL(18,6) so neither
# engine's aggregation arrival order can leak into the result.
# ---------------------------------------------------------------------------
_KM_K, _KM_ITERS = 8, 2

_SQL_D2 = (
    "round(greatest(list_dot_product({v}, {v})"
    " - 2.0 * list_dot_product({v}, {c})"
    " + list_dot_product({c}, {c}), 0.0), 6)"
)


def vector_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.clustering import kmeans_cluster_profile

    return kmeans_cluster_profile(_emb(spark, sf_dir), k=_KM_K, iterations=_KM_ITERS)


ORACLE_KMEANS = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent1 AS (SELECT vec_id AS cid, v AS cv FROM base
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KM_K}),
a1p AS (
  SELECT b.vec_id, b.v, c.cid, {_SQL_D2.format(v='b.v', c='c.cv')} AS dist2
  FROM base b CROSS JOIN cent1 c
),
a1 AS (
  SELECT vec_id, v, cid, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crank
    FROM a1p)
  WHERE crank = 1
),
mexp AS (
  SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM a1
),
m AS (
  SELECT cid, pos,
         CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mval
  FROM mexp GROUP BY cid, pos
),
cent2 AS (SELECT cid, list(mval ORDER BY pos) AS cv FROM m GROUP BY cid),
a2p AS (
  SELECT b.vec_id, c.cid, {_SQL_D2.format(v='b.v', c='c.cv')} AS dist2
  FROM base b CROSS JOIN cent2 c
),
a2 AS (
  SELECT vec_id, cid, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crank
    FROM a2p)
  WHERE crank = 1
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CAST(dist2 AS DECIMAL(20,6))) AS DOUBLE) AS inertia,
       round(CAST(sum(CAST(dist2 AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_dist2
FROM a2 GROUP BY cid
"""
register("vector_kmeans_clusters", vector_kmeans_clusters, ORACLE_KMEANS)


# ---------------------------------------------------------------------------
# vector_matryoshka_topk — MRL truncated-prefix ANN (Kusupati et al. 2022):
# coarse-rank every row on the first 16 of 64 dims, exact-rerank the
# per-query top-50 candidates. The oracle replays the slice, both ranked
# stages, and the tie discipline. Completes the compression ladder:
# int8 scalar quantization → PQ/ADC codes → SemDeDup clusters → MRL
# prefix truncation.
# ---------------------------------------------------------------------------
_MRL_COARSE_DIM, _MRL_REFINE = 16, 10


def vector_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import matryoshka_topk

    out = matryoshka_topk(
        _emb(spark, sf_dir),
        _queries_df(spark, sf_dir),
        k=_K,
        coarse_dim=_MRL_COARSE_DIM,
        refine_factor=_MRL_REFINE,
    )
    return out.select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")


ORACLE_MRL = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
coarse AS (
  SELECT q.query_id, d.vec_id, d.v, q.qv,
         round({_SQL_COS.format(a=f'q.qv[1:{_MRL_COARSE_DIM}]', b=f'd.v[1:{_MRL_COARSE_DIM}]')}, 6) AS coarse_cos
  FROM d JOIN q ON d.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id, v, qv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY coarse_cos DESC, vec_id) AS crank
    FROM coarse)
  WHERE crank <= {_K * _MRL_REFINE}
),
exact AS (
  SELECT query_id, vec_id,
         round({_SQL_COS.format(a='qv', b='v')}, 6) AS cosine
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM exact
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {_K}
"""
register("vector_matryoshka_topk", vector_matryoshka_topk, ORACLE_MRL)


# ---------------------------------------------------------------------------
# vector_recall_report — the ANN quality harness: recall@k of the IVF
# index against the exact brute-force ranking, per query. This is the
# evaluation loop every production ANN deployment runs before trusting an
# index (recall is THE accuracy metric in the ANN literature —
# Jégou et al. 2011 report all results as recall@k curves); here it is a
# first-class relational operator: exact top-k ⟕ IVF top-k on
# (query_id, vec_id), hits counted, one exact division per query. A
# recall regression (from a bad centroid seed, an nprobe misconfig, a
# quantizer bug) surfaces as a changed fraction — and the oracle replays
# BOTH rankings in SQL, so the report itself is verified, not just the
# indexes it grades.
#
# Plan: reuses the audited rank-limited top-k and IVF subplans; the report
# join matches two ≤(queries·k)-row rank lists — broadcast-sized by
# contract. Left join from exact keeps missed neighbors visible.
# ---------------------------------------------------------------------------
def vector_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K).select(
        "query_id", "vec_id"
    )
    approx = ivf_topk(
        _emb(spark, sf_dir),
        _queries_df(spark, sf_dir),
        k=_K,
        n_centroids=_N_CENT,
        nprobe=_NPROBE,
    ).select("query_id", F.col("vec_id").alias("hit_id"))
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"]) & (exact["vec_id"] == approx["hit_id"]),
        "left",
    ).select(exact["query_id"].alias("qid"), "hit_id")
    return (
        joined.groupBy("qid")
        .agg(F.count("hit_id").cast("long").alias("n_hits"))
        .select(
            F.col("qid").alias("query_id"),
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(_K)), 6).alias("recall_at_k"),
        )
    )


def _recall_oracle() -> str:
    return f"""
WITH exact AS (
  SELECT query_id, vec_id FROM ({ORACLE_TOPK}) t
),
approx AS (
  SELECT query_id, vec_id AS hit_id FROM ({ORACLE_IVF}) t
)
SELECT e.query_id,
       CAST(count(a.hit_id) AS BIGINT) AS n_hits,
       round(count(a.hit_id) / CAST({_K} AS DOUBLE), 6) AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.hit_id
GROUP BY e.query_id
"""


register("vector_recall_report", vector_recall_report, _recall_oracle())


# ---------------------------------------------------------------------------
# vector_knn_classify — k-NN majority-vote classification (Fix & Hodges
# 1951 / Cover & Hart 1967) over the embedding labels: each query vector
# is labeled by the majority label among its exact top-k cosine
# neighbors, ties broken by the SMALLEST label (a total order, so the
# prediction is deterministic). Reports the vote count and agreement
# with the query's own label — the standard label-consistency probe for
# embedding quality (a low agreement rate flags label noise or a broken
# embedding space).
#
# Plan: the audited exact top-k subplan (queries broadcast, map-side
# rank limit) → neighbor labels via ONE id-keyed join →
# (query, label) hash count → struct-max argmax (no window over the
# candidate set) → broadcast join back to the query's own label. Output
# is query-sized.
# ---------------------------------------------------------------------------
def vector_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = cosine_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K)
    labels = _emb(spark, sf_dir).select("vec_id", F.col("label").cast("long").alias("label"))
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    best = (
        votes.groupBy("query_id")
        .agg(F.max(F.struct(F.col("votes"), (-F.col("label")).alias("nl"))).alias("w"))
        .select(
            "query_id",
            (-F.col("w.nl")).cast("long").alias("predicted_label"),
            F.col("w.votes").alias("votes"),
        )
    )
    own = labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return best.join(F.broadcast(own), "query_id").select(
        "query_id",
        "predicted_label",
        "votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("correct"),
    )


register(
    "vector_knn_classify",
    vector_knn_classify,
    f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.query_id, d.vec_id,
         round({_SQL_COS.format(a='q.qv', b='d.v')}, 6) AS cosine
  FROM d JOIN q ON d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
),
topk AS (SELECT query_id, vec_id FROM ranked WHERE rank <= {_K}),
votes AS (
  SELECT t.query_id, CAST(e.label AS BIGINT) AS label,
         CAST(count(*) AS BIGINT) AS votes
  FROM topk t JOIN embeddings e USING (vec_id)
  GROUP BY t.query_id, CAST(e.label AS BIGINT)
),
best AS (
  SELECT query_id, label AS predicted_label, votes FROM (
    SELECT query_id, label, votes,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, label ASC) AS rn
    FROM votes) WHERE rn = 1
)
SELECT b.query_id, b.predicted_label, b.votes,
       CAST(e.label AS BIGINT) AS true_label,
       b.predicted_label = CAST(e.label AS BIGINT) AS correct
FROM best b JOIN embeddings e ON b.query_id = e.vec_id
""",
)


# ---------------------------------------------------------------------------
# vector_kcenter_select — greedy farthest-point (k-center) selection
# (Gonzalez 1985, "Clustering to minimize the maximum intercluster
# distance"; the 2-approximation every diverse-core-set recipe uses):
# seed with the smallest vec_id, then repeatedly take the candidate
# whose min squared-L2 distance to the selected set is LARGEST (distance
# rounded to 6 before the argmax, ties to the smallest vec_id — a total
# order). The selection sequence IS the output; its distance column is
# the decreasing coverage-radius sequence — the diversity budget curve a
# data-selection run reads.
#
# The greedy is inherently sequential, so each of the k−1 rounds is one
# full-scan argmax with a SINGLE-ROW TakeOrdered collect (the allowed
# scalar-collect class — kmeans' seed/convergence discipline); all
# distance arithmetic is the audited three-dot expansion with the
# sequential fold both engines share. The oracle unrolls the same k−1
# stages as chained 1-row CTEs (generated, not hand-written).
# ---------------------------------------------------------------------------
_KC_K = 5


def vector_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.vectors import dot

    emb = _emb(spark, sf_dir).select("vec_id", to_double_array("embedding").alias("v"))
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(int(seed["vec_id"]), list(seed["v"]))]
    out_rows = [(1, chosen[0][0], None)]
    for rank in range(2, _KC_K + 1):
        dxx = dot(F.col("v"), F.col("v"))
        d2s = []
        for _cid, cv in chosen:
            lit = F.array(*[F.lit(float(x)) for x in cv])
            d2s.append(
                F.greatest(
                    dxx - F.lit(2.0) * dot(F.col("v"), lit) + dot(lit, lit),
                    F.lit(0.0),
                )
            )
        md = F.round(F.least(*d2s) if len(d2s) > 1 else d2s[0], 6)
        hits = (
            emb.filter(~F.col("vec_id").isin([c for c, _v in chosen]))
            .select("vec_id", "v", md.alias("md"))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not hits:  # fewer than k candidates: the selection IS the set
            break
        best = hits[0]
        chosen.append((int(best["vec_id"]), list(best["v"])))
        out_rows.append((rank, int(best["vec_id"]), float(best["md"])))
    return spark.createDataFrame(
        out_rows, "sel_rank long, vec_id long, min_dist_sq double"
    )


def _kcenter_oracle() -> str:
    def d2(v: str, s: str) -> str:
        return (
            f"greatest(list_dot_product({v}, {v})"
            f" - 2.0 * list_dot_product({v}, {s}.v)"
            f" + list_dot_product({s}.v, {s}.v), 0.0)"
        )

    ctes = [
        "d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "s1 AS (SELECT vec_id, v FROM d ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(2, _KC_K + 1):
        prev = [f"s{i}" for i in range(1, r)]
        terms = [d2("d.v", s) for s in prev]
        md = f"round(least({', '.join(terms)}), 6)" if len(terms) > 1 else f"round({terms[0]}, 6)"
        froms = ", ".join(["d"] + prev)
        not_in = " AND ".join(f"d.vec_id <> {s}.vec_id" for s in prev)
        ctes.append(
            f"s{r} AS (SELECT d.vec_id, d.v, {md} AS md FROM {froms} "
            f"WHERE {not_in} ORDER BY md DESC, d.vec_id ASC LIMIT 1)"
        )
    selects = ["SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist_sq FROM s1"]
    for r in range(2, _KC_K + 1):
        selects.append(f"SELECT {r} AS sel_rank, vec_id, md AS min_dist_sq FROM s{r}")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank, "
        "vec_id, min_dist_sq FROM (" + "\nUNION ALL\n".join(selects) + ")"
    )


register("vector_kcenter_select", vector_kcenter_select, _kcenter_oracle())


# ---------------------------------------------------------------------------
# vector_norm_profile — embedding-health diagnostics per label: the L2
# norm distribution (n, min, max, mean) plus a near-zero count. Norm
# collapse (many ~0 vectors) and scale drift between labels are the two
# standard embedding-table pathologies a pipeline checks before ANN
# indexing. Determinism: each row's norm is the sequential-fold dot +
# one sqrt (engine-identical), ROUNDED to 6 and carried as DECIMAL into
# the sums — a float mean over raw norms would be accumulation-order-
# dependent. One hash agg, label-sized output.
# ---------------------------------------------------------------------------
def vector_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.vectors import l2_norm

    emb = _emb(spark, sf_dir).select(
        F.col("label").cast("long").alias("label"),
        F.round(l2_norm(to_double_array("embedding")), 6).alias("norm_r"),
    )
    dec = F.col("norm_r").cast("decimal(18,6)")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("norm_r").alias("min_norm"),
        F.max("norm_r").alias("max_norm"),
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6).alias("mean_norm"),
        F.sum(F.when(F.col("norm_r") < 0.001, 1).otherwise(0))
        .cast("long")
        .alias("n_near_zero"),
    )


register(
    "vector_norm_profile",
    vector_norm_profile,
    """
WITH norms AS (
  SELECT CAST(label AS BIGINT) AS label,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS norm_r
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       min(norm_r) AS min_norm,
       max(norm_r) AS max_norm,
       round(CAST(sum(CAST(norm_r AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_norm,
       CAST(sum(CASE WHEN norm_r < 0.001 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero
FROM norms
GROUP BY label
""",
)


# ---------------------------------------------------------------------------
# vector_label_margin — embedding separability per label: mean cosine
# within the label vs against other labels, and their margin — the
# Fisher-style probe that tells whether labels are linearly separable in
# embedding space BEFORE training a head (near-zero margins predict k-NN
# confusion; complements vector_knn_classify's instance-level view).
# Bounded by construction: a DETERMINISTIC 16-smallest-vec_id sample per
# label (row_number over a total order) caps the pair set at a constant
# ~12.7k regardless of corpus size — the self-join is a fixed-size
# broadcast, never corpus². Cosines round to 6 then ride DECIMAL sums;
# each mean is one IEEE division.
# ---------------------------------------------------------------------------
_LM_SAMPLE = 16


def vector_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cyrela_etl_spark.functions.vectors import cosine_similarity

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("label").cast("long").alias("label"),
        to_double_array("embedding").alias("v"),
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    # sampled is read twice by its own self-join; pairs feeds intra once
    # and inter twice (the two union arms) — without persists the corpus
    # window re-runs three times and the pair join twice (r13
    # multi-consumer-tail sweep). Both are contractually bounded:
    # <= _LM_SAMPLE rows per label, and its own pair set.
    sampled = emb.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _LM_SAMPLE
    ).select("vec_id", "label", "v").persist()  # release: caller (cache contract, queries/__init__)
    a, b = sampled.alias("a"), sampled.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.label").alias("la"),
        F.col("b.label").alias("lb"),
        F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
    ).persist()  # release: caller (cache contract, queries/__init__)
    intra = pairs.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("label"), F.lit("intra").alias("kind"), "cos"
    )
    inter = pairs.filter(F.col("la") != F.col("lb"))
    inter_rows = inter.select(
        F.col("la").alias("label"), F.lit("inter").alias("kind"), "cos"
    ).unionByName(
        inter.select(F.col("lb").alias("label"), F.lit("inter").alias("kind"), "cos")
    )
    dec = F.col("cos").cast("decimal(10,6)")
    stats = (
        intra.unionByName(inter_rows)
        .groupBy("label", "kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec).alias("s"),
        )
    )
    wide = stats.groupBy("label").agg(
        F.max(F.when(F.col("kind") == "intra", F.col("n"))).cast("long").alias("n_intra"),
        F.round(
            F.max(F.when(F.col("kind") == "intra", F.col("s"))).cast("double")
            / F.max(F.when(F.col("kind") == "intra", F.col("n"))),
            6,
        ).alias("mean_intra"),
        F.max(F.when(F.col("kind") == "inter", F.col("n"))).cast("long").alias("n_inter"),
        F.round(
            F.max(F.when(F.col("kind") == "inter", F.col("s"))).cast("double")
            / F.max(F.when(F.col("kind") == "inter", F.col("n"))),
            6,
        ).alias("mean_inter"),
    )
    return wide.select(
        "label",
        "n_intra",
        "mean_intra",
        "n_inter",
        "mean_inter",
        F.round(F.col("mean_intra") - F.col("mean_inter"), 6).alias("margin"),
    )


register(
    "vector_label_margin",
    vector_label_margin,
    f"""
WITH emb AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(embedding AS DOUBLE[]) AS v,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
  FROM embeddings
),
sampled AS (SELECT vec_id, label, v FROM emb WHERE rn <= {_LM_SAMPLE}),
pairs AS (
  SELECT a.label AS la, b.label AS lb,
         round({_SQL_COS.format(a='a.v', b='b.v')}, 6) AS cos
  FROM sampled a JOIN sampled b ON a.vec_id < b.vec_id
),
tagged AS (
  SELECT la AS label, 'intra' AS kind, cos FROM pairs WHERE la = lb
  UNION ALL
  SELECT la, 'inter', cos FROM pairs WHERE la <> lb
  UNION ALL
  SELECT lb, 'inter', cos FROM pairs WHERE la <> lb
),
stats AS (
  SELECT label, kind,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cos AS DECIMAL(10,6))) AS s
  FROM tagged GROUP BY label, kind
),
wide AS (
  SELECT label,
         CAST(max(CASE WHEN kind = 'intra' THEN n END) AS BIGINT) AS n_intra,
         round(CAST(max(CASE WHEN kind = 'intra' THEN s END) AS DOUBLE)
               / max(CASE WHEN kind = 'intra' THEN n END), 6) AS mean_intra,
         CAST(max(CASE WHEN kind = 'inter' THEN n END) AS BIGINT) AS n_inter,
         round(CAST(max(CASE WHEN kind = 'inter' THEN s END) AS DOUBLE)
               / max(CASE WHEN kind = 'inter' THEN n END), 6) AS mean_inter
  FROM stats GROUP BY label
)
SELECT label, n_intra, mean_intra, n_inter, mean_inter,
       round(mean_intra - mean_inter, 6) AS margin
FROM wide
""",
)


# ---------------------------------------------------------------------------
# vector_power_iteration_pca — the top principal direction by TWO
# distributed power iterations on the (uncentered) second-moment matrix
# (von Mises–Rauscher power method; PCA-1 is the spectral core of
# whitening, PCA dedup and embedding diagnostics). The kmeans
# discipline taken further: NOT ONLY is every iteration oracle-unrolled,
# the arithmetic is formulated so no float FOLD exists anywhere — every
# dot product and every matrix-vector component is a decimal sum of
# per-term ROUNDED products over the (vec, dim, val) long format, so
# aggregation order cannot matter on either engine:
#   dr(vec)   = Σ_dim round(val · w_dim, 9)        (decimal, exact)
#   s(dim)    = Σ_vec round(val · dr(vec), 6)      (decimal, exact)
#   ‖s‖       = sqrt(Σ_dim s²)  (s decimal ⇒ s² exact; one sqrt)
#   w'(dim)   = round(s / ‖s‖, 9)                  (one IEEE division)
# Output: one row — the Rayleigh-style eigenvalue estimate ‖s‖ after
# round 2 and the first 8 eigenvector components. Fully distributed:
# the weight vector is a 64-row broadcast table between rounds, no
# driver-side loop state.
# Plan per round: posexplode (zero-shuffle) → dim-keyed broadcast join →
# per-vec hash agg → second broadcast join → per-dim hash agg.
# Plan diet (VERDICT r11 item 5): the long-format relation E feeds two
# joins per round and the unrolled lineage doubled per consumer — the
# un-persisted plan held 24 scan / 23 shuffle / 31 broadcast sites for
# a 2-round iteration. E is persisted once (the standard iterative
# base-relation pattern; MEMORY_AND_DISK, spillable at corpus scale),
# and each round's 64-row s vector is persisted so its norm and the
# normalization read one computation instead of re-running the round.
# ---------------------------------------------------------------------------
def vector_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    E = emb.select(
        "vec_id", F.posexplode("v").alias("dim", "val")
    ).persist()  # release: caller (cache contract, queries/__init__)
    w = spark.range(_DIM).select(
        F.col("id").cast("int").alias("dim"),
        F.when(F.col("id") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("w"),
    )

    def power_round(weights):
        p = E.join(F.broadcast(weights), "dim").select(
            "vec_id",
            "dim",
            "val",
            F.round(F.col("val") * F.col("w"), 9).cast("decimal(28,9)").alias("p"),
        )
        dr = p.groupBy("vec_id").agg(F.sum("p").cast("double").alias("dr"))
        s = (
            E.join(dr, "vec_id")
            .select("dim", F.round(F.col("val") * F.col("dr"), 6).cast("decimal(28,6)").alias("c"))
            .groupBy("dim")
            .agg(F.sum("c").alias("s"))
        ).persist()  # release: caller (64 rows; norm + normalize both read it)
        n2 = s.select((F.col("s") * F.col("s")).alias("s2")).agg(
            F.sum("s2").cast("double").alias("n2")
        )
        return s.crossJoin(F.broadcast(n2)).select(
            "dim",
            F.round(F.col("s").cast("double") / F.sqrt(F.col("n2")), 9).alias("w"),
            F.sqrt(F.col("n2")).alias("lam"),
        )

    w1 = power_round(w).select("dim", "w")
    w2 = power_round(w1).persist()  # release: caller (64 rows; λ agg + pivot)
    lam = w2.agg(F.round(F.max("lam"), 6).alias("lambda_1"))
    comps = (
        w2.filter(F.col("dim") < 8)
        .groupBy()
        .pivot("dim", list(range(8)))
        .agg(F.first("w"))
    )
    out = lam.crossJoin(F.broadcast(comps))
    return out.select(
        "lambda_1", *[F.round(F.col(str(d)), 6).alias(f"c{d}") for d in range(8)]
    )


def _power_iter_oracle() -> str:
    def round_sql(prev_w: str, tag: str) -> str:
        return f"""
p{tag} AS (
  SELECT e.vec_id, e.dim, e.val,
         CAST(round(e.val * {prev_w}.w, 9) AS DECIMAL(28,9)) AS p
  FROM E e JOIN {prev_w} ON e.dim = {prev_w}.dim
),
dr{tag} AS (SELECT vec_id, CAST(sum(p) AS DOUBLE) AS dr FROM p{tag} GROUP BY vec_id),
s{tag} AS (
  SELECT e.dim, sum(CAST(round(e.val * d.dr, 6) AS DECIMAL(28,6))) AS s
  FROM E e JOIN dr{tag} d USING (vec_id)
  GROUP BY e.dim
),
n{tag} AS (SELECT CAST(sum(s * s) AS DOUBLE) AS n2 FROM s{tag}),
w{tag} AS (
  SELECT s{tag}.dim,
         round(CAST(s{tag}.s AS DOUBLE) / sqrt(n{tag}.n2), 9) AS w,
         sqrt(n{tag}.n2) AS lam
  FROM s{tag}, n{tag}
)"""

    comp_cols = ", ".join(
        f"round(max(CASE WHEN dim = {d} THEN w END), 6) AS c{d}" for d in range(8)
    )
    return f"""
WITH E AS (
  SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS dim, CAST(embedding[u.i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, {_DIM})) AS u(i)
),
w0 AS (
  SELECT CAST(u.i - 1 AS INTEGER) AS dim,
         CASE WHEN u.i = 1 THEN 1.0 ELSE 0.0 END AS w
  FROM unnest(generate_series(1, {_DIM})) AS u(i)
),{round_sql('w0', '1')},{round_sql('w1', '2')}
SELECT round(max(lam), 6) AS lambda_1, {comp_cols}
FROM w2
"""


register("vector_power_iteration_pca", vector_power_iteration_pca, _power_iter_oracle())


# ---------------------------------------------------------------------------
# vector_exact_collapse — the mass-dup pre-collapse operator
# (operators/similarity.collapse_exact_embeddings, round 9) under the
# oracle: plant exact duplicates (every 5th vector re-enters with a
# shifted id — a deterministic stand-in for boilerplate embedded many
# times), collapse to representatives, and profile the group-size
# distribution. The oracle groups by the raw embedding list (exact float
# equality — planted copies are bit-identical), and since round 10 the
# operator's default grouping IS exact equality (signed-zero-normalized
# full-precision hashing, ADVICE r9) — the two sides share semantics by
# construction, not by data-dependent luck. So the collapse's grouping,
# representative choice (min id) and mass accounting (group_size) are
# all value-certified. Scale rationale: README's
# semdedup hub-stress curve — this is the one-hash-shuffle pass that
# keeps Σ|cluster|² knob-governed.
# ---------------------------------------------------------------------------
def vector_exact_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import collapse_exact_embeddings

    base = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = base.unionByName(
        base.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
        )
    )
    reps, _membership = collapse_exact_embeddings(dup)
    return reps.groupBy("group_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("group_size").cast("long").alias("n_rows"),
        F.min("vec_id").cast("long").alias("min_rep"),
        F.max("vec_id").cast("long").alias("max_rep"),
    )


register(
    "vector_exact_collapse",
    vector_exact_collapse,
    """
WITH dup AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
),
groups AS (
  SELECT min(vec_id) AS rep_id, CAST(count(*) AS BIGINT) AS group_size
  FROM dup GROUP BY embedding
)
SELECT group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(group_size) AS BIGINT) AS n_rows,
       CAST(min(rep_id) AS BIGINT) AS min_rep,
       CAST(max(rep_id) AS BIGINT) AS max_rep
FROM groups
GROUP BY group_size
""",
)
