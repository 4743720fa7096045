"""Model checks for the quantization rungs (operators/similarity.py):
scalar int8 quantization top-k and product-quantization encode + ADC
top-k vs plain-Python references that mirror the operators' exact
arithmetic (the round-9/10 model-test pattern).

What these pin beyond the oracle twins:

- SQ: the per-vector symmetric scale (max|x|), round-half-away-from-zero
  int8 mapping (Spark round = BigDecimal HALF_UP on the SHORTEST double
  repr — modeled via Decimal(repr(x)), ADVICE r10), EXACT integer
  dot/norm folds, and the (cosine desc, vec_id asc) tie order of the
  shared top-k rank.
- PQ: the md5-seeded deterministic codebook sample (ORDER BY
  md5(cast(id)) asc, id asc LIMIT ksub — engine-replayable), subvector
  slicing, the lexicographic (d2_ppm, cid) struct-min argmin (ties break
  to the LOWER centroid id), the ppm distance rounding done ONCE before
  any summation, and the ADC integer table-lookup sum with (adc asc,
  vec_id asc) ranking.

Vector components are integers/halves, so dot folds are exact in IEEE
float64 regardless of association and the models stay bit-faithful; the
inexact steps (127·x/scale, the final cosine division) are single IEEE
ops identical in CPython and the JVM.
"""

from __future__ import annotations
import pytest

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VEC3 = st.lists(st.integers(-3, 3), min_size=3, max_size=3).filter(
    lambda v: any(x != 0 for x in v)
)
_VEC4 = st.lists(st.sampled_from([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0]), min_size=4, max_size=4)
_QIDS = st.lists(st.integers(0, 12), min_size=1, max_size=2, unique=True)


def _round_half_up(x: float, exp: str) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(exp), rounding=ROUND_HALF_UP))


def _model_quantize(v: list[float]) -> list[int]:
    scale = max(abs(x) for x in v)
    return [int(_round_half_up(127 * x / scale, "1")) for x in v]


def _model_sq_cosine(q: list[float], d: list[float]) -> float:
    qq, qd = _model_quantize(q), _model_quantize(d)
    dot = sum(a * b for a, b in zip(qq, qd))  # exact int arithmetic
    nq = sum(a * a for a in qq)
    nd = sum(a * a for a in qd)
    return _round_half_up(dot / (math.sqrt(nq) * math.sqrt(nd)), "0.000001")


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
@given(data=st.lists(_VEC3, min_size=2, max_size=8), qids=_QIDS, k=st.sampled_from([1, 3]))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_sq_int8_topk_matches_python_model(spark, data, qids, k):
    from cyrela_etl_spark.operators.similarity import sq_int8_topk

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(data)]
    ddf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(qid, rows[qid % len(rows)][1]) for qid in qids]
    qdf = spark.createDataFrame(qrows, "query_id long, embedding array<double>")
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in sq_int8_topk(ddf, qdf, k=k).collect()
    )
    want = []
    for qid, qv in qrows:
        scored = sorted(((-_model_sq_cosine(qv, v), i) for i, v in rows if i != qid))[:k]
        want.extend((qid, rank, vid, -negcos) for rank, (negcos, vid) in enumerate(scored, 1))
    assert got == sorted(want)


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _model_d2_ppm(a: list[float], b: list[float]) -> int:
    raw = (_fold_dot(a, a) - 2.0 * _fold_dot(a, b)) + _fold_dot(b, b)
    return int(_round_half_up(raw * 1_000_000, "1"))


def _model_codebooks(rows, m, ksub, dsub):
    # seed_centroids: ORDER BY md5(cast(id as string)) asc, id asc LIMIT ksub
    seed_ids = sorted(
        (i for i, _ in rows),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:ksub]
    vecs = dict(rows)
    return {
        (j, cid): vecs[cid][j * dsub : (j + 1) * dsub]
        for j in range(m)
        for cid in seed_ids
    }


def _model_encode(rows, books, m, dsub):
    codes = {}
    for i, v in rows:
        for j in range(m):
            sub = v[j * dsub : (j + 1) * dsub]
            codes[(i, j)] = min(
                (_model_d2_ppm(sub, cv), cid) for (bj, cid), cv in books.items() if bj == j
            )[1]
    return codes


@given(
    data=st.lists(_VEC4, min_size=3, max_size=8),
    qids=_QIDS,
    ksub=st.sampled_from([2, 3]),
    k=st.sampled_from([2, 4]),
)
@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pq_encode_and_adc_topk_match_python_model(spark, data, qids, ksub, k):
    from cyrela_etl_spark.operators.similarity import pq_adc_topk, pq_codebooks, pq_encode

    m, dim = 2, 4
    dsub = dim // m
    rows = [(i, list(v)) for i, v in enumerate(data)]
    ddf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(qid, rows[qid % len(rows)][1]) for qid in qids]
    qdf = spark.createDataFrame(qrows, "query_id long, embedding array<double>")

    books = _model_codebooks(rows, m, ksub, dsub)
    books_df = pq_codebooks(ddf, m, ksub, dim)
    got_books = {(r["j"], r["cid"]): list(r["cv"]) for r in books_df.collect()}
    assert got_books == books

    codes = _model_encode(rows, books, m, dsub)
    got_codes = {
        (r["id"], r["j"]): r["code"] for r in pq_encode(ddf, books_df, m, dsub).collect()
    }
    assert got_codes == codes

    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["adc_ppm"])
        for r in pq_adc_topk(ddf, qdf, k=k, m=m, ksub=ksub, dim=dim).collect()
    )
    want = []
    for qid, qv in qrows:
        adc = {}
        for i, _ in rows:
            if i == qid:
                continue
            adc[i] = sum(
                _model_d2_ppm(qv[j * dsub : (j + 1) * dsub], books[(j, codes[(i, j)])])
                for j in range(m)
            )
        top = sorted((d, i) for i, d in adc.items())[:k]
        want.extend((qid, rank, vid, d) for rank, (d, vid) in enumerate(top, 1))
    assert got == sorted(want)
