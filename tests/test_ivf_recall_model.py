"""Model check for vector_recall_report (queries/vectorq.py) —
model-check wave 3. The recall report composes BOTH retrieval paths
(exact cosine top-k and the IVF probe pipeline) with a
hit-counting left join; this model recomputes the whole composition:

- the exact side as the sequential-fold cosine model (independent);
- the IVF side per the operator's definition — md5-ordered centroid
  seeds, the normalized-GEMM assignment with round-6 scores and
  (score desc, cid asc) lexsort ties (replayed with the same numpy
  calls the Arrow UDF makes, since that IS the operator's contract),
  nprobe=2 query probes, fold-cosine ranking within probed lists;
- recall@k = round6(|exact ∩ approx| / k) per query.

This pins the probe mechanics (list membership, the vec!=query
exclusion, the rank cut) end-to-end against the engine.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

_K, _N_QUERIES, _N_CENT, _NPROBE = 5, 8, 16, 2


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _fold_cos(a: list[float], b: list[float]) -> float:
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    for x in a:
        na = na + x * x
    for y in b:
        nb = nb + y * y
    return _round6(dot / (math.sqrt(na) * math.sqrt(nb)))


def _assign(vecs: dict[int, list[float]], cids, cmat, m: int) -> dict[int, list[int]]:
    """The _ivf_assign contract: normalized GEMM, round-6, lexsort ties."""
    ids = sorted(vecs)
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    sims = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) @ cmat.T
    sims = np.round(sims, 6)
    order = np.lexsort((np.broadcast_to(cids, sims.shape), -sims), axis=1)[:, :m]
    return {i: [int(c) for c in cids[order[n]]] for n, i in enumerate(ids)}


def test_recall_report_matches_python_model(spark, sf_dir):
    from cyrela_etl_spark.queries.vectorq import vector_recall_report

    got = {
        r["query_id"]: (r["n_hits"], r["recall_at_k"])
        for r in vector_recall_report(spark, sf_dir).collect()
    }
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.itertuples(index=False)
    }
    queries = {i: vecs[i] for i in vecs if i < _N_QUERIES}

    def topk_ids(qid, candidates):
        scored = sorted(
            ((-_fold_cos(queries[qid], vecs[v]), v) for v in candidates if v != qid)
        )
        return {v for _, v in scored[:_K]}

    exact = {qid: topk_ids(qid, vecs.keys()) for qid in queries}

    seed_ids = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:_N_CENT]
    seed_ids = sorted(seed_ids)
    cids = np.array(seed_ids, dtype=np.int64)
    cmat = np.array([vecs[i] for i in seed_ids], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    data_list = {i: ls[0] for i, ls in _assign(vecs, cids, cmat, 1).items()}
    probes = _assign(queries, cids, cmat, _NPROBE)
    approx = {
        qid: topk_ids(qid, [v for v, l in data_list.items() if l in probes[qid]])
        for qid in queries
    }
    want = {
        qid: (len(exact[qid] & approx[qid]), _round6(len(exact[qid] & approx[qid]) / float(_K)))
        for qid in queries
    }
    assert got == want
