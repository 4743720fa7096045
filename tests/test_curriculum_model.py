"""Model checks for the round-10 distributed-total-order curriculum plan
(queries/textq.py:corpus_curriculum_stages): the closed-form ntile
arithmetic against a plain-Python ntile model, and the full operator on
adversarial corpora (mass ties, n < buckets, singletons) against a
straight windowed computation — the semantics the re-plan must preserve
exactly while never planning a global window."""

from __future__ import annotations
import pytest

import os

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _ntile_model(n: int, k: int = 4) -> list[int]:
    """SQL-standard ntile over a total order: first n%k buckets take one
    extra row. Returns the stage of each 1-based position."""
    q, r = divmod(n, k)
    out: list[int] = []
    for s in range(1, k + 1):
        out += [s] * ((q + 1) if s <= r else q)
    return out


def _stage_formula(p: int, n: int) -> int:
    """The exact Python mirror of the SQL CASE emitted by
    corpus_curriculum_stages (integer div throughout)."""
    q, r = divmod(n, 4)
    if q == 0:
        return p
    if p <= r * (q + 1):
        return (p + q) // (q + 1)
    return r + (p - r * (q + 1) + q - 1) // q


@given(n=st.integers(0, 4000))
@settings(max_examples=300, deadline=None)
def test_stage_arithmetic_equals_ntile_model(n):
    model = _ntile_model(n)
    assert [_stage_formula(p, n) for p in range(1, n + 1)] == model


def _windowed_reference(spark, sf_dir):
    """The pre-round-10 spelling (global window) — correct semantics,
    wrong plan; usable as the reference at test scale."""
    from pyspark.sql import Window

    from cyrela_etl_spark.operators import text as X

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id", F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "doc_id")
    return base.select(
        "doc_id",
        "n_tokens",
        F.row_number().over(w).cast("long").alias("position"),
        F.ntile(4).over(w).cast("long").alias("stage"),
    )


def _write_docs(spark, pad, path: str, rows: list[tuple[int, str]]) -> str:
    pad(spark.createDataFrame(rows, "doc_id LONG, text STRING"), "documents").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "documents.parquet"))
    return path


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_distributed_plan_matches_windowed_reference_on_adversarial_corpora(
    spark, tmp_path, pad_testdata_table
):
    from cyrela_etl_spark.queries.textq import corpus_curriculum_stages

    corpora = {
        # every document identical length: the range partitioner sees one
        # n_tokens value and must split + order on doc_id alone
        "all_ties": [(i, "alpha beta gamma") for i in range(97)],
        # fewer documents than buckets (ntile's q=0 branch)
        "tiny": [(1, "one"), (2, "two words"), (3, "three words here")],
        # a single document
        "single": [(7, "lonely")],
        # 90% one length + a long tail (skewed ranges)
        "skewed": [(i, "x y") for i in range(90)]
        + [(100 + i, " ".join(["w"] * (3 + i))) for i in range(10)],
    }
    for name, rows in corpora.items():
        d = _write_docs(spark, pad_testdata_table, str(tmp_path / name), rows)
        got = {
            (r["doc_id"], r["n_tokens"], r["position"], r["stage"])
            for r in corpus_curriculum_stages(spark, d)
            .select("doc_id", "n_tokens", "position", "stage")
            .collect()
        }
        expect = {tuple(r) for r in _windowed_reference(spark, d).collect()}
        assert got == expect, f"corpus {name!r} diverged"
        spark.catalog.clearCache()
