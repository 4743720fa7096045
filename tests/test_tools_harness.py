"""Unit checks for the measurement harnesses: bench.fingerprint (the one
timed action), tools/ab.py's --patch rebinding, and tools/scale_curve.py's
family table and replicate builder."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tools"))

import ab  # noqa: E402
import bench  # noqa: E402
import scale_curve  # noqa: E402


def test_fingerprint_equals_inline_fold(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "c", None)], "k long, s string, v double"
    )
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("checksum"),
    ).collect()[0]
    assert bench.fingerprint(df) == (3, row["checksum"])
    # order-insensitive: the same relation in another order fingerprints equal
    assert bench.fingerprint(df.orderBy(F.col("k").desc()).repartition(3)) == (3, row["checksum"])


def test_patch_rebinds_every_module_copy_and_restores(spark):
    import cyrela_etl_spark.queries.round8q as round8q
    import cyrela_etl_spark.queries.textq as textq
    import cyrela_etl_spark.queries.vectorq as vectorq
    import cyrela_etl_spark.queries.walletq as walletq
    import cyrela_etl_spark.sources.parquet as pq_src

    modules = [walletq, textq, vectorq, round8q, pq_src]
    real = pq_src.fan_out
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="boom"):
        with ab.patched("cyrela_etl_spark.sources.parquet.fan_out") as sites:
            assert {m.__name__ for m in modules} <= {mod for mod, _name in sites}
            for m in modules:
                assert m.fan_out is not real
                assert m.fan_out(df) is df  # the identity leg
            raise RuntimeError("boom")
    assert all(m.fan_out is real for m in modules)


def test_scale_curve_families_and_replicate(spark):
    assert set(scale_curve.FAMILIES) == {
        "curriculum", "asof", "txn", "txn_vacuum", "semdedup", "wave7", "fuzzy",
        "lsh", "stream", "graph", "multimodal", "ann",
    }
    base = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    rows = scale_curve.replicate(base, 3, {"k": 100}).collect()
    assert len(rows) == 15
    ids = sorted(r["k"] for r in rows)
    assert ids == [c * 100 + i for c in range(3) for i in range(5)]  # disjoint id spaces
    assert sorted(r["v"] for r in rows) == sorted([i * 10 for i in range(5)] * 3)


def test_scale_curve_registry_families_build_whole_driver_tables(spark, sf_dir, tmp_path, monkeypatch):
    # fuzzy and wave7 write their scaled inputs as driver tables and run
    # registry queries on them, so every table must pass read_table's
    # drift tripwire (all schemas.TESTDATA_EXPECTED columns present)
    from cyrela_etl_spark.sources.parquet import read_table

    monkeypatch.setattr(scale_curve, "SF_DIR", sf_dir)
    monkeypatch.setattr(scale_curve, "WORK", str(tmp_path))
    monkeypatch.setattr(scale_curve, "FUZZY_BASE_NAMES", 50)
    scale_curve.fuzzy(spark, [1, 2])
    # wave7's input: the tagged corpus, read by its text queries
    docs = read_table(spark, scale_curve.tagged_corpus(spark, 2), "documents")
    assert docs.count() == 2 * read_table(spark, sf_dir, "documents").count()
