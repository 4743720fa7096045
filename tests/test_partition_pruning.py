"""Hive-style partition pruning PROOF (the sibling of
test_zorder_pruning.py's row-group proof): a `partitionBy` layout must
let a partition-key filter skip whole directories at PLANNING time —
the executed scan's own metrics must show only the selected partition's
rows and files, with the filter expressed as a PartitionFilter (planning
time), not a PushedFilter (scan time).

At 100 TB this is the difference between listing one day's directory
and scanning a year: date/tenant partition columns prune before any IO.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def partitioned_layout(spark):
    from cyrela_etl_spark.sources.parquet import read_table

    work = tempfile.mkdtemp(prefix="part_prune_")
    ev = read_table(spark, SF, "events")
    counts = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    # partitioned: one directory per event_type; flat: same data, no layout
    ev.write.partitionBy("event_type").mode("overwrite").parquet(f"{work}/by_type")
    ev.repartition(8).write.mode("overwrite").parquet(f"{work}/flat")
    yield work, counts
    shutil.rmtree(work, ignore_errors=True)


def _scan_metrics(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    scan = plan
    while scan.children().length() > 0:
        scan = scan.children().apply(0)
    metrics = {}
    it = scan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    return metrics, plan.toString()


def test_partition_filter_prunes_directories(spark, partitioned_layout):
    work, counts = partitioned_layout
    df = spark.read.parquet(f"{work}/by_type").filter(F.col("event_type") == "purchase")
    metrics, plan = _scan_metrics(df)
    # planning-time pruning: only the purchase partition's rows are read
    assert metrics["numOutputRows"] == counts["purchase"]
    # the predicate is a partition filter, not a data filter
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # and the file count is the one partition's files, not all partitions'
    total_files = metrics.get("numFiles")
    if total_files is not None:
        all_files = _scan_metrics(spark.read.parquet(f"{work}/by_type"))[0].get("numFiles")
        assert total_files < all_files


def test_flat_layout_reads_everything(spark, partitioned_layout):
    """Control: the same filter over the unpartitioned layout surfaces
    every row from the scan (the filter runs above parquet row groups —
    event_type has no layout to prune by)."""
    work, counts = partitioned_layout
    df = spark.read.parquet(f"{work}/flat").filter(F.col("event_type") == "purchase")
    metrics, plan = _scan_metrics(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan
    # row-group stats can't prune a value present in every file: the scan
    # emits (at least) far more than the selected partition
    assert metrics["numOutputRows"] >= counts["purchase"]


def test_partitioned_and_flat_agree_on_results(spark, partitioned_layout):
    work, _ = partitioned_layout
    a = spark.read.parquet(f"{work}/by_type").filter(F.col("event_type") == "purchase")
    b = spark.read.parquet(f"{work}/flat").filter(F.col("event_type") == "purchase")
    ids_a = {r["event_id"] for r in a.select("event_id").collect()}
    ids_b = {r["event_id"] for r in b.select("event_id").collect()}
    assert ids_a == ids_b and ids_a
