"""AQE skew-join proof (VERDICT r7 item 5 / r8 item 4): the session conf
enables spark.sql.adaptive.skewJoin (session.py), but nothing asserted the
runtime actually SPLITS a skewed partition. This test executes a planted
hot-key sort-merge join and asserts the ``skew=true`` marker in the final
adaptive plan.

When AQE skew-split is enough vs when manual salting (operators/skew.py)
still wins — the decision rule, recorded here because the plan proof is
where an engineer will look for it:

- AQE splits the SKEWED SIDE's oversized shuffle partitions and
  replicates the matching partition of the OTHER side. It needs no query
  rewrite, reacts to runtime sizes, and handles any number of hot keys.
  It is the right default for joins.
- Manual salting still wins when (a) the skew is in an AGGREGATION
  (groupBy on a hot key — AQE's skew handling only applies to joins;
  salting gives a two-stage partial/final agg), (b) BOTH sides are huge
  and the hot key's matching side is itself too big to replicate
  cheaply, or (c) the operator sits in a STREAMING stage where AQE is
  disabled (stateful workloads run with AQE off — see the
  _drain note in queries/streamingq.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cyrela_etl_spark.session import scoped_conf


def test_scoped_conf_restores_on_exception_and_unsets_new_keys(spark):
    """The one engine conf-override mechanism: a set key gets its old
    value back and a key unset before is unset again — also when the
    block raises."""
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes"
    assert spark.conf.get(unset_key, None) is None
    before = dict(spark.conf.getAll)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {set_key: "3", unset_key: "1024"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "1024"
            raise RuntimeError("boom")
    assert spark.conf.get(unset_key, None) is None
    assert dict(spark.conf.getAll) == before


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_aqe_splits_planted_skew_join(spark):
    """One key owns ~95% of a 400k-row fact; with byte thresholds scaled
    to test data, the final adaptive plan must carry a skew=true
    SortMergeJoin and the join result must be exact."""
    conf_keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # keep AQE from coalescing everything into one partition first
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
        "spark.sql.shuffle.partitions": "8",
    }
    with scoped_conf(spark, conf_keys):
        # fact: 400k rows, ~95% on key 0, padding to give the hot
        # partition real bytes; dim: 64 keys, non-broadcastable by conf
        fact = (
            spark.range(400_000)
            .select(
                F.when(F.col("id") % 20 != 0, F.lit(0))
                .otherwise(F.col("id") % 64)
                .alias("k"),
                F.col("id").alias("fact_id"),
                F.repeat(F.lit("x"), 64).alias("pad"),
            )
        )
        dim = spark.range(64).select(F.col("id").alias("k"), (F.col("id") * 7).alias("dval"))
        # NOTE the aggregate key is NOT the join key: a groupBy on the
        # join key would REQUIRE the join's hash partitioning, and
        # OptimizeSkewedJoin refuses to split a skewed partition when a
        # downstream operator depends on that partitioning (it would
        # force an extra shuffle; override = forceOptimizeSkewedJoin).
        # max(pad) keeps the 64-byte padding flowing through the shuffle
        # so the hot partition has real bytes (else column pruning drops
        # it and nothing crosses the threshold).
        joined = (
            fact.join(dim, "k")
            .groupBy((F.col("fact_id") % 16).alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dval").alias("dsum"),
                F.max("pad").alias("pad"),
            )
        )
        rows = {(r["g"], r["n"]) for r in joined.collect()}
        # correctness of the split join: every fact row keeps exactly one
        # dim match, so each of the 16 residue groups holds 400k/16 rows
        assert rows == {(g, 25_000) for g in range(16)}

        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, (
            "AQE did not mark the planted hot-key join as skewed:\n" + final_plan
        )
