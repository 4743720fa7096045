"""SparkSession construction with scale-appropriate defaults.

The reference creates its session with hand-carried S3A conf and no
optimizer tuning (reference spark/jobs/pr-wallet-data-tf.py:7-29, 1 core /
1 GiB). Here the session is built once with AQE, broadcast-join thresholds
and Arrow enabled — the settings that matter both on ``local[*]`` test runs
and on a large cluster. A driver JVM that ``get_spark`` launches also gets
the engine's compile policy (C2 compilation delayed, see
``spark.driver.defaultJavaOptions`` below), because a scheduled run of the
pipeline is one short-lived JVM.

This module is the only engine code that sets SQL conf: a setting is
either a session default below or a span-bounded override through
``scoped_conf``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults chosen for the test harness (local[$SPARK_GRAFT_CPUS], 128 GiB
# host). On a real cluster the same builder is used but master/memory come
# from spark-submit; everything else is cluster-size-agnostic.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting, and dynamic broadcast conversion. Essential at
    # 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimension tables (region/nation/supplier at any SF).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Session timezone pinned so date/timestamp semantics are deterministic
    # across test hosts and match the DuckDB oracle (UTC).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: the reference relies on permissive casts (DAY() over date
    # strings, reference spark/jobs/pr-wallet-data-tf.py:93-106).
    "spark.sql.ansi.enabled": "false",
    # Parquet vectorized reader + pushdown are on by default; pinned here
    # as an explicit contract the tests assert on.
    "spark.sql.parquet.filterPushdown": "true",
    # Legacy INT64 TIMESTAMP(NANOS) parquet loads as a raw long instead of
    # failing the read; sources/parquet.normalize_event_ts converts it.
    # Only NANOS-encoded fields are affected, so other files read as before.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep shuffle sizes sane in local mode; AQE coalesces below this.
    "spark.sql.shuffle.partitions": "32",
    # Quieter local runs.
    "spark.ui.enabled": "false",
    # Delayed C2: the four tier-4 (C2) compile thresholds at 10x their JDK
    # 17 defaults (5000 / 600 / 15000 / 40000). A scheduled run of the
    # pipeline is one cold JVM, and about half of a cold pass was JIT work,
    # most of it C2 compiling methods that a one-shot run does not use long
    # enough to repay the compile. With the thresholds raised, code that is
    # only briefly warm stays on C1; code that stays hot still reaches C2.
    # Measured on a 4-core host against the stock JVM (perfbench, medians
    # of 10 alternating pairs): analytics pass_cpu_s 54.5 -> 41.0 (-25%,
    # 10/10 pairs), wallet_etl 36.7 -> 26.0 (-29%), setup_s -28% on both,
    # peak RSS -1%. The C2 threads' CPU over an analytics pass fell from
    # 14.9 to 3.6 s. The warm bench.py headline sweep at sf0.1 (3
    # process-alternating pairs) read 157.6 s raw against 162.9 s.
    # It applies only to a driver JVM that get_spark launches: a JVM
    # started by spark-submit keeps its own options, as it keeps its own
    # spark.driver.memory, and cluster executors are untouched. Being the
    # defaultJavaOptions, it replaces any defaultJavaOptions set in
    # spark-defaults.conf, while extraJavaOptions still append to it. To
    # run the stock compile policy, pass
    # extra_conf={"spark.driver.defaultJavaOptions": ""} (or options of
    # your own) to get_spark.
    "spark.driver.defaultJavaOptions": (
        "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
        "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
    ),
}


def get_spark(
    app_name: str = "cyrela-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so tests, bench.py and the driver share one code path; on a
    cluster pass ``master=None`` with a pre-set master URL in the
    environment and it is left untouched.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # Respect an externally-managed master (spark-submit / cluster mode).
    if not os.environ.get("SPARK_MASTER_OVERRIDE"):
        builder = builder.master(master)

    conf = dict(_DEFAULT_CONF)
    # Local mode runs everything in one JVM whose default 1g heap is far
    # below this host's capacity — size it explicitly (no-op if a JVM
    # already exists; on a cluster spark-submit owns these).
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    conf.setdefault("spark.driver.maxResultSize", "4g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set SQL conf for the span of a ``with`` block, then restore it.

    On exit (normal or exception) every key gets its previous value back;
    a key that was unset before is unset again, so the session's
    ``conf.getAll`` is exactly what it was. Callers must materialize the
    work that needs the override inside the block — a DataFrame returned
    lazily is planned later under the restored conf.

    CONCURRENCY CAVEAT: SQL conf is session-global. Any other query planned
    on the same SparkSession while the block runs — a streaming
    micro-batch, another driver thread — sees the override. Single-
    threaded batch drivers (a typical ETL job, this repo's harnesses) are
    unaffected; a multi-threaded driver should give each thread its own
    ``spark.newSession()``.
    """
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
