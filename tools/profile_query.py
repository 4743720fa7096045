"""Per-query job/stage profiler: runs bench's exact timed action for the
given queries under the engine session with the Spark event log enabled,
then decomposes each query's wall time into its Spark jobs (description,
duration, task time) plus non-job driver gaps.

Usage:
    python tools/profile_query.py <name> [name...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_PROFILE_RUNS (default 2; last run is reported —
     first run absorbs per-query warmup such as broadcast/codegen).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [query...]", file=sys.stderr)
        sys.exit(2)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "2"))
    evdir = "/tmp/spark-events-profile"
    os.makedirs(evdir, exist_ok=True)

    from bench import fingerprint
    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark

    registry = load_all()
    spark = get_spark(
        app_name="profile-query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    from pyspark.sql import functions as F

    # Same warmup as bench.py
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")), F.count(F.lit(1))
    ).collect()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    spans: dict[str, tuple[float, float, float]] = {}  # name -> (t0, t1, wall)
    for name in names:
        fn, _oracle = registry[name]
        for r in range(runs):
            desc = f"PROF::{name}::run{r}"
            spark.sparkContext.setJobDescription(desc)
            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            n, _ck = fingerprint(df)
            t1 = time.time()
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
            if r == runs - 1:
                spans[name] = (t0, t1, t1 - t0)
            print(
                f"# {name} run {r}: wall {t1 - t0:.2f}s (build {t_build:.2f}s) "
                f"rows={n}",
                file=sys.stderr,
            )
    spark.stop()

    # Parse the event log: job spans by description. Spark 4 writes a
    # rolling event-log directory (eventlog_v2_<appid>/events_1_...).
    evfile = os.path.join(evdir, app_id)
    if not os.path.exists(evfile):
        v2dir = os.path.join(evdir, f"eventlog_v2_{app_id}")
        parts = sorted(
            f for f in os.listdir(v2dir) if f.startswith("events_")
        )
        evfile = os.path.join(v2dir, parts[-1])
    jobs: list[dict] = []
    job_start: dict[int, dict] = {}
    stage_info: dict[int, dict] = {}
    with open(evfile) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_start[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    j = job_start[jid]
                    j["t1"] = ev["Completion Time"] / 1000.0
                    j["id"] = jid
                    jobs.append(j)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                dur = None
                if si.get("Completion Time") and si.get("Submission Time"):
                    dur = (si["Completion Time"] - si["Submission Time"]) / 1000.0
                stage_info[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "ntasks": si.get("Number of Tasks"),
                    "dur": dur,
                }

    for name in names:
        t0, t1, wall = spans[name]
        desc = f"PROF::{name}::run{runs - 1}"
        # Include drain-thread jobs (streaming micro-batches set their own
        # description) by taking every job whose span overlaps the query's.
        mine = [
            j for j in jobs
            if j["desc"] == desc or (j["t0"] >= t0 and j["t1"] <= t1 + 0.5)
        ]
        mine.sort(key=lambda j: j["t0"])
        jsum = sum(j["t1"] - j["t0"] for j in mine)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(mine)} jobs "
              f"(sum {jsum:.2f}s, driver/gap {wall - jsum:.2f}s)")
        prev_end = t0
        for j in mine:
            gap = j["t0"] - prev_end
            prev_end = j["t1"]
            stages = [
                (sid, stage_info.get(sid)) for sid in j["stages"]
                if sid in stage_info
            ]
            stxt = "; ".join(
                f"{info['name'].split(chr(10))[0][:48]} x{info['ntasks']} {info['dur']:.2f}s"
                for _sid, info in stages
                if info and info["dur"] is not None
            )
            print(
                f"  job {j['id']:>4} +gap {gap:5.2f}s dur {j['t1'] - j['t0']:6.2f}s"
                f" | {stxt}"
            )


if __name__ == "__main__":
    main()
