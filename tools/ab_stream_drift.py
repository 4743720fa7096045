"""Attribute the streaming-drain bench drift (VERDICT r14 item 2).

`stream_dedup_expiry` and `stream_interval_join` raw bench medians grew
monotonically over rounds 12-14 (7.73 -> 9.1 -> 11.36 s and 3.15 -> 3.57
-> 5.69 s) with ZERO code or plan changes (streaming/ untouched since
round 7), and the growth survives host_ratio normalization (+30%/+59% vs
r12). The bench probe kernels are deliberately CPU-only ("fixed work, no
I/O"), so host_ratio is blind to I/O weather — and these two rows are the
suite's most I/O-bound: every micro-batch fsyncs offset/commit logs and
state-store deltas to a /tmp checkpoint. (stream_dedup_expiry's 3-file
input layout is built with pyarrow before the drain, no Spark job.)

Protocol (one session, interleaved so slow host drift cancels):
  per rep, in fixed order —
    control   q01_pricing_summary      (cheap batch; CPU+scan bound)
    tumbling  stream_tumbling          (1-batch drain; minimal state)
    sij       stream_interval_join     (1-batch drain; join state both sides)
    sde       stream_dedup_expiry      (3-batch drain over its Arrow-built arrivals)
  each timed exactly like bench.py (bench.fingerprint,
  clearCache after), plus per rep:
    cpu probe  bench.probe_once vs the pinned PROBE_REF      (CPU weather)
    io  probe  N x {write 64 KiB, fsync, rename, unlink} in the same
               temp root the checkpoints live in              (IO weather)
  a StreamingQueryListener decomposes every drain:
    wall      = bench-style timing (what BENCH_r{N} records)
    lifetime  = onQueryStarted -> onQueryTerminated
    prep      = wall - lifetime (input-file build, plan, sink read)
    trig_ms   = sum of per-batch durationMs.triggerExecution
    start_ms  = lifetime - trig_ms (query start/stop + offset-log setup)
    commit_ms = sum of walCommit + commitOffsets (the fsync-bound slice)

Reading the output: if sde/sij walls track the IO probe across reps while
the control tracks the CPU probe, the r12->r14 growth is environmental IO
drift that bench.host_ratio structurally cannot correct — the fix is an
expected-range pin keyed to the decomposition, not a code change.

Usage: python tools/ab_stream_drift.py [reps] (default 7)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (probe_once + PROBE_REF: same units as BENCH_r{N})
from cyrela_etl_spark.session import get_spark  # noqa: E402

CONTROL = "q01_pricing_summary"
STREAMS = ["stream_tumbling", "stream_interval_join", "stream_dedup_expiry"]


def io_probe_once(root: str, n: int = 24, size: int = 64 * 1024) -> float:
    """One IO-weather sample: n x {write, fsync, rename, unlink} in `root`
    — the same syscall shape as a checkpoint offset-log commit (HDFS
    checkpoint FileManager on local fs: write temp, fsync, rename)."""
    payload = os.urandom(size)
    t0 = time.perf_counter()
    for i in range(n):
        tmp = os.path.join(root, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        dst = tmp[:-4]
        os.rename(tmp, dst)
        os.unlink(dst)
    return time.perf_counter() - t0


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from cyrela_etl_spark.queries import load_all

    registry = load_all()
    spark = get_spark(app_name="ab-stream-drift")
    spark.sparkContext.setLogLevel("ERROR")

    # --- listener: per-runId progress capture (async delivery) ------------
    runs: dict[str, dict] = {}  # runId -> record
    terminated: list[str] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            runs[str(e.runId)] = {
                "name": e.name, "t_start": time.time(), "batches": [],
            }

        def onQueryProgress(self, e):
            p = json.loads(e.progress.json)
            rec = runs.get(str(p.get("runId")))
            if rec is not None:
                rec["batches"].append(p)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            rec = runs.get(str(e.runId))
            if rec is not None:
                rec["t_end"] = time.time()
            terminated.append(str(e.runId))

    listener = Capture()
    spark.streams.addListener(listener)

    def timed_run(name: str) -> float:
        fn, _ = registry[name]
        t0 = time.perf_counter()
        bench.fingerprint(fn(spark, sf_dir))
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    def drain_record(name: str, before: int) -> dict | None:
        """Wait for the listener to deliver the termination of the run this
        rep just executed, then aggregate its progress events."""
        deadline = time.monotonic() + 15
        while len(terminated) <= before and time.monotonic() < deadline:
            time.sleep(0.1)
        cand = [r for r in runs.values() if r["name"] == name and "t_end" in r]
        if not cand:
            return None
        rec = max(cand, key=lambda r: r["t_start"])
        dur = {"triggerExecution": 0, "walCommit": 0, "commitOffsets": 0,
               "addBatch": 0, "getBatch": 0}
        state_rows = 0
        for p in rec["batches"]:
            for k in dur:
                dur[k] += int(p.get("durationMs", {}).get(k, 0) or 0)
            for so in p.get("stateOperators", []) or []:
                state_rows = max(state_rows, int(so.get("numRowsTotal", 0) or 0))
        lifetime = rec["t_end"] - rec["t_start"]
        return {
            "n_batches": len(rec["batches"]),
            "lifetime_s": lifetime,
            "trig_ms": dur["triggerExecution"],
            "start_stop_ms": max(0.0, lifetime * 1000 - dur["triggerExecution"]),
            "commit_ms": dur["walCommit"] + dur["commitOffsets"],
            "add_batch_ms": dur["addBatch"],
            "state_rows_max": state_rows,
        }

    # --- warmup: same discipline as bench.py ------------------------------
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")), F.count(F.lit(1))
    ).collect()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()
    bench.probe_once(spark)  # probe JIT warmup (same as bench)
    for name in [CONTROL, *STREAMS]:
        timed_run(name)  # one discarded warmup pass per leg

    io_root = tempfile.mkdtemp(prefix="io_probe_")
    io_probe_once(io_root)  # discarded warmup (page cache, dentry)

    walls: dict[str, list[float]] = {n: [] for n in [CONTROL, *STREAMS]}
    drains: dict[str, list[dict]] = {n: [] for n in STREAMS}
    cpu_probe: list[tuple] = []  # (spark, py, bw) since the r16 bw kernel
    io_probe: list[float] = []
    try:
        for r in range(reps):
            cpu_probe.append(bench.probe_once(spark))
            io_probe.append(io_probe_once(io_root))
            for name in [CONTROL, *STREAMS]:
                before = len(terminated)
                walls[name].append(timed_run(name))
                if name in drains:
                    rec = drain_record(name, before)
                    if rec:
                        drains[name].append(rec)
                print(
                    f"rep {r + 1}/{reps} {name}: {walls[name][-1]:.3f}s",
                    file=sys.stderr,
                )
    finally:
        spark.streams.removeListener(listener)
        import shutil

        shutil.rmtree(io_root, ignore_errors=True)

    def med(xs):
        return round(statistics.median(xs), 3) if xs else None

    out = {
        "reps": reps,
        "sf_dir": sf_dir,
        "cpu_ratio_spark": round(
            statistics.median(s[0] for s in cpu_probe) / bench.PROBE_REF["spark"], 3
        ),
        "cpu_ratio_py": round(
            statistics.median(s[1] for s in cpu_probe) / bench.PROBE_REF["py"], 3
        ),
        "ratio_bw": round(
            statistics.median(s[2] for s in cpu_probe) / bench.PROBE_REF["bw"], 3
        ),
        "io_probe_med_s": med(io_probe),
        "io_probe_samples": [round(x, 3) for x in io_probe],
        "walls_median": {n: med(v) for n, v in walls.items()},
        "walls_samples": {n: [round(x, 3) for x in v] for n, v in walls.items()},
        "ratio_to_control": {
            n: round(statistics.median(v) / statistics.median(walls[CONTROL]), 2)
            for n, v in walls.items()
            if n != CONTROL
        },
        "drain_decomposition_median": {
            n: {
                k: med([d[k] for d in v])
                for k in (
                    "n_batches", "lifetime_s", "trig_ms", "start_stop_ms",
                    "commit_ms", "add_batch_ms", "state_rows_max",
                )
            }
            for n, v in drains.items()
            if v
        },
        "prep_s_median": {
            n: round(
                statistics.median(walls[n])
                - statistics.median(d["lifetime_s"] for d in v),
                3,
            )
            for n, v in drains.items()
            if v
        },
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
