"""Benchmark entry point: runs the headline declared queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "agg": "median_of_3", "queries": {"q01_pricing_summary": sec, ...},
     "sf": 0.1}

One shared SparkSession for the whole run (no per-query spin-up); each
query is timed to full materialization (count + a per-column xxhash64
checksum action so lazy plans can't cheat). A warmup query first absorbs
JVM/codegen startup.

Each query runs ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and the
reported per-query number is the MEDIAN — single-shot numbers on
sub-second queries are dominated by GC/scheduler jitter (the r2→r3
comparison was contaminated exactly this way). ``value`` is the sum of
the medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the expensive representatives of each operator family —
# relational joins/aggs, window fns, wallet chain, dedup (minhash is the
# heavy one), similarity, text, temporal, multimodal, streaming.
HEADLINE = [
    "q01_pricing_summary",
    # q03_top_orders RETIRED in round 9 (the add-one-retire-one byte rule
    # below): its simple join+top-k family stays covered by q05/q13/q08.
    "q05_region_revenue",
    "q13_order_distribution",
    "join_salted",
    "join_bucketed",
    "window_lag_running",
    "group_rollup",
    "wallet_features",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "text_quality",
    "text_language_id",
    "curation_pipeline",
    "corpus_chunking",
    "corpus_token_pack",
    "grouped_map_normalize",
    "vector_cosine_topk",
    "vector_rhp_lsh_topk",
    "vector_ivf_topk",
    "dedup_components",
    "func_json_extract",
    "temporal_asof_join",
    # temporal_time_bucket RETIRED in round 10 (add-one-retire-one byte
    # rule): the temporal family stays covered by asof_join, gap_fill,
    # sessionize and stream_interval_join.
    "temporal_gap_fill",
    "text_term_stats",
    "multimodal_media_meta",
    "stream_tumbling",
    "stream_interval_join",
    "q08_market_share",
    "temporal_sessionize",
    "text_winnow_fingerprints",
    # round-6 operator representatives
    "dedup_contamination",
    "text_lm_score",
    "text_bm25_topk",
    "vector_sq_int8_topk",
    "vector_pq_adc_topk",
    "vector_semdedup_pairs",
    "corpus_boilerplate_removal",
    "storage_zorder_cluster",
    # round-7 operator representatives
    "scale_bloom_prefilter",
    "corpus_dsir_weights",
    "events_attribution",
    "storage_equidepth_histogram",
    "text_positional_index",
    "stream_dedup_expiry",
    "storage_forget_user",
    "graph_triangle_stats",
    "dedup_keep_best",
    # second-wave round-7 representatives (kept to 4 so the compact
    # contract line stays ~1.7 KB, inside the driver's ~2 KB capture)
    "vector_kmeans_clusters",
    "text_tfidf_doc_pairs",
    "dedup_dup_ngram_fraction",
    "stream_window_topk",
    # late round-7 representatives (3 — with these the contract line
    # measures ~1.73 KB, still inside the driver's ~2 KB capture)
    "dedup_containment_pairs",
    "graph_lpa_communities",
    "text_rake_keywords",
    # round-8 representatives (4 — full TPC-H closure + the composed
    # index + the heaviest corpus-statistics add). Contract line measured
    # 1866 bytes at 61 queries — within the driver's ~2 KB stdout-tail
    # capture but close; round 9 must RETIRE a representative before
    # adding one (BENCH_r06's parsed:null was exactly this failure).
    "q02_min_cost_supplier",
    "vector_ivf_pq_topk",
    "ml_leakage_check",
    "text_zipf_fit",
    # round-9 representative (1 in, 1 out — q03 retired above): the
    # deterministic bus-replay stream (envelope codec + 4-micro-batch
    # DataSource-V2 drain), the round's single new operator.
    "stream_bus_replay",
    # round-10 representative (1 in, 1 out — temporal_time_bucket retired
    # above): the optimistic-concurrency commit protocol (init + upsert +
    # delete + reads through the manifest log), so the ACID path's
    # overhead is tracked round-over-round (VERDICT r9 item 6).
    "storage_txn_acid",
]


def fingerprint(df) -> tuple[int, int | None]:
    """The timed action: ``(rows, checksum)`` of ``df`` in one job.

    Full materialization of every output column: a bare count() lets
    Catalyst prune ALL projected columns (the scan+filter would be timed,
    the projections wouldn't), so a per-row xxhash64 over every column is
    summed alongside the row count — every column is computed and folded,
    one row on the driver. The sum is order-insensitive, so equal
    fingerprints mean the same relation whatever the partitioning; it is
    None for an empty result. The sum of 64-bit hashes overflows under
    ANSI mode, so run it on the engine session (ANSI off)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("checksum"),
    ).collect()[0]
    return row["n"], row["checksum"]


# --- Host-calibration probe (VERDICT r11 item 1) ---------------------------
# Two fixed CPU-bound reference kernels, sampled at checkpoints
# INTERLEAVED through the query sweep (see PROBE_EVERY below). Their wall
# time on an idle, unthrottled host is pinned below
# (tools/calibrate_probe.py); the measured/pinned ratio estimates how much
# slower THIS run's host was while the queries ran, and
# normalized_total = total / ratio reports what the sweep would have cost
# at calibration speed. r9/r10/r11 totals swung ±16% on unchanged code —
# without this, the 2× baseline gate measures host weather, not the engine.
#
# Kernel choice: the Spark leg (constant-size range → hash → shuffle →
# hash-agg, 32 fixed input partitions) exercises the JVM/codegen/shuffle
# path every benched query lives on; the pure-Python md5 leg is a
# single-thread CPU witness independent of the JVM, so frequency
# throttling vs scheduler contention are distinguishable in BENCH_DIAG.
# Pinned 2026-08-15 (round 12) by tools/calibrate_probe.py, 7 reps on an
# idle guest (1-min load 0.75): spark 0.789-0.920 median 0.831, py
# 0.680-0.745 median 0.716. The pin is a frozen UNIT (same-round
# calibrations later measured the idle host itself drifting 0.68-0.84
# on the spark kernel, so no pin is "true"); comparability across
# rounds only requires that it never moves. Re-pin ONLY after a
# deliberate kernel change.
#
# Re-pin protocol (when a kernel change forces it, or the sandbox fleet
# moves to different hardware — in which case ALL prior normalized
# totals become incomparable and the break must be recorded in NOTES):
# run `python tools/calibrate_probe.py` for >=7 reps on an idle guest
# (1-min load < 1, check `uptime`), take the per-kernel MEDIANS, update
# the values here in the same commit as the kernel change, and start a
# fresh BENCH baseline — never splice normalized totals across a re-pin.
# Claims finer than the ~10% normalized residual need the same-session
# interleaved A/B protocol instead (tools/ab.py; see README "The ±10%
# rule").
#
# Third kernel (round 16, VERDICT r15 item 2): "bw" — a single-thread
# streaming sweep over a 1 GB working set (two 512 MB float64 buffers,
# ~4x this host's 260 MB L3), 4 copy passes = 4 GB of memory traffic.
# It witnesses the weather shape the first two kernels bracket on
# neither side: HOST MEMORY-BANDWIDTH saturation, which slows the
# scan/shuffle-bound sweep while the L1-resident md5 kernel sits flat
# (measured: a 16-stream copy burner inflates bw 3.0x, py +5%,
# tools/ab_bandwidth_probe.py). spark/py pins are UNCHANGED from the
# round-12 calibration (those kernels did not change); bw pinned
# 2026-08-16 (round 16) by tools/calibrate_probe.py, 7 reps at 1-min
# load 1.28: 0.242-0.246 median 0.245 — a far tighter unit than the
# CPU kernels (the copy loop has no scheduler or JIT variance), which
# is exactly what a weather witness wants. That pin was taken above
# the stated load<1 calibration gate (ADVICE r16); a gate-compliant
# re-calibration (round 17, 1-min load 0.20, 7 reps) measured
# 0.245-0.249 median 0.247 — within 1% of the pin, so the unit is NOT
# load-contaminated and stays at 0.245 (moving a frozen unit 0.8%
# would break series comparability for nothing). The tight copy-loop
# spread means moderate load does not move this kernel the way it
# moves the CPU kernels; the load<1 gate still applies to re-pins as
# a matter of protocol.
PROBE_REF = {"spark": 0.831, "py": 0.716, "bw": 0.245}

# lazily-built reusable buffers for the bw kernel: allocation +
# page-fault cost must not be charged to the timed sweep (first touch
# of 1 GB costs ~0.4 s; steady-state copy is ~0.25 s)
_BW_BUFFERS: tuple | None = None


def _bw_buffers():
    global _BW_BUFFERS
    if _BW_BUFFERS is None:
        import numpy as np

        src = np.arange(64_000_000, dtype=np.float64)  # 512 MB
        dst = np.empty_like(src)
        np.copyto(dst, src)  # touch every page before first timing
        _BW_BUFFERS = (src, dst)
    return _BW_BUFFERS


def probe_once(spark) -> tuple[float, float, float]:
    """One probe sample: (spark_sec, python_sec, bw_sec). Fixed work, no I/O."""
    import hashlib

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    # per-row compute must DOMINATE task-scheduling overhead or the probe
    # measures local-mode scheduler jitter, not host speed (measured: a
    # plain xxhash64 over 240M rows swung ±35% rep-to-rep; 12 nested
    # hashes per row brought the spread under ±10%)
    h = F.col("id")
    for _ in range(12):
        h = F.xxhash64(h)
    spark.range(0, 120_000_000, 1, 32).select(
        (h % 997).alias("k"), h.alias("h")
    ).groupBy("k").agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    spark_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    data = b"x" * 4096
    acc = b""
    for i in range(100_000):
        acc = hashlib.md5(data + i.to_bytes(4, "little") + acc[:4]).digest()
    py_sec = time.perf_counter() - t0

    import numpy as np

    src, dst = _bw_buffers()
    t0 = time.perf_counter()
    for _ in range(4):
        np.copyto(dst, src)
    float(dst[::65536].sum())  # consume the result so nothing elides
    bw_sec = time.perf_counter() - t0
    return spark_sec, py_sec, bw_sec


# Probe sampling is INTERLEAVED through the sweep (one probe_once before
# the first query, after every PROBE_EVERY-th query, and after the last)
# rather than median-of-N at the endpoints. Measured rationale (round 12,
# NOTES): back-to-back idle calibrations put the spark kernel at 0.681
# vs 0.838 min-of-9 — the HOST drifts 20%+ minute-to-minute, so no
# endpoint statistic can represent a 10-minute sweep; the weather has to
# be sampled WHILE it is happening to the queries. The ratio is the mean
# over checkpoints (a first-order integral of the slowdown, correct when
# weather and query order are uncorrelated), ~11 s of probe time per run.
PROBE_EVERY = 12


def calibrate(probe_samples: list[tuple]) -> dict:
    """Pure decision core of the host normalization — kept side-effect
    free so the measured scenarios that set its thresholds (round 12:
    burner experiments + live co-tenant episodes; round 16: the
    bandwidth-burner A/B — NOTES) stay pinned in
    tests/test_bench_calibration.py. Returns ratios, weather mode,
    stability verdict and the mode-selected host_ratio.

    Accepts 2-tuples (the pre-r16 series: spark, py — legacy fixtures
    and any old DIAG replay) or 3-tuples (spark, py, bw). With the bw
    kernel present, a third weather mode becomes decidable:

    **bandwidth** — the bw kernel's ratio rises far above BOTH CPU
    kernels while spark and py still agree. Measured
    (tools/ab_bandwidth_probe.py, round 16, 16-stream copy burner at
    sf0.1): sweep 1.00x (paired reps, unmoved), py 1.08x, spark 1.21x,
    bw 2.03x. The old 2-kernel logic classified this THROTTLE
    (spark-py divergence 12% <= 20%) and normalized by the spark
    kernel's 1.21 — over-correcting an unmoved sweep into a fake ~20%
    win. In bandwidth mode the PY ratio normalizes (the kernel the
    sweep tracked, same as contention mode — the sweep's scan/shuffle
    work at bench SF has enough spare bandwidth headroom that only its
    scheduling slice inflates). The 1.5x bw-over-CPU threshold splits
    the measured clusters widely: idle runs read bw/max(spark,py)
    ~1.0-1.05, the deliberate saturation read 1.68-2.03."""
    sp = [s[0] for s in probe_samples]
    py = [s[1] for s in probe_samples]
    bw = [s[2] for s in probe_samples if len(s) > 2]
    ratio_spark = (sum(sp) / len(sp)) / PROBE_REF["spark"]
    ratio_py = (sum(py) / len(py)) / PROBE_REF["py"]
    # bw uses the checkpoint MEDIAN, not the mean: the kernel is short
    # (0.245 s pinned) and a single transient blip is multiplicatively
    # unbounded on it (measured: one all-kernel co-tenant transient read
    # bw 3.14 s = 12.8x while the same checkpoint's spark read 1.7x —
    # a mean would report ratio_bw 2.9 on an otherwise-calm run whose
    # median says 1.04). The witness must indicate SUSTAINED bandwidth
    # degradation; spark/py keep their means (frozen semantics — they
    # normalize, and their longer kernels bound a blip's leverage).
    # A MIXED series (some 2-tuples, e.g. a truncated or spliced DIAG
    # replay) uses the median of whatever 3-tuples exist (ADVICE r16:
    # requiring len(bw)==len(sp) silently disabled the witness on such
    # series and the None then crashed the report path's round()).
    ratio_bw = statistics.median(bw) / PROBE_REF["bw"] if bw else None
    spark_drift = (max(sp) - min(sp)) / min(sp)
    kernel_divergence = abs(ratio_spark - ratio_py) / min(ratio_spark, ratio_py)
    bw_over_cpu = (
        ratio_bw / max(ratio_spark, ratio_py) if ratio_bw is not None else None
    )
    if kernel_divergence <= 0.20:
        mode = (
            "bandwidth"
            if bw_over_cpu is not None and bw_over_cpu > 1.5
            else "throttle"
        )
    else:
        mode = "contention"
    stable = spark_drift <= 0.45 and kernel_divergence <= 0.50
    return {
        "sp": sp,
        "py": py,
        "bw": bw,
        "ratio_spark": ratio_spark,
        "ratio_py": ratio_py,
        "ratio_bw": ratio_bw,
        "bw_over_cpu": bw_over_cpu,
        "spark_drift": spark_drift,
        "kernel_divergence": kernel_divergence,
        "mode": mode,
        "stable": stable,
        "host_ratio": max(0.85, ratio_spark if mode == "throttle" else ratio_py),
    }


# Per-query weather-suspect threshold (VERDICT r16 item 2): a query's
# bounding-checkpoint kernel ratio at/above this marks the row
# weather-suspect. 1.5x aligns with calibrate()'s bandwidth-mode split
# (idle checkpoints read ~1.0-1.1 on every kernel; the measured
# contamination episodes read 1.68-10.76) and sits far outside the
# ±20% throttle band the mean-ratio normalization absorbs honestly.
WEATHER_SUSPECT_RATIO = 1.5


def attribute_weather(
    query_names: list[str],
    probe_samples: list[tuple],
    probe_every: int = PROBE_EVERY,
) -> dict[str, dict]:
    """Map each query onto the probe checkpoints bounding its execution
    window and flag rows whose window read hot (VERDICT r16 item 2 —
    the r16 judge did this by hand: checkpoint 1's 10.76x bw window
    explained all four of that round's regressed rows; from r17 the
    artifact names them itself).

    Checkpoint layout (fixed by main()): probe_samples[0] runs before
    query 1, then one checkpoint after every `probe_every`-th query,
    then one after the last query — so 0-based query i executes between
    checkpoints i//probe_every and the next one. Per kernel the window
    ratio is the MAX of the two bounding checkpoints (contamination at
    either edge can land inside the window); `suspect` is True when any
    kernel's window ratio reaches WEATHER_SUSPECT_RATIO. Pure function
    of its inputs (pinned by tests/test_bench_calibration.py); accepts
    2-tuple checkpoints (pre-r16 replays — bw reads None)."""
    ncp = len(probe_samples)

    def _ratios(cp: tuple) -> tuple[float, float, float | None]:
        return (
            cp[0] / PROBE_REF["spark"],
            cp[1] / PROBE_REF["py"],
            cp[2] / PROBE_REF["bw"] if len(cp) > 2 else None,
        )

    out: dict[str, dict] = {}
    for i, name in enumerate(query_names):
        lo = min(i // probe_every, ncp - 1)
        hi = min(lo + 1, ncp - 1)
        edge = [_ratios(probe_samples[j]) for j in (lo, hi)]
        win_spark = max(r[0] for r in edge)
        win_py = max(r[1] for r in edge)
        bws = [r[2] for r in edge if r[2] is not None]
        win_bw = max(bws) if bws else None
        suspect = (
            win_spark >= WEATHER_SUSPECT_RATIO
            or win_py >= WEATHER_SUSPECT_RATIO
            or (win_bw is not None and win_bw >= WEATHER_SUSPECT_RATIO)
        )
        out[name] = {
            "window": [lo, hi],
            "ratio_spark": round(win_spark, 3),
            "ratio_py": round(win_py, 3),
            "ratio_bw": round(win_bw, 3) if win_bw is not None else None,
            "suspect": suspect,
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # Diagnostic subset: comma-separated query names to run INSTEAD of the
    # full headline list (order preserved as given). Lets a session-state
    # regression be bisected by reordering/trimming without editing the
    # file; the driver never sets it, so the recorded bench is unaffected.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = [n.strip() for n in only.split(",") if n.strip()] if only else HEADLINE

    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark

    registry = load_all()

    # Load gate (VERDICT r7 item 2: the official r7 bench started at
    # 5-min loadavg 6.12 and recorded ~10-20% inflated numbers; the
    # artifact must be self-certifying). If the 1-min load is above the
    # threshold, wait for the host to go idle — bounded, so a busy CI box
    # still produces an artifact, but one that SAYS it was contaminated.
    load_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))
    load_waits = 0
    while os.getloadavg()[0] > load_threshold and load_waits < 12:
        print(
            f"# load gate: 1-min load {os.getloadavg()[0]:.2f} > "
            f"{load_threshold}; waiting 15s ({load_waits + 1}/12)",
            file=sys.stderr,
        )
        time.sleep(15)
        load_waits += 1
    load_ok = os.getloadavg()[0] <= load_threshold

    spark = get_spark(app_name="cyrela-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    # Warmup: JVM + whole-stage codegen + shuffle machinery + parquet
    # footer caches + the Arrow Python-worker pool, so the first timed
    # query isn't charged session-startup cost (it's ~2 s of one-time
    # overhead that exists at any scale and would distort per-query ratios).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")), F.count(F.lit(1))
    ).collect()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    def _cpu_ticks() -> dict[str, int] | None:
        # Host-contention witness (round-10 addition): a microVM guest can
        # read idle loadavg while the HOST steals cycles — three full runs
        # this round spread 113.8–122.0 s on an idle guest with individual
        # queries swinging 3x between runs (NOTES "Bench host-noise
        # episode"). steal% over the run makes that visible per-artifact.
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
            return dict(zip(names, map(int, parts[1:9])))
        except Exception:
            return None

    ticks_start = _cpu_ticks()

    # Host-calibration checkpoints (VERDICT r11 item 1): first sample
    # AFTER warmup so JVM startup isn't charged to it; further samples
    # every PROBE_EVERY queries inside the sweep loop and one after the
    # last query, so the ratio integrates the weather the queries saw.
    # The probe kernel needs its OWN discarded warmup (same as
    # calibrate_probe.py): its codegen/JIT differs from the warmup
    # query's, and with single-sample checkpoints the first recorded
    # sample otherwise reads 30-60% slow (measured across four runs:
    # first checkpoint 1.38-1.55 vs steady-state 0.88-1.18), biasing
    # the ratio and tripping the drift flag.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    bench_t0 = time.perf_counter()
    probe_once(spark)
    probe_samples: list[tuple[float, float]] = [probe_once(spark)]

    timings: dict[str, float] = {}
    # Diagnostics embedded in the artifact (VERDICT r5 item 3: the r4
    # "stream_tumbling 21.7 s in-bench vs 1.7 s standalone" session-
    # degradation question was unanswerable because only medians were
    # recorded). Per-query raw samples + session uptime at query start +
    # host loadavg make any future in-bench anomaly diagnosable from the
    # BENCH_r{N}.json alone.
    samples_by_query: dict[str, list[float]] = {}
    uptime_at_start: dict[str, float] = {}
    load_start = os.getloadavg()
    for name in headline:
        fn, _oracle = registry[name]
        uptime_at_start[name] = round(time.perf_counter() - bench_t0, 1)
        samples: list[float] = []
        for r in range(runs):
            t0 = time.perf_counter()
            n, _checksum = fingerprint(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            print(f"# {name} run {r + 1}/{runs}: {n} rows in {samples[-1]:.2f}s", file=sys.stderr)
            # Queries that persist() internally (the LSH family) would
            # otherwise accumulate stale cached relations across runs.
            spark.catalog.clearCache()
        # 2 decimals: 61 queries x 1 char = real bytes against the
        # contract line's ~2 KB budget; 3-decimal raw samples live in BENCH_DIAG
        timings[name] = round(statistics.median(samples), 2)
        samples_by_query[name] = [round(s, 3) for s in samples]
        if len(timings) % PROBE_EVERY == 0:
            probe_samples.append(probe_once(spark))

    total = round(sum(timings.values()), 3)
    probe_samples.append(probe_once(spark))
    cal = calibrate(probe_samples)

    # Final checkpoint, then the normalization. host_ratio is the MEAN
    # over all checkpoints of (spark kernel / pinned ref): ratio 1.0 =
    # calibration-speed host throughout, 1.2 = the host averaged ~20%
    # slower while the queries ran, and normalized_total = total / ratio
    # estimates what the sweep would cost at calibration speed. The pin
    # is a frozen UNIT, not a truth claim about idle speed — round-over-
    # round comparability only needs it constant. WHICH kernel's ratio
    # normalizes is mode-aware (see the probe_stable block below): the
    # spark kernel when the two kernels agree (bandwidth/frequency
    # throttling — the sweep tracks it; an idle run that came in 9%
    # fast also moved the spark probe 15% fast while the single-thread
    # py probe sat at its ref), the py kernel when they diverge (core
    # competition — measured twice, the sweep's spare-thread slack makes
    # it track the single-thread kernel). Ratio is clamped at >= 0.85:
    # a host reading meaningfully faster than the pinned ref beyond
    # that would manufacture regressions on a healthy host.
    #
    # probe_stable guards the two weather shapes a mean ratio cannot
    # honestly correct (both MEASURED with deliberate burners, round 12,
    # NOTES):
    # 1. Non-stationary load — a burner dying a third of the way into
    #    the sweep left raw ~= idle while the early probes read 1.4x;
    #    endpoint-only ratios then "corrected" a slowdown the sweep
    #    never had (normalized 74.1 vs idle 103-106, a fake 30% win).
    #    Interleaved checkpoints shrink this error (the mid-run samples
    #    see the load die) and ALSO expose it: spark checkpoint samples
    #    spreading beyond 45% max/min mark the run unstable. 45% is
    #    measured, not guessed: single-checkpoint transients up to 42%
    #    occur on an otherwise-calm host (one blip in seven samples,
    #    correctly absorbed by the mean), while every genuine episode
    #    observed — burner dying mid-run, descending co-tenant legs,
    #    waxing-waning contention — spread 53-96%.
    # 2. Core-competition contention is handled MODE-AWARE rather than
    #    flagged: a STATIONARY 16-process burner left the sweep nearly
    #    untouched (its queries have spare-thread slack) while the
    #    32-way-saturating spark kernel slowed 33% — and in both
    #    measured contention episodes (the burner run F and a live
    #    co-tenant episode run H) the sweep's actual inflation matched
    #    the SINGLE-THREAD kernel's ratio almost exactly (H: raw +8.9%
    #    vs ratio_py 1.086; normalizing by ratio_spark 1.374 would have
    #    manufactured a fake 20% win). Mechanism: the two kernels
    #    bracket the sweep — bandwidth/frequency weather slows the
    #    bandwidth-bound spark kernel AND the scan/shuffle-bound sweep
    #    together (run E: sweep -9% tracked spark -12%, py unmoved),
    #    while core competition slows only whatever needs ALL cores,
    #    which the sweep does not. So: kernels agreeing (divergence
    #    <= 20%) = throttling mode, normalize by ratio_spark; kernels
    #    diverging = contention mode, normalize by ratio_py. Divergence
    #    beyond 50% is outside anything measured and flags the run.
    # A flagged run still emits normalized_total, but the honest read is
    # "calibration unreliable this run — re-run"; raw remains an upper
    # bound either way.
    sp_samples, py_samples, bw_samples = cal["sp"], cal["py"], cal["bw"]
    ratio_spark, ratio_py = cal["ratio_spark"], cal["ratio_py"]
    spark_drift = cal["spark_drift"]
    kernel_divergence = cal["kernel_divergence"]
    probe_mode, probe_stable = cal["mode"], cal["stable"]
    host_ratio = cal["host_ratio"]
    normalized_total = round(total / host_ratio, 3)
    # Diagnostics (per-run samples, uptime, loadavg — VERDICT r5 item 3)
    # go to a SIBLING file, not stdout: embedding them in the contract
    # line grew it past the driver's ~2 KB tail capture and BENCH_r06
    # recorded `parsed: null` despite rc=0 (VERDICT r6 item 2). The
    # compact contract line must be the LAST stdout line.
    ticks_end = _cpu_ticks()
    cpu_pct: dict[str, float] | None = None
    if ticks_start and ticks_end:
        delta = {k: ticks_end[k] - ticks_start[k] for k in ticks_start}
        tot_ticks = sum(delta.values()) or 1
        cpu_pct = {k: round(100.0 * v / tot_ticks, 2) for k, v in delta.items()}
    diag_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DIAG.json")
    with open(diag_path, "w") as fh:
        json.dump({
            "runs_per_query": runs,
            "samples": samples_by_query,
            "session_uptime_at_query_start_sec": uptime_at_start,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "load_gate": {
                "threshold_1min": load_threshold,
                "waits_15s": load_waits,
                "passed": load_ok,
            },
            # whole-run guest CPU mix; "steal" > a few percent means the
            # host was contended and wall times are upper bounds
            "cpu_pct_over_run": cpu_pct,
            # host-calibration probe (VERDICT r11 item 1): one
            # (spark_sec, py_sec) checkpoint before the sweep, after
            # every PROBE_EVERY-th query, and after the last, vs the
            # pinned reference; per-kernel ratios expose JVM-wide
            # contention vs single-thread frequency throttling
            "probe": {
                "checkpoints": [
                    [round(x, 3) for x in s] for s in probe_samples
                ],
                "every": PROBE_EVERY,
                "ref": [PROBE_REF["spark"], PROBE_REF["py"], PROBE_REF["bw"]],
                "ratio_spark": round(ratio_spark, 3),
                "ratio_py": round(ratio_py, 3),
                # bw kernel (round 16): the memory-bandwidth witness —
                # elevated while spark/py sit calm = host bandwidth
                # contention (the shape that produced the r13-r15
                # driver-round residuals); drives the "bandwidth" mode
                "ratio_bw": round(cal["ratio_bw"], 3) if cal["ratio_bw"] is not None else None,
                "bw_over_cpu": round(cal["bw_over_cpu"], 3) if cal["bw_over_cpu"] is not None else None,
                "host_ratio": round(host_ratio, 3),
                "spark_drift": round(spark_drift, 3),
                "kernel_divergence": round(kernel_divergence, 3),
                "mode": probe_mode,
                "stable": probe_stable,
            },
            # per-query weather attribution (VERDICT r16 item 2): each
            # query mapped onto its bounding probe checkpoints with the
            # window's per-kernel ratios; `suspect` rows ran while a
            # kernel read >= WEATHER_SUSPECT_RATIO x its pin — read
            # their deltas as weather, not engine, unless the plan
            # changed. Self-identifying, no judge archaeology needed.
            "weather": attribute_weather(list(timings), probe_samples),
        }, fh, indent=1)
    # `load_ok` in the contract line self-certifies the run: False means
    # the host never went idle within the bounded wait and the numbers
    # should be read as upper bounds (VERDICT r7 item 2).
    # `agg` makes the sampling discipline part of the contract itself
    # (VERDICT r10 item 2): every per-query number is the median of
    # `runs` timed executions and `value` is the sum of those medians,
    # so a single noisy sample (the documented 122→107 s host episode)
    # can neither hide nor fake a regression; raw samples in BENCH_DIAG.
    # `probe_sec` = [spark_min, spark_max, py_min, py_max, bw_min,
    # bw_max] over the interleaved checkpoints (full series in
    # BENCH_DIAG with the pinned PROBE_REF, so the artifact pair is
    # self-contained); `host_ratio` = checkpoint-mean/pinned for the
    # mode-selected kernel (`mode`: throttle = spark kernel,
    # contention = py kernel, bandwidth = py kernel — the bw kernel
    # names the weather, the py kernel tracks the sweep; see
    # calibrate()); `stable` false = non-stationary weather, re-run
    # before trusting normalized_total; `normalized_total` = value /
    # host_ratio — the round-over-round comparable number (VERDICT r11
    # item 1). Kept compact: the contract line must stay under the
    # driver's ~2 KB stdout-tail capture (measured 1890 bytes at 61
    # queries pre-probe).
    print(json.dumps({
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "agg": f"median_of_{runs}",
        "queries": timings,
        "sf": sf,
        "load_ok": load_ok,
        "probe_sec": [
            round(min(sp_samples), 2), round(max(sp_samples), 2),
            round(min(py_samples), 2), round(max(py_samples), 2),
            round(min(bw_samples), 2), round(max(bw_samples), 2),
        ],  # [spark min,max, py min,max, bw min,max]; series in DIAG
        "host_ratio": round(host_ratio, 3),
        "normalized_total": normalized_total,
        "mode": probe_mode,
        "stable": probe_stable,
    }))


if __name__ == "__main__":
    main()
