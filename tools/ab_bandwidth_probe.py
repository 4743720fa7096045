"""A/B: does the round-16 bw probe kernel witness memory-bandwidth
weather that the spark/py kernels miss — and which kernel's ratio tracks
the SWEEP's inflation under that weather? (VERDICT r15 item 2.)

Three driver rounds (r13-r15) ran hot (host_ratio 1.17-1.46, twice
stable:false) with a consistent ~8-10% normalized residual vs builder
fair-weather runs at identical HEADs; the builder's r15 drift analysis
named memory-bandwidth contention as the shape the two CPU kernels do
not span: the L1-resident md5 kernel cannot see it at all, and the
32-way spark kernel confounds it with core competition. This harness
creates that shape DELIBERATELY — N burner processes each streaming
np.copyto over a 1 GB working set (~4x the 260 MB L3) — and interleaves
burned and idle legs in ONE process (the same-session A/B protocol of
tools/ab.py), measuring per leg:

  - a mini-sweep: scan/shuffle-heavy headline queries at the given SF
    (the bandwidth-sensitive shape the real bench is made of);
  - all three probe kernels (bench.probe_once).

The decision this measured: in bandwidth mode (bw kernel diverging
above spark & py), WHICH kernel's inflation matches the sweep's.
bench.calibrate()'s bandwidth-mode normalization rule cites the table
this prints; re-run after any probe-kernel or burner change.

Usage:
  python tools/ab_bandwidth_probe.py [reps_per_variant] [burners] [sf_dir]
Defaults: 3 reps, 16 burners, /root/testdata/sf0.1.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import fingerprint, probe_once  # noqa: E402

# scan/shuffle/agg-heavy subset — the bandwidth-sensitive shape; no
# streaming rows (fixture prep would dominate) and no persist-heavy rows
# (cache state would leak across legs)
SWEEP = [
    "q01_pricing_summary",
    "q05_region_revenue",
    "join_bucketed",
    "dedup_exact",
    "wallet_features",
    "group_rollup",
    "window_lag_running",
    "vector_cosine_topk",
]


def _burner(stop) -> None:
    import numpy as np

    a = np.arange(64_000_000, dtype=np.float64)  # 512 MB
    b = np.empty_like(a)
    while not stop.is_set():
        np.copyto(b, a)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    burners = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark

    spark = get_spark(app_name="ab-bandwidth-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    # warmup: JVM, codegen, parquet footers, Arrow pool, probe JIT
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy("l_returnflag").agg(
        F.count(F.lit(1))
    ).collect()
    probe_once(spark)

    def sweep_once() -> float:
        t0 = time.perf_counter()
        for name in SWEEP:
            fn, _ = registry[name]
            fingerprint(fn(spark, sf_dir))
            spark.catalog.clearCache()
        return time.perf_counter() - t0

    sweep_once()  # discarded warmup pass over the exact sweep

    legs: list[dict] = []
    # interleave variants rep-by-rep so slow host drift hits both equally
    for rep in range(reps):
        for variant in ("idle", "burn"):
            procs, stop = [], None
            if variant == "burn":
                stop = mp.Event()
                procs = [mp.Process(target=_burner, args=(stop,)) for _ in range(burners)]
                for p in procs:
                    p.start()
                time.sleep(3)  # let the burners reach steady state
            try:
                pre = probe_once(spark)
                wall = sweep_once()
                post = probe_once(spark)
            finally:
                if stop is not None:
                    stop.set()
                    for p in procs:
                        p.join()
            leg = {
                "variant": variant,
                "sweep": wall,
                "spark": (pre[0] + post[0]) / 2,
                "py": (pre[1] + post[1]) / 2,
                "bw": (pre[2] + post[2]) / 2,
            }
            legs.append(leg)
            print(
                f"# rep {rep + 1}/{reps} {variant}: sweep={wall:.2f}s "
                f"spark={leg['spark']:.3f} py={leg['py']:.3f} bw={leg['bw']:.3f}",
                file=sys.stderr,
            )
            time.sleep(2)

    def med(variant: str, key: str) -> float:
        return statistics.median(l[key] for l in legs if l["variant"] == variant)

    print("\n=== paired medians (idle leg = 1.00 baseline) ===")
    print(f"{'metric':<8} {'idle':>8} {'burn':>8} {'inflation':>10}")
    rows = {}
    for key in ("sweep", "spark", "py", "bw"):
        i, b = med("idle", key), med("burn", key)
        rows[key] = b / i
        print(f"{key:<8} {i:>8.3f} {b:>8.3f} {b / i:>9.2f}x")
    print(
        "\nverdict: under a deliberate memory-bandwidth burner the sweep "
        f"inflates {rows['sweep']:.2f}x; kernel inflations: "
        f"spark {rows['spark']:.2f}x, py {rows['py']:.2f}x, bw {rows['bw']:.2f}x."
    )
    closest = min(
        ("spark", "py", "bw"), key=lambda k: abs(rows[k] - rows["sweep"])
    )
    print(f"closest kernel to the sweep: {closest}")


if __name__ == "__main__":
    main()
