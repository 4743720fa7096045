"""Benchmark entry point: runs one named workload in a single closed-loop
client process on ``local[<cpus>]`` and prints one JSON result line.

    python3 perfbench/run.py --workload wallet_etl --seed 1 --seconds 1 --trace 0

Untraced (``--trace 0``) the result holds the end-to-end metrics; traced
(``--trace 1``) it holds the per-layer metrics. Progress and a readable
summary go to stderr. Exits 2 without a result when the engine package
cannot be imported from the checkout root.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402

from harness import (  # noqa: E402
    BENCH_DIR,
    END_TO_END,
    PER_LAYER,
    REPO_ROOT,
    SCALES,
    HostSetup,
    PassResult,
    median,
    peak_rss_mb,
    start_session,
    stop_session,
    tree_cpu_s,
)

WORKLOAD_NAMES = ("wallet_etl", "analytics")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="run whole passes until this many seconds have elapsed (at least one pass)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    return ap.parse_args(argv)


def measure(spark, host, args, start_s: float) -> dict:
    """Set the workload up, then run passes until ``args.seconds`` have
    elapsed (at least one). Every pass is checked.

    Each metric of a pass comes from the first pass, which runs in a cold
    JVM, as a scheduled run of the pipeline does. There is no untimed
    warm-up pass: the JIT keeps compiling for several passes (the third
    pass used half the CPU of the second), so a warm figure would need
    more passes per run than the run budget has, and a statistic over all
    passes would depend on how many fitted the window.

    Set-up and passes are measured in CPU seconds of the client, the JVM
    and its Python workers: other tenants of a shared host moved the wall
    time of identical runs by up to 50%, their CPU seconds far less. Wall
    times go to stderr and, traced, to the ``session`` and ``trace``
    layers."""
    from workloads import WORKLOADS

    pins = json.loads((BENCH_DIR / "pins.json").read_text())
    conf0 = dict(spark.conf.getAll)
    wl = WORKLOADS[args.workload](spark, host, args.seed, args.scale, pins)
    setup_wall_s = time.perf_counter() - T_PROCESS
    # every process of the tree started after this one, so its CPU so far
    # is the set-up's
    setup_cpu_s = tree_cpu_s()

    traced = bool(args.trace)
    passes: list[PassResult] = []
    t_window = time.perf_counter()
    while True:
        p = wl.run_pass(traced)
        if traced:
            t = time.perf_counter()
            p.layer["session.leaked_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
            p.hook_s += time.perf_counter() - t
        passes.append(p)
        if time.perf_counter() - t_window >= args.seconds:
            break
    conf1 = dict(spark.conf.getAll)

    first = passes[0]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    if not traced:
        metrics = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": first.cpu_s,
            "ok_ratio": 1.0 - failed / attempted,
            "peak_rss_mb": peak_rss_mb(),
        }
        units = END_TO_END
    else:
        # layers a workload does not touch read 0
        metrics = {name: 0.0 for name in PER_LAYER}
        metrics.update(first.layer)
        metrics["session.start_s"] = start_s
        metrics["session.conf_changed"] = sum(
            conf0.get(k) != conf1.get(k) for k in conf0.keys() | conf1.keys()
        )
        metrics["trace.pass_s"] = first.seconds
        metrics["trace.ready_s"] = median(first.ready)
        metrics["trace.overhead_pct"] = 100.0 * first.hook_s / first.seconds
        units = PER_LAYER
    _summary(args, metrics, attempted, failed, setup_wall_s, passes)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }


def _summary(args, metrics: dict, attempted: int, failed: int, setup_wall_s: float,
             passes: list[PassResult]) -> None:
    """Readable stderr summary: the wall seconds of set-up, the wall,
    ready and CPU seconds of every pass, and the failure share
    ``ok_ratio`` stands in for."""
    lines = [
        f"{args.workload} seed={args.seed} trace={args.trace}: {len(passes)} passes, "
        f"{attempted} operations, fail_ratio={failed / attempted:.4f}",
        f"  setup wall s: {setup_wall_s:.3f}",
        "  pass_s: " + " ".join(f"{p.seconds:.3f}" for p in passes),
        "  ready_s: " + " ".join(f"{median(p.ready):.3f}" for p in passes),
        "  pass_cpu_s: " + " ".join(f"{p.cpu_s:.2f}" for p in passes),
    ]
    lines += [f"  {k} = {v:.6g}" for k, v in metrics.items() if v or not args.trace]
    print("\n".join(f"# {s}" for s in lines), file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    host = HostSetup()
    try:
        sys.path.insert(0, str(REPO_ROOT))
        try:
            import cyrela_etl_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {REPO_ROOT}: {e}", file=sys.stderr)
            return 2
        spark = start_session(host)
        start_s = time.perf_counter() - T_PROCESS
        try:
            result = measure(spark, host, args, start_s)
        finally:
            stop_session(spark)
    finally:
        host.cleanup()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
