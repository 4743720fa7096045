"""Same-session interleaved A/B of registry queries — the protocol every
claim finer than the bench's ~10% normalized residual needs (README
"The ±10% rule").

Protocol: ONE session; per query, an untimed warm-up of every leg
(codegen, JIT), then the legs alternate rep by rep so slow
host drift hits them equally, and paired medians are compared. Timed
action = ``bench.fingerprint`` (count + xxhash64 fold over every output
column), clearCache after each rep. Row count and checksum must be
identical across legs — the harness fails otherwise.

Variant kinds (exactly one per run):

  --conf KEY=V1,V2[,...]  one leg per value, set for the span of the
                          timed call through ``session.scoped_conf``
  --patch module.attr     A = shipped code, B = the target replaced by
                          the identity function in EVERY loaded
                          cyrela_etl_spark module global bound to it
                          (e.g. ``cyrela_etl_spark.sources.parquet.fan_out``
                          also reaches the copies textq, round8q, vectorq
                          and walletq imported), restored afterwards

Usage:
    python tools/ab.py <query> [query ...] (--conf KEY=V1,V2 | --patch module.attr) [--reps N]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import statistics
import sys
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import fingerprint  # noqa: E402


def _identity(x, *_args, **_kwargs):
    return x


@contextlib.contextmanager
def patched(target: str) -> Iterator[list[tuple[str, str]]]:
    """Rebind every loaded ``cyrela_etl_spark`` module global that is the
    same object as ``target`` to the identity function; restore them all
    on exit (also on an exception). Yields the rebound (module, name)
    sites."""
    module, attr = target.rsplit(".", 1)
    real = getattr(importlib.import_module(module), attr)
    sites = [
        (m, name)
        for mod_name, m in list(sys.modules.items())
        if mod_name.split(".")[0] == "cyrela_etl_spark"
        for name, value in list(vars(m).items())
        if value is real
    ]
    if not sites:
        raise ValueError(f"{target} is not bound in any loaded cyrela_etl_spark module")
    try:
        for m, name in sites:
            setattr(m, name, _identity)
        yield [(m.__name__, name) for m, name in sites]
    finally:
        for m, name in sites:
            setattr(m, name, real)


def main() -> None:
    ap = argparse.ArgumentParser(description="interleaved A/B of registry queries")
    ap.add_argument("queries", nargs="+")
    kind = ap.add_mutually_exclusive_group(required=True)
    kind.add_argument("--conf", help="KEY=V1,V2[,...]")
    kind.add_argument("--patch", help="module.attr to replace with identity in leg B")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark, scoped_conf

    registry = load_all()
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")

    if args.conf:
        key, values = args.conf.split("=", 1)
        legs = {
            f"{key}={v}": (lambda v=v: scoped_conf(spark, {key: v}))
            for v in values.split(",")
        }
    else:
        legs = {
            "shipped": contextlib.nullcontext,
            f"{args.patch}=identity": lambda: patched(args.patch),
        }

    def timed(name: str, leg: str) -> tuple[float, tuple]:
        fn, _oracle = registry[name]
        with legs[leg]():
            t0 = time.perf_counter()
            sig = fingerprint(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt, sig

    out: dict[str, dict] = {}
    for name in args.queries:
        sigs = {timed(name, leg)[1] for leg in legs}  # untimed warm-up of each leg
        samples: dict[str, list[float]] = {leg: [] for leg in legs}
        for r in range(args.reps):
            for leg in legs:
                dt, sig = timed(name, leg)
                samples[leg].append(dt)
                sigs.add(sig)
                print(
                    f"# {name} rep {r + 1}/{args.reps} {leg}: {dt:.3f}s n={sig[0]}",
                    file=sys.stderr,
                )
        if len(sigs) != 1:
            raise RuntimeError(f"{name}: legs disagree on (rows, checksum): {sigs}")
        rows, checksum = sigs.pop()
        out[name] = {
            "rows": rows,
            "checksum": checksum,
            "medians": {leg: round(statistics.median(s), 3) for leg, s in samples.items()},
            "samples": {leg: [round(x, 3) for x in s] for leg, s in samples.items()},
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
