"""Order-insensitive result fingerprints for every registry query at a
given SF: ``bench.fingerprint`` — rows + sum(xxhash64(all columns)), the
same action bench.py times. Used by the optimization rounds to prove a
restructured query still computes the identical relation at BENCH scale
(the oracle gate covers sf0.01/sf0.001; this covers the sf the driver
actually times).

Usage:
    python tools/checksum_sweep.py out.json [names...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import fingerprint
    from cyrela_etl_spark.queries import load_all
    from cyrela_etl_spark.session import get_spark

    registry = load_all()
    targets = names or sorted(registry)
    spark = get_spark(app_name="checksum-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for i, name in enumerate(targets):
        fn, _oracle = registry[name]
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            n, ck = fingerprint(df)
            out[name] = {
                "n": n,
                "ck": str(ck),
                "cols": df.columns,
                "sec": round(time.perf_counter() - t0, 2),
            }
        except Exception:
            out[name] = {"err": traceback.format_exc(limit=3)}
        spark.catalog.clearCache()
        print(
            f"# [{i + 1}/{len(targets)}] {name}: {out[name].get('n', 'ERR')} "
            f"({out[name].get('sec', '-')}s)",
            file=sys.stderr,
        )
    with open(out_path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "results": out}, fh, indent=1, sort_keys=True)
    nerr = sum(1 for v in out.values() if "err" in v)
    print(json.dumps({"queries": len(out), "errors": nerr}))


if __name__ == "__main__":
    main()
