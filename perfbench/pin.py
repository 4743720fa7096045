"""Regenerate ``pins.json``: the expected result of every checked output.

    python3 perfbench/pin.py

Runs the queries, the streams and every wallet input variant twice per
scale in one session and records the (rows, xxhash64 fold) of every query
and stream, and the (serving rows, serving fold, warehouse rows) of every
wallet variant.
Refuses to write a pin that differs between the two passes, or a wallet
pin whose row counts differ from the input's. Re-pin only when an engine
change deliberately changes a result.
"""

import json
import re
import sys

from harness import BENCH_DIR, REPO_ROOT, SCALES, HostSetup, start_session, stop_session


def main() -> int:
    host = HostSetup()
    sys.path.insert(0, str(REPO_ROOT))
    from workloads import LakeQueries, StreamDrain, WalletEtl

    pins: dict = {"results": {}, "wallet": {}}
    spark = start_session(host)
    try:
        for scale, (sf, rows, variants) in SCALES.items():
            results = pins["results"].setdefault(sf, {})
            for cls in (LakeQueries, StreamDrain):
                wl = cls(spark, host, 0, scale, {})
                wl.run_pass(False)
                once = dict(wl.observed)
                wl.run_pass(False)
                if once != wl.observed or None in once.values():
                    raise SystemExit(f"{cls.name} at {sf} is not repeatable: {once} vs {wl.observed}")
                results.update(once)
            for variant in range(variants):
                wl = WalletEtl(spark, host, variant, scale, {})
                wl.run_pass(False)
                once = wl.observed
                wl.run_pass(False)
                if once != wl.observed or once is None or once[0] != rows or once[2] != rows:
                    raise SystemExit(f"wallet variant {variant} at {rows} rows: {once} vs {wl.observed}")
                pins["wallet"].setdefault(str(rows), {})[str(variant)] = once
                print(f"# pinned wallet {rows} rows variant {variant}: {once}", file=sys.stderr)
    finally:
        stop_session(spark)
        host.cleanup()
    text = json.dumps(pins, indent=1, sort_keys=True)
    # one pin per line
    text = re.sub(r"\[\s+([^][]+?)\s+\]", lambda m: "[" + ", ".join(x.strip() for x in m.group(1).split(",")) + "]", text)
    (BENCH_DIR / "pins.json").write_text(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
