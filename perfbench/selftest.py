"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json names exactly the workloads and metrics the
benchmark prints, then runs every workload once untraced and once traced
at the smoke scale (sf0.001 tables, 5,000 wallet rows) in one session,
one pass each. Fails if a run is incorrect or its metric names or
units differ from BENCHMARK.json. Exits 0 when everything holds.
"""

import json
import sys

import run
from harness import END_TO_END, PER_LAYER, REPO_ROOT, HostSetup, start_session, stop_session


def spec_problems() -> list[str]:
    spec = json.loads((REPO_ROOT / "BENCHMARK.json").read_text())
    problems = []
    for key, want in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))
            problems.append(f"BENCHMARK.json {key} differs from the benchmark: {diff}")
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(run.WORKLOAD_NAMES):
        problems.append(f"BENCHMARK.json workloads {names} != {list(run.WORKLOAD_NAMES)}")
    return problems


def main() -> int:
    problems = spec_problems()
    host = HostSetup()
    sys.path.insert(0, str(REPO_ROOT))
    spark = start_session(host)
    try:
        for workload in run.WORKLOAD_NAMES:
            for trace in (0, 1):
                args = run.parse_args(
                    ["--workload", workload, "--seconds", "0", "--trace", str(trace), "--scale", "smoke"]
                )
                out = run.measure(spark, host, args, 0.0)
                want = {k: unit for k, (unit, _better) in (PER_LAYER if trace else END_TO_END).items()}
                got = {k: m["unit"] for k, m in out["metrics"].items()}
                if got != want:
                    problems.append(f"{workload} trace={trace}: metrics {sorted(set(got) ^ set(want))}")
                if not out["correct"] or out["failed"]:
                    problems.append(f"{workload} trace={trace}: {out['failed']} failed operations")
    finally:
        stop_session(spark)
        host.cleanup()
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
