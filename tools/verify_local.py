"""Local emulation of the driver's correctness gate: run every registry
query in Spark and its DuckDB oracle over the same parquet tables, compare
row count + schema + order-insensitive values.

Usage: python tools/verify_local.py [--plain-session] [sf_dir] [query_name ...]

``--plain-session`` uses a default SparkSession (Spark 4 defaults: ANSI
on, no engine conf) instead of the engine's get_spark — the closest
emulation of the round driver's own session.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from cyrela_etl_spark.schemas import TESTDATA_TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols = sorted(spark_pdf.columns)
    o_cols = sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    for c in s_cols:
        sd, od = str(spark_pdf[c].dtype), str(oracle_pdf[c].dtype)
        if sd.startswith("datetime64") and od.startswith("datetime64"):
            continue  # unit (ns vs us) is a pandas conversion artifact
        if sd != od:
            problems.append(f"dtype[{c}] spark={sd} oracle={od}")
    if problems:
        return problems
    s, o = canon(spark_pdf), canon(oracle_pdf)
    for c in s.columns:
        if np.issubdtype(s[c].dtype, np.floating):
            eq = (s[c].values == o[c].values) | (pd.isna(s[c].values) & pd.isna(o[c].values))
            if not eq.all():
                i = int(np.argmin(eq))
                diff = np.nanmax(np.abs(s[c].values - o[c].values))
                problems.append(f"values[{c}] first mismatch row {i}: {s[c].values[i]!r} vs {o[c].values[i]!r} (maxdiff {diff:.3e})")
        else:
            eq = (s[c].values == o[c].values) | (pd.isna(s[c].values) & pd.isna(o[c].values))
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(f"values[{c}] first mismatch row {i}: {s[c].values[i]!r} vs {o[c].values[i]!r}")
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--plain-session"]
    plain = "--plain-session" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from cyrela_etl_spark.queries import load_all

    registry = load_all()
    if plain:
        from pyspark.sql import SparkSession

        # SPARK_GRAFT_VERIFY_SHUFFLE overrides the shuffle width (e.g. 200
        # = the stock Spark default the real round driver runs with) so
        # registry-wide width-invariance can be demonstrated empirically
        # rather than assumed; default stays 32 for wall-time.
        shuffle = os.environ.get("SPARK_GRAFT_VERIFY_SHUFFLE", "32")
        spark = (
            SparkSession.builder.master("local[16]")
            .config("spark.sql.shuffle.partitions", shuffle)
            .config("spark.ui.enabled", "false")
            .appName("verify-local-plain")
            .getOrCreate()
        )
    else:
        from cyrela_etl_spark.session import get_spark

        spark = get_spark(app_name="verify-local")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_ok = n_fail = 0
    for name, (fn, oracle) in sorted(registry.items()):
        if only and name not in only:
            continue
        # the registry cache contract (queries/__init__): operators may
        # persist plan-backing frames; the CALLER releases them between
        # queries so a 256-query sweep doesn't accumulate storage blocks
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if oracle is None:
            print(f"ok?  {name}: rows={len(spark_pdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            n_ok += 1
            continue
        try:
            oracle_pdf = con.execute(oracle).df()
        except Exception as e:
            print(f"FAIL {name}: oracle raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            n_ok += 1
            print(f"OK   {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
    print(f"\n{n_ok} ok, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
