"""Replicate-then-time scale curves: one runner, one function per family.

Protocol shared by every family (NOTES.md round-5/7 precedent):

- parquet-first: the scaled input is WRITTEN TO PARQUET before any timed
  leg, so a leg measures the operator, not the replication plan;
- replicas come from a broadcast ``crossJoin(range(s))`` with a
  per-column id offset (``replicate``), never an s-arm union — a
  1000-arm union plan costs minutes of driver analysis/GC and polluted
  the first 1000x measurement (116 s vs the true ~13 s). Offsets keep
  the replicas' id spaces DISJOINT, so true output is exactly s-fold
  and a superlinear curve exposes a plan pathology;
- each timed leg prints one ``RESULT`` line (``timed`` + ``result``);
  exact s-fold invariants go through ``s_fold``;
- families that read shuffle bytes (graph, multimodal, ann) run with the
  Spark UI on and read stage totals from its REST API
  (``shuffle_bytes``); the engine default keeps the UI off.

Scaled inputs live under ``$TMPDIR/scale_curve`` and are rebuilt on
every run. Run on an idle box:

    python tools/scale_curve.py <family> [sizes...]

Families and default sizes: see ``FAMILIES`` (``python
tools/scale_curve.py`` with no family lists them).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) is the base data.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from bench import fingerprint  # noqa: E402
from cyrela_etl_spark.session import get_spark  # noqa: E402
from cyrela_etl_spark.sources.parquet import read_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.path.join(tempfile.gettempdir(), "scale_curve")

# family name -> (function, default sizes, needs the Spark UI)
FAMILIES: dict[str, tuple[Callable, list[int], bool]] = {}


def family(defaults: list[int], ui: bool = False):
    """Register the decorated function as the family of the same name."""

    def register(fn):
        FAMILIES[fn.__name__] = (fn, defaults, ui)
        return fn

    return register


# --- shared pieces -----------------------------------------------------------
def replicate(
    df: DataFrame,
    s: int,
    offsets: dict[str, int],
    rewrite: dict[str, Callable[[Column, Column], Column]] | None = None,
) -> DataFrame:
    """``s`` copies of ``df`` via a broadcast crossJoin with range(s).
    Copy k adds ``k * offsets[c]`` to each offset column (disjoint id
    spaces) and maps each ``rewrite`` column through ``fn(col, k)``;
    other columns are copied unchanged, in ``df``'s column order."""
    k = F.col("__rep")
    reps = F.broadcast(df.sparkSession.range(s).select(F.col("id").alias("__rep")))
    rewrite = rewrite or {}
    cols = [
        (F.col(c) + k * F.lit(offsets[c])).alias(c) if c in offsets
        else rewrite[c](F.col(c), k).alias(c) if c in rewrite
        else F.col(c)
        for c in df.columns
    ]
    return df.crossJoin(reps).select(*cols)


def write(df: DataFrame, path: str, partitions: int | None = None) -> str:
    """Write ``df`` to parquet at ``path`` (replacing it) and return the path."""
    if partitions:
        df = df.repartition(partitions)
    df.write.mode("overwrite").parquet(path)
    return path


def timed(fn: Callable):
    """Run ``fn()``; return (its result, wall seconds)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def result(**fields) -> None:
    """Print one leg's ``RESULT k=v ...`` line."""
    print("RESULT " + " ".join(f"{k}={v}" for k, v in fields.items()), flush=True)


def s_fold(base: dict, key: str, value: int, s: int) -> bool:
    """Exact s-fold assertion: the first call for ``key`` records its
    (value, scale); every later scale must be exactly scale-proportional."""
    v0, s0 = base.setdefault(key, (value, s))
    assert value * s0 == v0 * s, f"{key}={value} at {s}x is not {s}/{s0} x {v0}"
    return True


def shuffle_bytes(spark) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all completed
    stages, via the UI REST API; deltas across a leg = the leg's volume."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
        stages = json.load(r)
    return (
        sum(st.get("shuffleReadBytes", 0) for st in stages),
        sum(st.get("shuffleWriteBytes", 0) for st in stages),
    )


def _mib(n: int) -> str:
    return f"{n / 1024**2:.1f}MiB"


def tagged_corpus(spark, s: int) -> str:
    """The sf documents corpus replicated s times with DISJOINT
    vocabularies: every token in replica k carries an ``r{k}x`` prefix
    and doc_id is offset by k * 10M. Shingles, hash buckets and per-gram
    document frequencies never collide across replicas, so the true
    output scales exactly linearly. The other document columns are
    copied unchanged. Returns a dir holding documents.parquet (the
    layout registry queries read)."""

    def tag_tokens(text: Column, k: Column) -> Column:
        tag = F.concat(F.lit("r"), k.cast("string"), F.lit("x"))
        return F.concat(tag, F.regexp_replace(text, F.lit(r"\s+"), F.concat(F.lit(" "), tag)))

    docs = read_table(spark, SF_DIR, "documents")
    root = f"{WORK}/tagged_docs_{s}x"
    scaled = replicate(docs, s, {"doc_id": 10_000_000}, {"text": tag_tokens})
    write(scaled, f"{root}/documents.parquet", partitions=max(4, s))
    return root


# --- curriculum --------------------------------------------------------------
@family([1, 10, 100])
def curriculum(spark, sizes: list[int]) -> None:
    """Scale curve for the re-planned corpus_curriculum_stages (the
    distributed-total-order plan: range partitions + per-range ranks +
    prefix offsets — VERDICT r9 item 1). Replicas get shifted doc_ids so
    the total order grows s-fold for real. Checks at each scale:
    positions are a permutation of 1..n (sum == n(n+1)/2 and max == n —
    an exact pairing), ntile stage sizes match the q/q+1 rule, and the
    executed plan contains no partition-less window."""
    from cyrela_etl_spark.queries.textq import corpus_curriculum_stages

    # warm-up (codegen + shuffle machinery) so the 1x number is the
    # operator, not session startup
    corpus_curriculum_stages(spark, SF_DIR).count()
    spark.catalog.clearCache()
    docs = read_table(spark, SF_DIR, "documents")
    n_base = docs.count()
    for s in sizes:
        sf_dir = SF_DIR
        if s != 1:
            sf_dir = f"{WORK}/curriculum_{s}x"
            write(replicate(docs, s, {"doc_id": n_base}), f"{sf_dir}/documents.parquet")

        def leg():
            df = corpus_curriculum_stages(spark, sf_dir)
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("position").alias("pos_sum"),
                F.max("position").alias("pos_max"),
            ).collect()[0]
            return df, agg

        (df, agg), wall = timed(leg)
        n = agg["n"]
        assert agg["pos_max"] == n and agg["pos_sum"] == n * (n + 1) // 2, "not a permutation"
        q, r = divmod(n, 4)
        sizes_by_stage = {
            row["stage"]: row["c"]
            for row in df.groupBy("stage").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        assert sizes_by_stage == {st: q + 1 if st <= r else q for st in range(1, 5)}, sizes_by_stage
        plan = df._jdf.queryExecution().executedPlan().toString()
        specs = [seg.split(")", 1)[0] for seg in plan.split("windowspecdefinition(")[1:]]
        assert specs and all(sp.startswith("pid#") for sp in specs), "global window!"
        spark.catalog.clearCache()
        result(scale=f"{s}x", n=n, wall=f"{wall:.2f}s")


# --- asof --------------------------------------------------------------------
@family([1, 10, 100])
def asof(spark, sizes: list[int]) -> None:
    """Scale curve for the temporal join pair: union-merge as-of join and
    the bucketized range join. The events table is replicated with
    per-replica user_id/event_id shifts (key spaces stay DISJOINT, so
    matched fractions and pair counts replicate exactly). Left =
    purchases, right = views per user.

    Invariants at every scale:
    - as-of output is left-preserving (|out| == |left|) and its matched
      count is exactly s-fold;
    - range-join pair count is exactly s-fold;
    - the as-of executed plan contains exactly ONE exchange (the __key
      shuffle feeding the single merge window) — the no-range-explosion
      property the union-merge formulation exists for."""
    from cyrela_etl_spark.operators.temporal import asof_join, range_join_buckets

    events = read_table(spark, SF_DIR, "events")
    # warm-up (codegen + shuffle machinery) so the 1x leg times the operator
    ev = events.limit(1000)
    asof_join(
        ev.select("event_id", "user_id", F.col("ts").alias("p_ts")),
        ev.select("user_id", F.col("ts").alias("v_ts"), "value"),
        on="user_id", left_ts="p_ts", right_ts="v_ts", right_value_cols=["value"],
    ).count()
    spark.catalog.clearCache()
    events = events.select("event_id", "ts", "user_id", "event_type", "value")
    base: dict = {}
    for s in sizes:
        scaled = replicate(events, s, {"event_id": 100_000_000, "user_id": 10_000_000})
        ev = spark.read.parquet(write(scaled, f"{WORK}/asof_{s}x", partitions=max(32, 4 * s)))
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
        )
        right = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("v_value")
        )

        def as_of():
            joined = asof_join(
                left, right, on="user_id", left_ts="p_ts", right_ts="v_ts",
                right_value_cols=["v_value"],
            )
            agg = joined.agg(
                F.count(F.lit(1)).alias("n"), F.count("v_value_asof").alias("matched")
            ).collect()[0]
            return joined, agg

        (joined, agg), asof_wall = timed(as_of)
        n_left = left.count()
        assert agg["n"] == n_left, f"as-of not left-preserving: {agg['n']} vs {n_left}"
        plan = joined._jdf.queryExecution().executedPlan().toString()
        ex = plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")
        assert ex == 1, f"as-of plan has {ex} exchanges (want exactly the __key shuffle)"
        n_pairs, range_wall = timed(
            lambda: range_join_buckets(
                left, right, on="user_id", left_ts="p_ts", right_ts="v_ts", window_seconds=3600
            ).count()
        )
        s_fold(base, "matched", agg["matched"], s)
        s_fold(base, "pairs", n_pairs, s)
        spark.catalog.clearCache()
        result(
            scale=f"{s}x", left=n_left, matched=agg["matched"], asof_wall=f"{asof_wall:.2f}s",
            pairs=n_pairs, range_wall=f"{range_wall:.2f}s",
        )


# --- txn ---------------------------------------------------------------------
@family([100_000, 1_000_000, 10_000_000])
def txn(spark, sizes: list[int]) -> None:
    """Scale curve for the manifest-log commit protocol (sources/txn.py);
    sizes are table row counts N.

    - ``txn_init``: version-1 full snapshot — linear in N by design (it
      IS the data write).
    - ``txn_append`` of a FIXED 1k-row batch: the Delta-style add-only
      commit — must be ~CONSTANT in N (writes only the delta dir + a
      manifest of driver metadata; never rewrites the table).
    - ``txn_upsert`` of a FIXED 1k-row batch: copy-on-write merge —
      linear in N (one anti-join + full rewrite; the documented trade
      for keyed MERGE without file-level deletion vectors).
    - ``txn_read`` count of the latest version: linear scan.
    - manifest byte size: constant (the protocol's metadata is O(1) in N).

    Invariants: version numbers advance by 1 per commit, read-after-
    append row count = N + appended rows. The first line (N=10,000) is
    the warm-up (codegen + fs machinery)."""
    from cyrela_etl_spark.sources import txn as T
    from cyrela_etl_spark.sources.zones import ZoneStore

    batch = 1_000

    def synth(n: int, offset: int = 0) -> DataFrame:
        return spark.range(offset, offset + n).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("grp"),
            (F.col("id") * 31 % 1_000_003).cast("double").alias("v"),
        )

    for n in [10_000, *sizes]:
        root = f"{WORK}/txn_{n}"
        shutil.rmtree(root, ignore_errors=True)
        store = ZoneStore(spark, root)
        zone, key = "curated", "t"
        v, t_init = timed(lambda: T.txn_init(store, zone, key, synth(n)))
        v, t_append = timed(
            lambda: T.txn_append(store, zone, key, synth(batch, offset=n), read_version=v)
        )
        got, t_read = timed(lambda: T.txn_read(store, zone, key).count())
        assert got == n + batch, (got, n + batch)
        v, t_upsert = timed(lambda: T.txn_upsert(store, zone, key, synth(batch), merge_key="k"))
        assert v == 3
        assert T.txn_read(store, zone, key).count() == n + batch
        mbytes = max(
            os.path.getsize(os.path.join(d, f))
            for d, _sub, fs in os.walk(f"{root}/{zone}/{key}/_txn")
            for f in fs
            if f.endswith(".json")
        )
        result(
            n=n, init=f"{t_init:.2f}s", append=f"{t_append:.2f}s", read=f"{t_read:.2f}s",
            upsert=f"{t_upsert:.2f}s", manifest_max_bytes=mbytes,
        )
        shutil.rmtree(root, ignore_errors=True)


# --- txn_vacuum --------------------------------------------------------------
ROWS_PER_COMMIT = 50
AUTO_COMPACT_EVERY = 64


@contextmanager
def _spy(module, name: str, hook: Callable):
    """Wrap ``module.name`` so ``hook(args, result)`` sees every call
    resolved through the module global; restore it on exit."""
    real = getattr(module, name)

    def wrapped(*args):
        out = real(*args)
        hook(args, out)
        return out

    setattr(module, name, wrapped)
    try:
        yield
    finally:
        setattr(module, name, real)


@family([10, 100, 1000])
def txn_vacuum(spark, sizes: list[int]) -> None:
    """Vacuum / checkpoint-compaction curves for the txn layer
    (sources/txn.py) against manifest chains of N commits (sizes) —
    VERDICT r12 item 5: append has a flat curve (the txn family); vacuum
    and compaction did not. Fresh table root per N:

    - build: txn_init + (N-1) txn_appends of a fixed 50-row batch (the
      variable is CHAIN LENGTH, not data volume); mean append wall is a
      cross-check against the flat append curve. Manifest PUT bytes are
      accounted (every _write_bytes under _txn/): each append manifest
      lists the whole chain, so the plain build writes O(N^2) cumulative
      manifest bytes — the write-side residual VERDICT r14 item 4 names.
    - build_auto: the same appends with ``auto_compact_every=64`` — every
      manifest stays O(K) paths, so cumulative manifest bytes are O(N·K)
      and the max single manifest is flat in N. ``compactions`` counts
      the periodic full-table rewrites the cadence performs (the
      data-write amplification a table owner tunes against read latency).
    - read_latest: txn_read(latest).count() — the N-directory multi-path
      scan (one FileScan by contract; tests/test_txn_acid.py pins that).
    - compact: txn_compact — reads the N-dir union, writes ONE full
      snapshot, commits version N+1; linear in total rows.
    - vacuum_default / vacuum_eager: the production default (7-day
      retention) removes N versions' manifests and age-SPARES the N fresh
      unreferenced chain dirs; the explicit eager opt-out then sweeps
      them. Each reports the manifests vacuum read and their JSON bytes
      (listing-based vacuum reads retained manifests only — expect bytes
      FLAT). A CONCURRENT READER thread loops full reads of the retained
      latest across both legs and must never fail or see a partial row
      set (unit twin: tests/test_txn_acid.py::
      test_reader_racing_vacuum_never_fails).
    - post-checks: latest still reads all rows; a removed version raises
      FileNotFoundError."""
    import cyrela_etl_spark.sources.txn as T
    from cyrela_etl_spark.sources.zones import ZoneStore

    def batch(start: int) -> DataFrame:
        # one file per commit: JVM-side range with ONE partition (a
        # 50-row batch over 32 partitions writes 32 files per append and
        # times task launch; createDataFrame(list).coalesce(1) computes
        # all 32 parent partitions serially in one task, ~4 s per batch)
        return spark.range(start, start + ROWS_PER_COMMIT, 1, 1).select(
            F.col("id").cast("int").alias("account_id"),
            (F.col("id") * 3).cast("int").alias("balance"),
        )

    def build(store, n: int, **append_kw) -> tuple[int, dict]:
        puts = {"puts": 0, "bytes": 0, "max": 0}

        def count_put(args, _out):
            _store, path, data = args
            if "/_txn/" in path:
                puts["puts"] += 1
                puts["bytes"] += len(data)
                puts["max"] = max(puts["max"], len(data))

        with _spy(T, "_write_bytes", count_put):
            v = T.txn_init(store, "curated", "t", batch(0))
            for i in range(1, n):
                v = T.txn_append(
                    store, "curated", "t", batch(i * ROWS_PER_COMMIT), read_version=v, **append_kw
                )
        return v, puts

    def vacuum_leg(store, **kw):
        reads = {"manifests_read": 0, "manifest_bytes": 0}
        me = threading.get_ident()  # not the concurrent reader's reads

        def count_read(_args, manifest):
            if threading.get_ident() == me:
                reads["manifests_read"] += 1
                reads["manifest_bytes"] += len(json.dumps(manifest))

        with _spy(T, "_read_json", count_read):
            report, wall = timed(lambda: T.vacuum(store, "curated", "t", keep_last=1, **kw))
        return report, wall, reads

    for n in sizes:
        root = f"{WORK}/txn_vacuum_{n}"
        shutil.rmtree(root, ignore_errors=True)
        store = ZoneStore(spark=spark, root=root)
        (v, pc), wall = timed(lambda: build(store, n))
        assert T.latest_version(store, "curated", "t") == n
        result(
            chain=n, leg="build", wall=f"{wall:.1f}s", mean_append=f"{wall / n * 1000:.0f}ms",
            manifest_puts=pc["puts"], manifest_bytes=pc["bytes"], max_manifest=pc["max"],
        )

        auto_store = ZoneStore(spark=spark, root=f"{root}_auto")
        (av, pca), wall = timed(
            lambda: build(auto_store, n, auto_compact_every=AUTO_COMPACT_EVERY)
        )
        assert T.txn_read(auto_store, "curated", "t").count() == n * ROWS_PER_COMMIT
        assert pca["max"] <= (AUTO_COMPACT_EVERY + 2) * 200 + 2000, (
            f"max manifest {pca['max']} B not O(K) at K={AUTO_COMPACT_EVERY}"
        )
        result(
            chain=n, leg="build_auto", K=AUTO_COMPACT_EVERY, wall=f"{wall:.1f}s",
            mean_append=f"{wall / n * 1000:.0f}ms", compactions=av - n,
            manifest_puts=pca["puts"], manifest_bytes=pca["bytes"], max_manifest=pca["max"],
        )
        shutil.rmtree(f"{root}_auto", ignore_errors=True)

        want = n * ROWS_PER_COMMIT
        total, wall = timed(lambda: T.txn_read(store, "curated", "t").count())
        result(chain=n, leg="read_latest", wall=f"{wall:.2f}s", rows=total)
        assert total == want
        cv, wall = timed(lambda: T.txn_compact(store, "curated", "t"))
        result(chain=n, leg="compact", wall=f"{wall:.2f}s", version=cv)

        stop = threading.Event()
        failures: list[BaseException] = []
        reader_reads = [0]

        def reader():
            try:
                while True:
                    got = T.txn_read(store, "curated", "t").count()
                    assert got == want, f"reader saw {got} rows, want {want}"
                    reader_reads[0] += 1
                    if stop.is_set():
                        break
            except BaseException as e:  # noqa: BLE001
                failures.append(e)

        rt = threading.Thread(target=reader)
        rt.start()
        try:
            removed, wall, reads = vacuum_leg(store)
            result(
                chain=n, leg="vacuum_default", wall=f"{wall:.2f}s", removed=len(removed),
                swept_dirs=len(removed.swept_dirs), spared_dirs=len(removed.spared_dirs), **reads,
            )
            assert len(removed) == n  # versions 1..n (compact is n+1)
            assert len(removed.swept_dirs) == 0  # all dirs fresh -> age-spared
            assert len(removed.spared_dirs) == n
            eager, wall, reads = vacuum_leg(store, min_age_sec=0)
        finally:
            stop.set()
            rt.join()
        result(
            chain=n, leg="vacuum_eager", wall=f"{wall:.2f}s", removed=len(eager),
            swept_dirs=len(eager.swept_dirs), spared_dirs=len(eager.spared_dirs),
            reader_reads=reader_reads[0], reader_failures=len(failures), **reads,
        )
        assert not failures, failures
        assert len(eager) == 0  # manifests went in the default leg
        assert len(eager.swept_dirs) == n  # the space reclaim, observable
        assert len(eager.spared_dirs) == 0

        assert T.txn_read(store, "curated", "t").count() == want
        try:
            T.txn_read(store, "curated", "t", 1)
            raise AssertionError("vacuumed version 1 still readable")
        except FileNotFoundError:
            pass
        shutil.rmtree(root, ignore_errors=True)


# --- semdedup ----------------------------------------------------------------
SEM_DIM, SEM_BASE_N, SEM_HUBS, SEM_HUB_FRACTION, SEM_TARGET_CLUSTER = 32, 2_000, 20, 0.10, 250


@family([1, 10, 100])
def semdedup(spark, sizes: list[int]) -> None:
    """SemDeDup on a planted MASS-DUP embedding corpus (VERDICT r7 item 6
    remainder / r8 item 5). Corpus at scale s: N = 2_000·s vectors, dim
    32; 90% background (distinct, seeded numpy normals) + 10% exact
    copies spread over 20 hub vectors, so hub group size grows linearly
    with N (10 -> 100 -> 1000 copies) — the worst realistic shape
    (boilerplate pages embedded everywhere). Synthetic, so it is written
    to parquet directly rather than replicated.

    Two measured paths per scale:

    - raw : semdedup_pairs with n_clusters ∝ N (the knob, E|cluster| ≈
            250). Pair OUTPUT still blows up quadratically with hub size
            — C(|hub|,2)·20 pairs are genuinely emitted.
    - coll: collapse_exact_embeddings first (one hash shuffle), then the
            same knob-scaled semdedup over representatives. Σ|cluster|²
            (``sum_sq``) and pair output stay near-linear; group_size
            carries the mass."""
    import numpy as np

    from cyrela_etl_spark.operators.similarity import (
        _ivf_assign,
        collapse_exact_embeddings,
        seed_centroids,
        semdedup_pairs,
    )

    def sum_sq_sizes(df, n_clusters, id_col, vec_col) -> tuple[int, int]:
        cents = seed_centroids(df, n_clusters, id_col=id_col, vec_col=vec_col)
        agg = (
            _ivf_assign(df, cents, 1, id_col, vec_col, "vec_id")
            .groupBy("list_id")
            .count()
            .agg(F.sum(F.col("count") * F.col("count")).alias("ss"), F.max("count").alias("mx"))
            .collect()[0]
        )
        return int(agg["ss"]), int(agg["mx"])

    for s in sizes:
        n = SEM_BASE_N * s
        n_hub_rows = int(n * SEM_HUB_FRACTION)
        n_bg = n - n_hub_rows
        rng = np.random.default_rng(42)
        bg = rng.normal(size=(n_bg, SEM_DIM))
        hubs = rng.normal(size=(SEM_HUBS, SEM_DIM))
        rows = [(i, bg[i].tolist()) for i in range(n_bg)]
        rows += [(n_bg + j, hubs[j % SEM_HUBS].tolist()) for j in range(n_hub_rows)]
        corpus = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        data = spark.read.parquet(write(corpus, f"{WORK}/semdedup_{s}x", partitions=max(4, s)))
        n_clusters = max(8, n // SEM_TARGET_CLUSTER)
        for path in ("raw", "coll"):
            spark.catalog.clearCache()

            def leg():
                if path == "raw":
                    target, vec_col = data, "embedding"
                else:
                    (target, _membership), vec_col = collapse_exact_embeddings(data), "v"
                ss, mx = sum_sq_sizes(target, n_clusters, "vec_id", vec_col)
                pairs = semdedup_pairs(
                    target, n_clusters=n_clusters, threshold=0.999,
                    id_col="vec_id", vec_col=vec_col,
                ).count()
                return ss, mx, pairs

            (ss, mx, pairs), wall = timed(leg)
            result(
                scale=f"{s}x", n=n, n_clusters=n_clusters, path=path, sum_sq=ss, max_c=mx,
                pairs=pairs, wall=f"{wall:.1f}s",
            )


# --- wave7 -------------------------------------------------------------------
@family([1, 10, 100])
def wave7(spark, sizes: list[int]) -> None:
    """The late round-7 operators (containment pairs, LPA communities,
    RAKE keywords, n-gram novelty), each run as its registry query.
    Containment, LPA and novelty read the tagged corpus
    (``tagged_corpus``): disjoint per-replica vocabularies keep per-gram
    document frequency scale-invariant (the rare-gram 2<=df<=5 window
    keeps firing) and no cross-replica pairs inflate outputs
    superlinearly. RAKE reads plain replicas instead: it splits phrases
    on stopwords, which the token tag would hide, and it has no pairwise
    term to protect. Replication multiplies each word's sum(plen) and
    count(1) by s, so its top-20 phrases and scores are scale-invariant
    (only n_occurrences grows s-fold). Timed action =
    ``bench.fingerprint``."""
    from cyrela_etl_spark.queries import load_all

    registry = load_all()
    ops = [
        "dedup_containment_pairs",
        "graph_lpa_communities",
        "text_rake_keywords",
        "text_ngram_novelty",
    ]
    for s in sizes:
        tagged = tagged_corpus(spark, s)
        plain = f"{WORK}/plain_docs_{s}x"
        docs = replicate(read_table(spark, SF_DIR, "documents"), s, {"doc_id": 10_000_000})
        write(docs, f"{plain}/documents.parquet", partitions=max(4, s))
        n_docs = spark.read.parquet(f"{tagged}/documents.parquet").count()
        for op in ops:
            path = plain if op == "text_rake_keywords" else tagged
            (rows, checksum), wall = timed(lambda: fingerprint(registry[op][0](spark, path)))
            result(
                scale=f"{s}x", docs=n_docs, op=op, rows=rows, checksum=checksum,
                wall=f"{wall:.1f}s",
            )
            spark.catalog.clearCache()


# --- fuzzy -------------------------------------------------------------------
FUZZY_BASE_NAMES = 15_000  # ~sf0.1 customer cardinality


@family([1, 10, 100])
def fuzzy(spark, sizes: list[int]) -> None:
    """Fuzzy-match (edit-distance-1 blocking) curves — VERDICT r13 item
    5: the deletion-/substitution-neighborhood blocked joins
    (queries/relational.py fuzzy_match_names / fuzzy_match_names_indel).
    The watch item is CANDIDATE GROWTH: the variant equi-join emits
    sum(bucket^2) candidate rows over variant-key buckets, so pair volume
    and bucket sizes must stay linear/flat as the name corpus scales.

    The base is a synthetic TPC-H-shaped name table ("Customer#%09d" —
    the real generator's format, so masked variants collide on digit
    positions and buckets are structurally ~10-wide, matching production
    shape). Replica k prefixes a tag of its two-digit code REPEATED three
    times ("000000-", "010101-", ...): any two distinct tags differ in
    >= 3 character positions, so no masked variant (<= 1 differing
    position) and no deletion variant (edit distance <= 1) can collide
    across replicas — every count is EXACTLY s-fold by construction. A
    deviation means the blocking leaked cross-replica candidates.

    Per scale: bucket_profile (max/mean bucket width for BOTH blockings —
    must stay flat in s, the quadratic-candidate guard), then the sub
    and indel registry queries end-to-end (wall + output rows, s-fold)."""
    from cyrela_etl_spark.queries.relational import (
        fuzzy_deletion_variants,
        fuzzy_match_names,
        fuzzy_match_names_indel,
        fuzzy_substitution_variants,
    )

    def bucket_profile(root: str) -> dict:
        """max/mean variant-bucket width for both blockings, keyed as the
        registry queries' variant joins key them."""
        names = read_table(spark, root, "customer").select("c_name").distinct()
        out = {}
        for tag, variants, keys in (
            ("sub", fuzzy_substitution_variants, ["pos", "masked"]),
            ("indel", fuzzy_deletion_variants, ["variant"]),
        ):
            row = (
                variants(names)
                .groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(F.max("n").alias("mx"), F.avg("n").alias("avg"))
                .collect()[0]
            )
            out[f"{tag}_max"], out[f"{tag}_avg"] = row["mx"], round(float(row["avg"]), 3)
        return out

    names = spark.range(1, FUZZY_BASE_NAMES + 1).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        # typed nulls for the customer columns the fuzzy queries never
        # read, so the table passes read_table's drift tripwire
        F.lit(None).cast("int").alias("c_nationkey"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )

    def tag(name: Column, k: Column) -> Column:
        code = F.concat(F.floor(k / 10).cast("string"), (k % 10).cast("string"))
        return F.concat(F.repeat(code, 3), F.lit("-"), name)

    base: dict = {}
    for s in sizes:
        root = f"{WORK}/fuzzy_{s}x"
        scaled = replicate(names, s, {"c_custkey": FUZZY_BASE_NAMES}, {"c_name": tag})
        write(scaled, f"{root}/customer.parquet")
        result(scale=s, leg="bucket_profile", **bucket_profile(root))
        for leg, fn in (("sub", fuzzy_match_names), ("indel", fuzzy_match_names_indel)):
            rows, wall = timed(lambda: fn(spark, root).count())
            spark.catalog.clearCache()
            result(
                scale=s, leg=leg, wall=f"{wall:.2f}s", rows=rows,
                s_fold_exact=s_fold(base, leg, rows, s),
            )
        shutil.rmtree(root, ignore_errors=True)


# --- lsh ---------------------------------------------------------------------
@family([1, 10, 100])
def lsh(spark, sizes: list[int]) -> None:
    """The banded LSH dedup family (operators/dedup.py): MinHash-LSH pair
    generation in both hash configs (md5 = the oracle-portable default,
    xxhash64 = the production fold) and SimHash pigeonhole pairs at
    production-ish width (48 bits, max_hamming 2 → 16-bit chunks), over
    the tagged corpus (``tagged_corpus``): shingles, MinHash band buckets
    and SimHash chunk values never collide across replicas, so the true
    pair set scales LINEARLY. A near-linear wall curve demonstrates the
    banded equi-join claim (shuffle on bucket keys, never n² compare).
    All ops run with max_bucket_size=1000 — the hot-bucket guard that IS
    the documented corpus-scale configuration."""
    from cyrela_etl_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    legs = [
        ("minhash_md5", lambda df: minhash_lsh_pairs(df, max_bucket_size=1000)),
        (
            "minhash_xxh64",
            lambda df: minhash_lsh_pairs(df, max_bucket_size=1000, hash_fn="xxhash64"),
        ),
        (
            "simhash48",
            lambda df: simhash_pairs(
                df, bits=48, max_hamming=2, max_bucket_size=1000, hash_fn="xxhash64"
            ),
        ),
    ]
    for s in sizes:
        docs = spark.read.parquet(f"{tagged_corpus(spark, s)}/documents.parquet")
        n_docs = docs.count()
        for name, fn in legs:
            pairs, wall = timed(lambda: fn(docs).count())
            result(scale=f"{s}x", docs=n_docs, op=name, pairs=pairs, wall=f"{wall:.1f}s")
            spark.catalog.clearCache()


# --- stream ------------------------------------------------------------------
STREAM_SLICES = 10
STREAM_COLS = ["event_id", "user_id", "event_type", "value", "ts"]


def _stream_arrivals(spark, s: int) -> str:
    """Scaled, time-sliced arrival dir: STREAM_SLICES parquet files in ts
    order with staged mtimes (file-source batch order follows file
    modification time)."""
    path = f"{WORK}/stream_{s}x"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    events = read_table(spark, SF_DIR, "events").select(*STREAM_COLS)
    scaled = replicate(events, s, {"event_id": 1_000_000_000, "user_id": 1_000_000})
    # 20% duplicates resent +50s (inside the 1h watermark): the dedup leg
    # must drop every one of them
    dups = scaled.filter(F.col("event_id") % 5 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 50 SECONDS")
    )
    full = scaled.unionByName(dups.select(*STREAM_COLS))
    bounds = full.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"), F.max(F.unix_timestamp("ts")).alias("hi")
    ).collect()[0]
    width = (bounds["hi"] - bounds["lo"]) // STREAM_SLICES + 1
    sliced = full.withColumn(
        "slice", ((F.unix_timestamp("ts") - F.lit(bounds["lo"])) / width).cast("int")
    )
    for i in range(STREAM_SLICES):
        tmp = f"{path}/__s{i}"
        sliced.filter(F.col("slice") == i).select(*STREAM_COLS).coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{path}/arrival_{i}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    return path


def _stream_drain(spark, sdf: DataFrame, out_path: str) -> tuple[int, int, int, int]:
    """AvailableNow drain into a parquet sink; returns (rows_out,
    n_batches, peak_state_rows, final_state_rows) from recentProgress."""
    from cyrela_etl_spark.streaming.ops import _drain_available_now

    q = _drain_available_now(
        sdf.writeStream.format("parquet").option("path", out_path).outputMode("append")
    )
    progress = q.recentProgress
    states = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progress
        if p.get("stateOperators")
    ] or [0]
    return spark.read.parquet(out_path).count(), len(progress), max(states), states[-1]


@family([1, 10, 100])
def stream(spark, sizes: list[int]) -> None:
    """The STATEFUL streaming path: watermark-expiring dedup
    (dropDuplicatesWithinWatermark) and watermark-bounded tumbling
    aggregation, drained AvailableNow through multiple micro-batches into
    a parquet sink (the scale-true sink; streaming/ops.py:
    run_available_now_to_parquet's rationale).

    The sf events table (100k events / 1,500 users / 30 days at sf0.1) is
    replicated with DISJOINT id spaces (event_id offset k*10^9, user_id
    offset k*10^6) and IDENTICAL timestamps, so watermark semantics are
    unchanged while per-batch state rows must scale exactly s-fold. The
    input is written as 10 time-ordered parquet files with staged mtimes
    (the stream_dedup_expiry arrival pattern) and streamed with
    maxFilesPerTrigger=1 — one micro-batch per time slice, so the
    watermark advances between batches and EXPIRES state: peak state
    measures the in-watermark key population, not the corpus. The dedup
    leg ingests a 20% duplicate stream (event_id%5==0 resent +50s —
    inside the 1h watermark, so every resend must be dropped); its output
    row count must equal the distinct event count. The agg leg counts
    per (1h window, user_id, event_type) with a 1h watermark; closed
    windows flush to parquet, open ones stay unemitted by append-mode
    contract. Peak/final state come from the query's recentProgress:
    state must scale s-fold and stay far below input size (the eviction
    proof), wall near-linear."""
    from cyrela_etl_spark.streaming.ops import (
        dedup_within_watermark,
        read_file_stream,
        tumbling_counts,
    )

    legs = [
        ("dedup_watermark", lambda st: dedup_within_watermark(st, ["event_id"], "ts", "1 hour")),
        (
            "tumbling_agg",
            lambda st: tumbling_counts(
                st, "ts", "1 hour", keys=("user_id", "event_type"), watermark="1 hour"
            ),
        ),
    ]
    for s in sizes:
        path = _stream_arrivals(spark, s)
        schema = spark.read.parquet(f"{path}/arrival_0.parquet").schema
        n_in = spark.read.parquet(f"{path}/arrival_*.parquet").count()
        for name, fn in legs:
            out = f"{WORK}/stream_sink_{name}"
            shutil.rmtree(out, ignore_errors=True)
            src = read_file_stream(spark, path, schema, max_files_per_trigger=1)
            (n_out, n_batches, peak, final), wall = timed(
                lambda: _stream_drain(spark, fn(src), out)
            )
            result(
                scale=f"{s}x", rows_in=n_in, op=name, wall=f"{wall:.1f}s", batches=n_batches,
                rows_out=n_out, peak_state=peak, final_state=final,
            )
            shutil.rmtree(out, ignore_errors=True)
            spark.catalog.clearCache()


# --- graph -------------------------------------------------------------------
@family([1, 10, 100], ui=True)
def graph(spark, sizes: list[int]) -> None:
    """The graph family: the operators/graph.py triangle census, PageRank,
    LPA and k-core peel, called as shipped — the heaviest shuffle-site
    plans in PLAN_REPORT (k-core 12, PageRank 10, LPA 8; VERDICT r11
    item 4).

    The BASE edge list is the registry's own rare-shingle pair graph
    (queries/textq.py rare_shingle_pairs, the input of link prediction,
    LPA and assortativity) as distinct pairs, materialized to parquet
    ONCE so every timed leg measures the graph operator, not edge
    generation. Replica k offsets BOTH vertex ids by k * 10_000_000, so
    replicas are vertex-DISJOINT: s identical component families side by
    side, per-vertex degree distribution unchanged, true triangle/wedge/
    community structure exactly s-fold. Every operator here does
    per-round work proportional to sum-over-vertices of local quantities,
    so the TRUE work scales linearly — a superlinear WALL curve exposes a
    plan pathology, a superlinear SHUFFLE curve a broadcast-or-sort of
    something graph-sized. At small scales AQE converts node-scale join
    sides to broadcasts, so their bytes stay out of the shuffle counters
    until those relations outgrow the threshold; read a byte step at
    that point as broadcast conversion, not superlinear work.

    One RESULT per (scale, op): wall, shuffle MiB (UI REST delta across
    the leg), and an op-specific checksum that must scale s-fold
    (triangles, pagerank rank-sum, LPA community count, k-core survivor
    counts)."""
    from cyrela_etl_spark.operators.graph import (
        integer_pagerank,
        kcore_peel,
        label_propagation,
        triangle_stats,
    )
    from cyrela_etl_spark.queries.textq import rare_shingle_pairs

    legs = [
        (
            "triangles",
            triangle_stats,
            lambda rows: {"wedges": rows[0]["n_wedges"], "triangles": rows[0]["n_triangles"]},
        ),
        (
            "pagerank_2it",
            lambda e: integer_pagerank(e, iterations=2).agg(
                F.count(F.lit(1)).alias("n"), F.sum("rank_ppb").alias("rank_sum")
            ),
            lambda rows: {"nodes": rows[0]["n"], "rank_sum": rows[0]["rank_sum"]},
        ),
        (
            "lpa_2it",
            lambda e: label_propagation(e, iterations=2).agg(
                F.count(F.lit(1)).alias("n"), F.count_distinct("community").alias("n_comm")
            ),
            lambda rows: {"nodes": rows[0]["n"], "communities": rows[0]["n_comm"]},
        ),
        (
            "kcore_2rounds",
            kcore_peel,
            lambda rows: {
                f"r{r['round']}": f"({r['n_nodes']}n,{r['n_edges']}e)"
                for r in sorted(rows, key=lambda x: x["round"])
            },
        ),
    ]
    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = rare_shingle_pairs(docs).distinct()
    base_path = write(pairs, f"{WORK}/graph_1x/edges.parquet", partitions=8)
    spark.catalog.clearCache()
    base = spark.read.parquet(base_path)
    for s in sizes:
        path = base_path
        if s != 1:
            scaled = replicate(base, s, {"id_a": 10_000_000, "id_b": 10_000_000})
            path = write(scaled, f"{WORK}/graph_{s}x/edges.parquet", partitions=max(8, s))
        edges = spark.read.parquet(path)
        n_edges = edges.count()
        for name, fn, checksum in legs:
            sr0, sw0 = shuffle_bytes(spark)
            rows, wall = timed(lambda: fn(edges).collect())
            sr1, sw1 = shuffle_bytes(spark)
            result(
                scale=f"{s}x", edges=n_edges, op=name, wall=f"{wall:.1f}s",
                shuffle_read=_mib(sr1 - sr0), shuffle_write=_mib(sw1 - sw0), **checksum(rows),
            )
            spark.catalog.clearCache()


# --- multimodal --------------------------------------------------------------
MEDIA_OFFSET = 2_560_000  # lcm of every id-derived synth modulus (family doc)
MEDIA_BASE_DOCS = 5_000


def _jvm_rchar(spark) -> int:
    """Bytes the Spark JVM has read() so far (/proc/<pid>/io rchar) — the
    payload-deserialization witness (multimodal family doc)."""
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/io") as fh:
        return int(next(line for line in fh if line.startswith("rchar")).split()[1])


@family([1, 10, 100], ui=True)
def multimodal(spark, sizes: list[int]) -> None:
    """Multimodal/Arrow curves (VERDICT r14 item 5). The sf0.1 documents
    (5,000 ids) are replicated with a per-replica id offset of 2,560,000 —
    a multiple of every modulus synthesize_media derives container
    parameters from (lcm of 4, 64*64, 8, 1000, 200*200, 320*320), so
    every replica synthesizes a byte-identical payload MULTISET (only
    doc_id differs): kind counts, total payload bytes and the whole
    meta-field distribution are EXACTLY s-fold, and the legs assert it.

    Legs per scale (JVM rchar / shuffle-REST deltas taken around each):

    - build: synthesize_media (real BMP/WAV/JPEG/GIF containers, Arrow
      mapInPandas) -> parquet. Reported for context, not a curve claim.
    - decode: extract_media_meta(strict=True) — full header parse of
      every payload. Wall must scale ~linearly; the JVM's /proc/<pid>/io
      rchar delta tracks the payload volume. rchar is the witness because
      Spark's vectorized parquet reader does NOT route column-page reads
      through the Hadoop FileSystem statistics (measured: 3.4 KB "file"
      bytesRead for a 1.5 MB column read), while rchar counts every
      read() the JVM issues.
    - meta_only: groupBy(media_type).count() over the SAME table — the
      README claim "metadata-only queries never deserialize payloads":
      asserts `payload` absent from the executed ReadSchema AND the rchar
      delta < 10% of the decode leg's.
    - histogram: byte_histogram (numpy bincount per Arrow batch); asserts
      sum(n) == total payload bytes EXACTLY.
    - dedup: the multimodal_duplicate_assets shape (md5 + length
      hash-agg); asserts sum(n_copies) == 5000*s and group count FLAT in
      s (replicas are exact copies), and that shuffle bytes track DIGEST
      rows, not payloads (< 5% of payload volume at s >= 10)."""
    from cyrela_etl_spark.operators.multimodal import (
        byte_histogram,
        extract_media_meta,
        synthesize_media,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id")
    assert docs.count() == MEDIA_BASE_DOCS
    base: dict = {}
    for s in sizes:
        root = f"{WORK}/multimodal_{s}x"
        shutil.rmtree(root, ignore_errors=True)
        ids = replicate(docs, s, {"doc_id": MEDIA_OFFSET})
        _, build_wall = timed(lambda: synthesize_media(ids).write.parquet(f"{root}/assets"))
        assets = spark.read.parquet(f"{root}/assets")
        file_bytes = sum(f.stat().st_size for f in os.scandir(f"{root}/assets") if f.is_file())
        result(
            scale=s, leg="build", wall=f"{build_wall:.1f}s", rows=MEDIA_BASE_DOCS * s,
            parquet_bytes=file_bytes,
        )

        # decode: full container parse of every payload
        b0 = _jvm_rchar(spark)
        agg, decode_wall = timed(
            lambda: extract_media_meta(assets, strict=True)
            .groupBy("media_kind")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("bytes"))
            .collect()
        )
        decode_read = _jvm_rchar(spark) - b0
        kinds = {r["media_kind"]: (r["n"], r["bytes"]) for r in agg}
        payload_bytes = sum(b for _n, b in kinds.values())
        assert sum(n for n, _b in kinds.values()) == MEDIA_BASE_DOCS * s
        s_fold(base, "payload_bytes", payload_bytes, s)
        for kind, (n, b) in kinds.items():
            s_fold(base, f"{kind}_n", n, s)
            s_fold(base, f"{kind}_bytes", b, s)
        result(
            scale=s, leg="decode", wall=f"{decode_wall:.2f}s", payload_bytes=payload_bytes,
            rchar=decode_read, kinds=sorted((k, n) for k, (n, _b) in kinds.items()),
        )

        # meta_only: the payload column must never be deserialized
        b0 = _jvm_rchar(spark)
        mo = assets.groupBy("media_type").agg(F.count(F.lit(1)).alias("n"))
        mo_rows, meta_wall = timed(mo.collect)
        meta_read = _jvm_rchar(spark) - b0
        plan = mo._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan.split("ReadSchema:")[-1], plan
        assert meta_read < max(0.10 * decode_read, 2_000_000), (
            f"metadata-only scan read {meta_read} B vs decode {decode_read} B"
        )
        assert sum(r["n"] for r in mo_rows) == MEDIA_BASE_DOCS * s
        result(
            scale=s, leg="meta_only", wall=f"{meta_wall:.2f}s", rchar=meta_read,
            read_pct_of_decode=f"{100.0 * meta_read / max(decode_read, 1):.1f}%",
        )

        # histogram: sum of bin counts == total payload bytes
        hist_sum, hist_wall = timed(lambda: byte_histogram(assets).agg(F.sum("n")).collect()[0][0])
        assert hist_sum == payload_bytes, (hist_sum, payload_bytes)
        result(scale=s, leg="histogram", wall=f"{hist_wall:.2f}s", sum_n=hist_sum)

        # dedup: digests shuffle, payloads don't
        _sr, sw0 = shuffle_bytes(spark)
        dstat, dedup_wall = timed(
            lambda: assets.select(
                "doc_id",
                F.md5("payload").alias("content_md5"),
                F.length("payload").cast("long").alias("n_bytes"),
            )
            .groupBy("content_md5", "n_bytes")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_copies"),
                F.min("doc_id").cast("long").alias("canonical_id"),
            )
            .agg(F.count(F.lit(1)).alias("groups"), F.sum("n_copies").alias("copies"))
            .collect()[0]
        )
        sh_delta = shuffle_bytes(spark)[1] - sw0
        assert dstat["copies"] == MEDIA_BASE_DOCS * s
        assert base.setdefault("groups", dstat["groups"]) == dstat["groups"], (
            "replicas must be exact copies"
        )
        if s >= 10:
            assert sh_delta < 0.05 * payload_bytes, (
                f"dedup shuffled {sh_delta} B vs payloads {payload_bytes} B"
            )
        result(
            scale=s, leg="dedup", wall=f"{dedup_wall:.2f}s", groups=dstat["groups"],
            copies=dstat["copies"], shuffle_write=sh_delta,
            shuffle_pct_of_payload=f"{100.0 * sh_delta / payload_bytes:.2f}%",
        )
        shutil.rmtree(root, ignore_errors=True)


# --- ann ---------------------------------------------------------------------
ANN_K = 5  # queries/vectorq.py _K
ANN_QUERIES = 8  # queries/vectorq.py _N_QUERIES
ANN_CENT, ANN_NPROBE = 16, 2  # queries/vectorq.py vector_ivf_topk
ANN_M, ANN_KSUB, ANN_DIM = 8, 16, 64  # queries/vectorq.py vector_pq_adc_topk


def _ann_legs(queries, centroids, books: Callable[[], DataFrame]) -> list[tuple]:
    """(op, top-k fn, scored-with-self fn, score column) per ANN op: the
    operator's own scoring function over the given pinned centroids and
    codebooks, ranked to ANN_K by the operators' shared ``_topk``."""
    from cyrela_etl_spark.operators.similarity import (
        _ivf_pq_scored,
        _ivf_scored,
        _pq_scored,
        _sq_scored,
        _topk,
    )

    dsub = ANN_DIM // ANN_M
    scorers = [
        ("ivf", lambda d: _ivf_scored(d, queries, centroids, ANN_NPROBE), "cosine"),
        ("sq_int8", lambda d: _sq_scored(d, queries), "cosine"),
        ("pq_adc", lambda d: _pq_scored(d, queries, books(), ANN_M, dsub), "adc_ppm"),
        (
            "ivf_pq",
            lambda d: _ivf_pq_scored(d, queries, centroids, books(), ANN_NPROBE, ANN_M, dsub),
            "adc_ppm",
        ),
    ]

    def topk(scored: Callable[[DataFrame], DataFrame], col: str):
        return lambda d: _topk(
            scored(d).filter(F.col("vec_id") != F.col("query_id")),
            ANN_K,
            col,
            ascending=col == "adc_ppm",  # a distance ranks ascending, a cosine descending
        )

    return [(name, topk(scored, col), scored, col) for name, scored, col in scorers]


@family([1, 10, 100, 1000], ui=True)
def ann(spark, sizes: list[int]) -> None:
    """The quantized-ANN ladder (operators/similarity.py: ivf_topk,
    sq_int8_topk, pq_adc_topk, ivf_pq_topk; VERDICT r12 item 2).

    The BASE corpus is the registry's embeddings table at sf0.1 (2,000
    vectors x dim 64), materialized to parquet once; replica k keeps the
    vector VALUES and offsets vec_id by k*10_000_000. The QUERY SET is
    the registry's fixed 8 base queries, NOT replicated — query-time work
    is what must scale with the corpus.

    Training is PINNED on the 1x base (the production contract: IVF
    centroids and PQ codebooks are trained on a bounded sample, never the
    full corpus), so every replica copy of a vector gets the same list
    assignment and PQ code at every scale. The legs therefore call each
    operator's own scoring function (_ivf_scored / _sq_scored /
    _pq_scored / _ivf_pq_scored) with the pinned training tables and rank
    with the operators' shared _topk; a PARITY check at 1x asserts each
    leg's top-k equals the public operator's output row-for-row (at 1x
    "trained on the base" and "trained on the corpus" coincide).

    Per (scale, op): top-k wall (assignment/encode + candidate join +
    scoring + rank to k=5 per query), and a scored checksum —
    count + integer score sum over ALL (query, candidate) pairs the op
    scores, WITHOUT the self-pair filter. On a value-identical replica
    corpus with pinned training it must be EXACTLY s-fold; a drift means
    assignment or encoding is not per-row deterministic, and a
    superlinear wall or shuffle-byte curve means a plan pathology. Watch
    items (r12 verdict): the centroid-assignment broadcast GEMM
    (mapInPandas — per-row, must stay linear) and the ADC lookup join
    (codes x broadcast distance table — linear in code rows)."""
    from cyrela_etl_spark.functions.vectors import to_double_array
    from cyrela_etl_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
        pq_adc_topk,
        pq_codebooks,
        seed_centroids,
        sq_int8_topk,
    )

    emb = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("embedding")
    )
    base_path = write(emb, f"{WORK}/ann_1x/emb.parquet", partitions=8)
    base = spark.read.parquet(base_path)
    queries = base.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = seed_centroids(base, ANN_CENT)  # pinned: trained on 1x base
    books_rows = pq_codebooks(base, ANN_M, ANN_KSUB, ANN_DIM).collect()  # pinned

    def books() -> DataFrame:
        return spark.createDataFrame(
            [(r["j"], r["cid"], list(r["cv"])) for r in books_rows],
            "j long, cid long, cv array<double>",
        )

    legs = _ann_legs(queries, centroids, books)
    public = {
        "ivf": ivf_topk(base, queries, k=ANN_K, n_centroids=ANN_CENT, nprobe=ANN_NPROBE),
        "sq_int8": sq_int8_topk(base, queries, k=ANN_K),
        "pq_adc": pq_adc_topk(base, queries, k=ANN_K, m=ANN_M, ksub=ANN_KSUB, dim=ANN_DIM),
        "ivf_pq": ivf_pq_topk(
            base, queries, k=ANN_K, n_centroids=ANN_CENT, nprobe=ANN_NPROBE,
            m=ANN_M, ksub=ANN_KSUB, dim=ANN_DIM,
        ),
    }
    for name, topk, _scored, _col in legs:
        composed = sorted(map(tuple, topk(base).collect()))
        assert composed == sorted(map(tuple, public[name].collect())), (
            f"PARITY FAIL {name}: composed leg != public operator"
        )
        result(scale="1x", op=name, parity="ok", rows=len(composed))
        spark.catalog.clearCache()

    fold: dict = {}
    for s in sizes:
        path = base_path
        if s != 1:
            scaled = replicate(base, s, {"vec_id": 10_000_000})
            path = write(scaled, f"{WORK}/ann_{s}x/emb.parquet", partitions=max(8, min(s, 64)))
        data = spark.read.parquet(path)
        n = data.count()
        for name, topk, scored, col in legs:
            sr0, sw0 = shuffle_bytes(spark)
            rows, t_topk = timed(lambda: topk(data).collect())
            spark.catalog.clearCache()
            ppm = F.round(F.col(col) * 1_000_000).cast("long") if col == "cosine" else F.col(col)
            chk, t_chk = timed(
                lambda: scored(data)
                .agg(F.count(F.lit(1)).alias("n"), F.sum(ppm).alias("s"))
                .collect()[0]
            )
            sr1, sw1 = shuffle_bytes(spark)
            s_fold(fold, f"{name}_n", chk["n"], s)
            s_fold(fold, f"{name}_sum", chk["s"], s)
            result(
                scale=f"{s}x", vectors=n, op=name, topk_wall=f"{t_topk:.1f}s",
                chk_wall=f"{t_chk:.1f}s", shuffle_read=_mib(sr1 - sr0),
                shuffle_write=_mib(sw1 - sw0), topk_rows=len(rows), scored_n=chk["n"],
                scored_sum=chk["s"],
            )
            spark.catalog.clearCache()


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in FAMILIES:
        listing = ", ".join(f"{name} {defaults}" for name, (_fn, defaults, _ui) in FAMILIES.items())
        print(f"usage: scale_curve.py <family> [sizes...]\nfamilies: {listing}", file=sys.stderr)
        sys.exit(2)
    name = sys.argv[1]
    fn, defaults, ui = FAMILIES[name]
    sizes = [int(a) for a in sys.argv[2:]] or defaults
    spark = get_spark(
        app_name=f"scale-curve-{name}",
        extra_conf={"spark.ui.enabled": "true"} if ui else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn(spark, sizes)


if __name__ == "__main__":
    main()
