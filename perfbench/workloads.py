"""The two closed-loop workloads. Each runs one operation at a time and
checks every output it produces against its pin.

A workload is built once per run (its inputs are made from the seed
then) and driven pass by pass through ``run_pass``. A traced pass also
fills ``PassResult.layer`` with per-layer numbers taken from outside the
engine: the benchmark's own timers around public calls, job groups read
back through ``statusTracker()``, and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import random
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict
from datetime import date, datetime, timedelta

from harness import (
    DATA_DIR,
    LAKE_QUERIES,
    SCALES,
    STREAMS,
    PassResult,
    dir_bytes_files,
    fold,
    fold_frame,
    fold_row,
    tree_cpu_s,
)

WALLET_KEY = "cyrela/wallet-data.csv"
WALLET_COLUMNS = [
    "empresa", "marca", "empreendimento", "cliente", "regional", "obra", "bloco",
    "unidade", "dt_venda", "dt_chaves", "carteira_sd_gerencial", "saldo_devedor",
    "data_base", "total_atraso", "faixa_de_atraso", "dias_atraso",
    "valor_pago_atualizado", "valor_pago", "status", "dt_reneg", "descosn", "vaga", "vgv",
]


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _dates(start: date, n: int) -> list[str]:
    return [(start + timedelta(days=d)).strftime("%d/%m/%Y") for d in range(n)]


def write_wallet_csv(path, rows: int, seed: int) -> None:
    """The 23-column wallet feed as one header'd CSV file, every value
    drawn from ``seed``: dd/MM/yyyy dates, negative delinquency days,
    two-decimal money (the shape of the reference corpus)."""
    rnd = random.Random(seed)
    venda, chaves, base = _dates(date(2015, 1, 1), 3000), _dates(date(2017, 1, 1), 3000), _dates(
        date(2020, 1, 1), 365
    )
    brands = ("Cyrela", "Living", "Vivaz", "Other")
    regions = ("SP", "RJ", "MG", "RS")
    status = ("ATIVO", "QUITADO", "DISTRATO", "ATIVO")
    with open(path, "w") as fh:
        fh.write(",".join(WALLET_COLUMNS) + "\n")
        for i in range(rows):
            a, b, c = rnd.getrandbits(64), rnd.getrandbits(64), rnd.getrandbits(64)
            fh.write(
                f"{a % 97 + 1},{brands[(a >> 7) & 3]},emp{(a >> 9) % 50},cli{i},"
                f"{regions[(a >> 15) & 3]},{(a >> 17) % 211 + 1},{(a >> 25) % 17 + 1},"
                f"{(a >> 30) % 401 + 1},{venda[(a >> 39) % 3000]},{chaves[b % 3000]},"
                f"{(b >> 12) % 100000},{(b >> 29) % 100_000_000 / 100:.2f},"
                f"{base[(c >> 3) % 365]},{(c >> 12) % 9_000_000 / 100:.2f},{(c >> 36) % 6},"
                f"{-((c >> 40) % 400)},{(c >> 49) % 8_000_000 / 100:.2f},"
                f"{(b >> 56) * 27_451 / 100:.2f},{status[c & 3]},,,,"
                f"{(a >> 48) * 3_000 / 100:.2f}\n"
            )


class WalletEtl:
    """The paper's pipeline: one landed wallet CSV driven through all seven
    ``wallet_flow`` stages, sense to load_dw, into a fresh zone store and
    a fresh in-memory Derby warehouse per pass."""

    name = "wallet_etl"

    def __init__(self, spark, host, seed: int, scale: str, pins: dict) -> None:
        self.spark, self.host = spark, host
        _sf, self.rows, variants = SCALES[scale]
        self.variant = seed % variants
        self.src = host.work / "wallet-data.csv"
        write_wallet_csv(self.src, self.rows, self.variant)
        # A variant without a pin fails every pass: the serving output is
        # only ever checked against a pin, never against itself.
        self.pin = pins.get("wallet", {}).get(str(self.rows), {}).get(str(self.variant))
        self.observed: list[int] | None = None
        self.n = 0

    def run_pass(self, traced: bool) -> PassResult:
        from cyrela_etl_spark.flows import wallet_flow
        from cyrela_etl_spark.pipeline import PipelineError
        from cyrela_etl_spark.sources.zones import ZoneStore

        self.n += 1
        self.observed = None
        root = self.host.work / f"lake{self.n}"
        (root / "landing" / "cyrela").mkdir(parents=True)
        shutil.copyfile(self.src, root / "landing" / WALLET_KEY)
        db = f"memory:perfbench_wh{self.n}"
        store = ZoneStore(self.spark, str(root))
        # skip_first_data_row=False: the default (True) raises in
        # parse_curated as soon as promote_processing writes more than one
        # part file, which it does at this size on 4 cores.
        pipe = wallet_flow(
            self.spark, store, key=WALLET_KEY, skip_first_data_row=False,
            jdbc_url=f"jdbc:derby:{db};create=true",
        )
        res = PassResult(0.0, attempted=1)
        zones: dict[str, tuple[int, int]] = {}
        if traced:
            _observe_deletes(pipe, store, zones, res)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            stages = pipe.run()
        except PipelineError:
            res.seconds = time.perf_counter() - t0
            res.failed = 1
            _log(f"wallet pass {self.n} failed:\n{traceback.format_exc()}")
            self._drop(db, root)
            return res
        res.seconds = time.perf_counter() - t0
        res.cpu_s = tree_cpu_s() - c0
        by = {s.name: s for s in stages}
        # The serving zone is ready when features_serving returns; load_dw
        # runs after it here, but is a parallel branch in the reference DAG.
        ready = 0.0
        for s in stages:
            ready += s.seconds
            if s.name == "features_serving":
                break
        res.ready.append(ready)

        serving = self.spark.read.option("header", "true").csv(by["features_serving"].value)
        derby_rows = (
            self.spark.read.format("jdbc")
            .option("url", f"jdbc:derby:{db}")
            .option("query", "SELECT COUNT(*) AS n FROM wallet")
            .load()
            .collect()[0][0]
        )
        got = self.observed = fold(serving) + [derby_rows]
        if got != self.pin:
            res.failed = 1
            _log(f"wallet pass {self.n} (variant {self.variant}): got {got}, want {self.pin}")
        if traced:
            t = time.perf_counter()
            res.layer.update(self._layer(stages, store, zones, derby_rows))
            res.hook_s += time.perf_counter() - t
        self._drop(db, root)
        return res

    def _layer(self, stages, store, zones, derby_rows: int) -> dict[str, float]:
        out = {f"flows.{s.name}_s": s.seconds for s in stages}
        out["pipeline.attempts"] = sum(s.attempts for s in stages)
        landing_bytes = zones["landing"][0]
        sizes = {
            "processing": zones["processing"],
            "curated": dir_bytes_files(store.path("curated", "cyrela/wallet")),
            "serving": dir_bytes_files(store.path("serving", "cyrela/wallet")),
        }
        for z, (size, _files) in sizes.items():
            out[f"zones.{z}_bytes"] = size
        out["zones.files"] = sum(f for _s, f in sizes.values())
        out["zones.write_amp"] = sum(s for s, _f in sizes.values()) / landing_bytes
        out["jdbc.rows"] = derby_rows
        out["jdbc.rows_per_s"] = derby_rows / next(s.seconds for s in stages if s.name == "load_dw")
        return out

    def _drop(self, db: str, root) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            self.spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};drop=true")
        except Py4JJavaError:
            pass  # Derby reports a successful drop as SQLState 08006
        shutil.rmtree(root, ignore_errors=True)


def _observe_deletes(pipe, store, zones: dict, res: PassResult) -> None:
    """Record a zone's bytes and files just before the flow deletes it
    (the landing file and the processing CSV never outlive the pass)."""
    for st in pipe.stages:
        zone = {"delete_landing": "landing", "delete_processing": "processing"}.get(st.name)
        if zone is None:
            continue

        def measured(ctx, _fn=st.fn, _zone=zone):
            t = time.perf_counter()
            zones[_zone] = dir_bytes_files(store.path(_zone, WALLET_KEY))
            res.hook_s += time.perf_counter() - t
            return _fn(ctx)

        st.fn = measured


class _RegistryWorkload:
    """Runs named registry queries over the bundled TPC-H-like tables in a
    fixed order. The seed changes nothing: the first operation in a JVM
    pays the most warm-up, so a seed-permuted order moved pass times by up
    to 25% between seeds and hid real changes."""

    items: list[str] = []

    def __init__(self, spark, host, seed: int, scale: str, pins: dict) -> None:
        from cyrela_etl_spark.queries import load_all

        self.spark = spark
        sf = SCALES[scale][0]
        self.sf_dir = str(DATA_DIR / sf)
        self.pins = pins.get("results", {}).get(sf, {})
        self.registry = load_all()
        self.order = list(self.items)
        self.observed: dict[str, list[int] | None] = {}
        self.n = 0


class LakeQueries(_RegistryWorkload):
    """A read-and-shuffle analytic mix: each query is timed to full
    materialization of every column and followed by ``clearCache()``."""

    name = "lake_queries"
    items = LAKE_QUERIES

    def run_pass(self, traced: bool) -> PassResult:
        self.n += 1
        res = PassResult(0.0)
        c_pass, t_pass = tree_cpu_s(), time.perf_counter()
        for name in self.order:
            res.attempted += 1
            res.failed += not self._one(name, traced, res)
        res.seconds = time.perf_counter() - t_pass
        res.cpu_s = tree_cpu_s() - c_pass
        return res

    def _one(self, name: str, traced: bool, res: PassResult) -> bool:
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{self.n}"
        if traced:
            t = time.perf_counter()
            sc.setJobGroup(group, name)
            res.hook_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            df = self.registry[name][0](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            agg = fold_frame(df)
            if traced:
                agg._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            got = fold_row(agg.collect()[0])
            t3 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failing query is counted; the loop goes on
            _log(f"{name} failed:\n{traceback.format_exc()}")
            return False
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spark.catalog.clearCache()
        if traced:
            t = time.perf_counter()
            jobs, tasks = _group_work(sc, group)
            res.hook_s += time.perf_counter() - t
            res.layer.update({
                f"queries.{name}.build_s": t1 - t0,
                f"queries.{name}.plan_s": t2 - t1,
                f"queries.{name}.exec_s": t3 - t2,
                f"queries.{name}.jobs": jobs,
                f"queries.{name}.tasks": tasks,
            })
        self.observed[name] = got
        ok = got == self.pins.get(name)
        if not ok:
            _log(f"{name}: got {got}, want {self.pins.get(name)}")
        return ok


def _group_work(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under one job group."""
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            st = tracker.getStageInfo(sid)
            tasks += st.numCompletedTasks if st else 0
    return len(ids), tasks


class _StreamEvents:
    """Collects streaming query events; the listener itself is built in
    ``StreamDrain`` because its base class needs an importable pyspark."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.started: list[tuple[datetime, str]] = []
            self.progress: dict[str, list[tuple[int, datetime, dict]]] = defaultdict(list)
            self.terminated: set[str] = set()


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


class StreamDrain(_RegistryWorkload):
    """The headline Structured Streaming queries, each draining the events
    table with ``Trigger.AvailableNow`` into its sink. Per-batch durations
    come from a ``StreamingQueryListener`` the benchmark registers. It is
    on in untraced runs too, so that both kinds of run do the same work and
    the readable summary can show each pass's first-batch time."""

    name = "stream_drain"
    items = STREAMS

    def __init__(self, spark, host, seed: int, scale: str, pins: dict) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        super().__init__(spark, host, seed, scale, pins)
        events = self.events = _StreamEvents()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, e):
                with events.lock:
                    events.started.append((_ts(e.timestamp), str(e.runId)))

            def onQueryProgress(self, e):
                p = e.progress
                with events.lock:
                    events.progress[str(p.runId)].append((p.batchId, _ts(p.timestamp), dict(p.durationMs)))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with events.lock:
                    events.terminated.add(str(e.runId))

        spark.streams.addListener(Listener())

    def run_pass(self, traced: bool) -> PassResult:
        self.n += 1
        self.events.reset()
        res = PassResult(0.0)
        c_pass, t_pass = tree_cpu_s(), time.perf_counter()
        for name in self.order:
            res.attempted += 1
            try:
                got = fold(self.registry[name][0](self.spark, self.sf_dir))
            except Exception:  # noqa: BLE001 — a failing stream is counted; the loop goes on
                _log(f"{name} failed:\n{traceback.format_exc()}")
                got = None
            finally:
                self.spark.catalog.clearCache()
            self.observed[name] = got
            if got != self.pins.get(name):
                res.failed += 1
                _log(f"{name}: got {got}, want {self.pins.get(name)}")
        res.seconds = time.perf_counter() - t_pass
        res.cpu_s = tree_cpu_s() - c_pass
        per_stream = self._batches()
        for name, (first, batches, add, total) in per_stream.items():
            res.ready.append(first)
            if traced:
                res.layer.update({
                    f"streaming.{name}.first_batch_s": first,
                    f"streaming.{name}.batches": batches,
                    f"streaming.{name}.add_batch_s": add,
                    f"streaming.{name}.overhead_s": total - add,
                })
        return res

    def _batches(self) -> dict[str, tuple[float, int, float, float]]:
        """Per stream: (start to end of first batch, batches, addBatch
        seconds, triggerExecution seconds). Streams run one at a time and
        each starts one query, so the pass order names the queries in
        start order. Waits for the listener bus to deliver every event."""
        deadline = time.monotonic() + 30
        while True:
            with self.events.lock:
                started = sorted(self.events.started)
                done = len(started) == len(self.order) and all(
                    r in self.events.terminated for _t, r in started
                )
                progress = dict(self.events.progress)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not done:
            _log(f"stream listener saw {len(started)} queries for {len(self.order)} streams")
            return {}
        out = {}
        for name, (t_start, run) in zip(self.order, started):
            batches = sorted(progress.get(run, []), key=lambda b: b[0])
            if not batches:
                continue
            _bid, t_first, d_first = batches[0]
            first = (t_first - t_start).total_seconds() + d_first.get("triggerExecution", 0) / 1000
            add = sum(d.get("addBatch", 0) for _b, _t, d in batches) / 1000
            total = sum(d.get("triggerExecution", 0) for _b, _t, d in batches) / 1000
            out[name] = (first, len(batches), add, total)
        return out


class Analytics:
    """The read side of the lake: every lake query, then every stream
    drain, in one pass. One workload rather than two because every run
    pays a JVM launch and a cold pass, and the runs of a third workload do
    not fit the measurement budget; the ``queries`` and ``streaming``
    per-layer metrics still separate the two halves."""

    name = "analytics"

    def __init__(self, spark, host, seed: int, scale: str, pins: dict) -> None:
        self.parts = [cls(spark, host, seed, scale, pins) for cls in (LakeQueries, StreamDrain)]

    def run_pass(self, traced: bool) -> PassResult:
        res = PassResult(0.0)
        for part in self.parts:
            p = part.run_pass(traced)
            res.seconds += p.seconds
            res.cpu_s += p.cpu_s
            res.ready += p.ready
            res.attempted += p.attempted
            res.failed += p.failed
            res.layer.update(p.layer)
            res.hook_s += p.hook_s
        return res


WORKLOADS = {w.name: w for w in (WalletEtl, Analytics)}
