"""Shared pieces of the benchmark: metric names and units, the host setup
the engine session is launched with, the session lifecycle, the output
fold used to check results, and process-tree memory.

Nothing here changes engine behaviour: the session is built with the
engine's own ``get_spark`` and every measurement is taken from outside,
through public Spark and engine APIs.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data"
# Driver heap for a 4-core, 15 GB host shared with other tenants; the
# engine default (16g) is sized for the 128 GB development host.
DRIVER_MEM = "2g"

LAKE_QUERIES = [
    "q05_region_revenue",
    "window_lag_running",
    "grouped_map_normalize",
]
STREAMS = [
    "stream_dedup_expiry",
]
WALLET_STAGES = [
    "sense",
    "promote_processing",
    "delete_landing",
    "parse_curated",
    "delete_processing",
    "features_serving",
    "load_dw",
]

# name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "pass_cpu_s": ("s", "lower"),
    "ok_ratio": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        "session.start_s": ("s", "lower"),
        "session.conf_changed": ("count", "lower"),
        "session.leaked_rdds": ("count", "lower"),
    }
    for st in WALLET_STAGES:
        m[f"flows.{st}_s"] = ("s", "lower")
    m["pipeline.attempts"] = ("count", "lower")
    for z in ("processing", "curated", "serving"):
        m[f"zones.{z}_bytes"] = ("bytes", "lower")
    m["zones.files"] = ("count", "lower")
    m["zones.write_amp"] = ("ratio", "lower")
    m["jdbc.rows"] = ("count", "higher")
    m["jdbc.rows_per_s"] = ("1/s", "higher")
    for q in LAKE_QUERIES:
        for k in ("build_s", "plan_s", "exec_s"):
            m[f"queries.{q}.{k}"] = ("s", "lower")
        m[f"queries.{q}.jobs"] = ("count", "lower")
        m[f"queries.{q}.tasks"] = ("count", "lower")
    for q in STREAMS:
        m[f"streaming.{q}.first_batch_s"] = ("s", "lower")
        m[f"streaming.{q}.batches"] = ("count", "lower")
        m[f"streaming.{q}.add_batch_s"] = ("s", "lower")
        m[f"streaming.{q}.overhead_s"] = ("s", "lower")
    m["trace.pass_s"] = ("s", "lower")
    m["trace.ready_s"] = ("s", "lower")
    m["trace.overhead_pct"] = ("%", "lower")
    return m


PER_LAYER = _per_layer()

# Input size per scale: (sf dir, wallet rows, wallet variants). "full" is
# what a measured run uses; "smoke" is the seconds-long self-test. The
# wallet CSV is generated from ``seed % variants``, and every variant has a
# pin in pins.json, so every seed's serving output is checked exactly.
SCALES = {"full": ("sf0.01", 50_000, 32), "smoke": ("sf0.001", 5_000, 3)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class PassResult:
    """One closed-loop pass of a workload."""

    seconds: float
    cpu_s: float = 0.0
    ready: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # per-layer values of this pass, and the seconds spent collecting
    # them; filled only by traced passes
    layer: dict[str, float] = field(default_factory=dict)
    hook_s: float = 0.0


class HostSetup:
    """The pinned host setup: a private work dir inside the checkout and
    the environment the engine's JVM and Python workers inherit.

    Everything the run writes (zones, Spark local dirs, JVM temp files,
    stream checkpoints, Derby's log) lands under ``work`` and is removed
    by ``cleanup``."""

    def __init__(self) -> None:
        self.work = REPO_ROOT / ".perfbench_work" / str(os.getpid())
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse"):
            (self.work / sub).mkdir(parents=True)
        self.cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        # pandas-UDF workers import the engine by module path: without the
        # repo root on their path they fail with ModuleNotFoundError when
        # the benchmark is launched from anywhere but the repo root.
        old = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(REPO_ROOT) + (os.pathsep + old if old else "")
        os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")

    def spark_conf(self) -> dict[str, str]:
        w = self.work
        return {
            # A fixed, pre-touched heap: with a growable heap, G1's sizing
            # made the peak RSS of identical runs differ by 30%, and with a
            # fixed one, how much of it a pass touched still moved it by 15%.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={w}/tmp "
                f"-Dderby.stream.error.file={w}/derby.log -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there


def start_session(host: HostSetup):
    from cyrela_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=host.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every process
    it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    alive = [p for p in children if _exists(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _exists(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _exists(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name may hold spaces: ppid follows its ')'
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return parent


def _descendants(root: int) -> list[int]:
    parent = _parents()
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including their reaped children: the driver JVM and
    its Python workers. Time the host's hypervisor steals is not in it."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) of this process and the driver JVM
    it launched. Python workers are left out: how many are alive at the
    end depends on task timing, and counting them made identical runs
    differ by 25%."""
    me = os.getpid()
    total_kb = 0
    for pid in [me, *(c for c, pp in _parents().items() if pp == me)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def fold_frame(df):
    """One-row (row count, sum of per-row xxhash64 over every column)
    frame: full materialization of every output column, folded on the
    executors. Evaluated in the engine session, whose ANSI mode is off, so
    the 64-bit sum wraps instead of raising ARITHMETIC_OVERFLOW."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    )


def fold_row(row) -> list[int]:
    """The pinned form of a ``fold_frame`` row: [rows, fold]."""
    return [int(row["n"]), int(row["h"] or 0)]


def fold(df) -> list[int]:
    return fold_row(fold_frame(df).collect()[0])


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under a local zone path, skipping Spark's
    ``_SUCCESS`` markers and hidden checksum files."""
    size = files = 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
