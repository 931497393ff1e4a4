"""Session start, sandboxing, sampling and checks shared by all workloads.

Everything a run writes goes under ``perfbench/.work/`` of the checkout
(Spark scratch, the warehouse, temp files, streaming checkpoints) or
``perfbench/.out/`` (the full result records). The engine's
session-scoped layout copies and drain checkpoints go to ``/dev/shm`` by
the engine's own choice; :class:`ShmJanitor` removes the ones a run
created, so a run leaves nothing behind.
"""

from __future__ import annotations

import functools
import glob
import importlib.util
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "open_rust_timeseries_db_spark"
SF = 0.01
# The engine's test fixture tables at this scale, copied verbatim.
DATA_DIR = BENCH_DIR / "fixtures" / f"sf{SF}"
WORK_ROOT = BENCH_DIR / ".work"


class MissingEngine(RuntimeError):
    """The checkout holds no engine to benchmark."""


class Ledger:
    """Attempted and failed operations, with the reason for each failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[dict] = []

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op: str, name: str, reason: str, count: int = 1) -> None:
        self.failures.append(
            {"op": op, "name": name, "reason": reason[:300], "count": count}
        )

    @property
    def failed(self) -> int:
        return sum(f["count"] for f in self.failures)


def require_engine() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise MissingEngine(f"no {PACKAGE} package next to {BENCH_DIR.name}/")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(cpus: int, work: Path) -> None:
    """Point the engine's scratch paths into ``work`` and make the
    package importable in Python workers started from any directory.

    These are the engine's own environment knobs (``session.get_spark``
    reads them) plus temp-dir paths; no Spark conf is set here.
    """
    for sub in ("local", "warehouse", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    # The JVM's own temp files (extracted native libraries, Spark's
    # driver temp dir) follow java.io.tmpdir, not TMPDIR.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    """``get_spark()`` plus the registry import: what a new session pays
    before its first query. Returns (spark, queries, seconds)."""
    t0 = time.perf_counter()
    from open_rust_timeseries_db_spark.queries import all_queries
    from open_rust_timeseries_db_spark.session import get_spark

    spark = get_spark()
    queries = all_queries()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, queries, elapsed


class ShmJanitor:
    """Removes the ``/dev/shm/spark-graft-*`` entries created during a run."""

    PATTERN = "/dev/shm/spark-graft-*"

    def __init__(self) -> None:
        self.before = set(glob.glob(self.PATTERN))

    def clean(self) -> None:
        for path in set(glob.glob(self.PATTERN)) - self.before:
            shutil.rmtree(path, ignore_errors=True)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``interval`` s.

    A process counts from the second sample that finds it. A child the
    JVM has just spawned shares the JVM's address space until it execs,
    and reads as a second copy of the JVM's RSS in that instant."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._seen: set[int] = {os.getpid()}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        pids = set(_tree_pids(os.getpid()))
        total = sum(_rss_bytes(p) for p in pids & self._seen)
        self._seen = pids | {os.getpid()}
        self.peak = max(self.peak, total)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def wait_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if len(_tree_pids(os.getpid())) <= 1:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def stop_jvm() -> None:
    """Close the py4j gateway's JVM and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:  # connection already gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def above(values: list[float], threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def median(values: list[float]) -> float:
    return statistics.median(values)


@functools.cache
def _driver_sim():
    """``scripts/driver_sim.py``, whose ``value_hash`` is the comparison
    the benchmark's correctness check uses."""
    path = ROOT / "scripts" / "driver_sim.py"
    spec = importlib.util.spec_from_file_location("perfbench_driver_sim", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def frame_digest(pdf) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted columns, value hash): the three checks of
    ``scripts/driver_sim.py``."""
    return len(pdf), tuple(sorted(pdf.columns)), _driver_sim().value_hash(pdf)


def host_facts(spark, cpus: int, seed: int) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "spark_cpus": cpus,
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf": SF,
        "seed": seed,
    }
