"""Shared plumbing for the benchmark: run directory, Spark session,
resident-memory sampling, spans and statistics.

Everything here lives outside ``rdf_spark``: the benchmark measures the
library from the outside, through its public functions, the spans it
records around each call into a layer, and Spark's event log.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

RUNS_DIR = ".perfbench_runs"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_probe(reps: int = 5) -> list[float]:
    """Walls of a fixed pure-Python loop, run in the driver while no
    Spark session is up: how fast the host runs right now, measured
    without the library or Spark."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        walls.append(time.perf_counter() - t0)
    return walls


def du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


class RunDir:
    """A fresh directory per run under ``.perfbench_runs`` of the
    working directory.  Bulky outputs go under ``data/``, which is
    removed at the end; ``spans.json`` and ``run.json`` stay."""

    def __init__(self, workload: str, seed: int, trace: bool):
        stamp = time.strftime("%Y%m%dT%H%M%S")
        name = f"{workload}-seed{seed}-{'trace' if trace else 'plain'}-{stamp}-{os.getpid()}"
        self.root = os.path.abspath(os.path.join(RUNS_DIR, name))
        self.data = os.path.join(self.root, "data")
        os.makedirs(self.data)
        self._n = 0

    def fresh(self, stem: str) -> str:
        """A path that no earlier step of this run has used."""
        self._n += 1
        return os.path.join(self.data, f"{stem}-{self._n}")

    def write_json(self, name: str, obj) -> None:
        with open(os.path.join(self.root, name), "w") as f:
            json.dump(obj, f, indent=1, default=str)

    def cleanup(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)


def configure_env(run: RunDir, event_log: str | None) -> None:
    """Environment the library's ``session.get_spark`` and its JVM pick
    up: all scratch space inside the run directory, ``local[nproc]``,
    and, for traced runs, an uncompressed single-file event log."""
    tmp = os.path.join(run.root, "tmp")
    local = os.path.join(run.root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cwd = os.getcwd()
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = cwd + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # the library defaults to an 8g driver heap; 2g holds every workload
    # here and keeps the JVM's footprint small on a shared machine
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join("--conf " + shlex.quote(f"{k}={v}") for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    from rdf_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    wait_children()


def _children_of(pid: int) -> list[int]:
    out = []
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    stack = [pid]
    while stack:
        for c in tree.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def wait_children(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        kids = [p for p in _children_of(os.getpid()) if not _is_zombie(p)]
        if not kids:
            return
        time.sleep(0.2)
    for p in _children_of(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Python driver, the driver JVM and the Python workers it forks),
    sampled from /proc every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_bytes(me) + sum(_rss_bytes(p) for p in _children_of(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory spans (id, name, start, end, parent) in epoch seconds,
    so they line up with the event log's job times.  Disabled tracers
    record nothing; the timed loops use their own clocks either way."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
