"""Shared plumbing for the workloads: work directory, Spark session, host
conditions, the CPU canary, process-tree RSS sampling and statistics.

Everything a run writes lives under ``<checkout>/.perfbench_work``; the
environment variables set here keep Spark's and Python's scratch files
there too.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tag: str) -> str:
    """Fresh work directory for this run; route every scratch location of
    the JVM, Spark and Python into it. Returns the run directory."""
    run_dir = os.path.join(WORK, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # java.io.tmpdir for the driver JVM; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", HEAP)
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return run_dir


def drop_data(run_dir: str) -> None:
    """Delete a finished run's tables and scratch; keep its record and
    span dump."""
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def start_session(app: str):
    """The package's own session builder at ``nproc`` cores — no
    benchmark-side Spark settings."""
    from binlog_es_go_spark.session import build_session

    spark = build_session(app, parallelism=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started have
    exited. The gateway JVM ends when its stdin closes, which otherwise
    happens only as this process exits."""
    from pyspark import SparkContext

    spark.stop()
    me = os.getpid()
    started = [int(k.split(":")[0]) for k in _tree_rss_kb(me) if int(k.split(":")[0]) != me]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Running or sleeping; an exited process left as a zombie counts as
    ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def canary_s() -> float:
    """Single-core CPU canary: a fixed pure-Python integer loop. Recorded
    before and after each run so contended runs can be recognised; it
    never gates a result."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _tree_rss_kb(root_pid: int) -> dict[str, int]:
    """VmRSS (kB) of ``root_pid`` and each of its descendants, keyed
    ``"<pid>:<name>"``. A child caught between vfork and exec shares its
    parent's address space (same VmSize and VmRSS) and is not counted."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int, int]] = {}  # pid -> (name, VmSize, VmRSS)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                name, ppid, size, kb = "", 0, 0, 0
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmSize:"):
                        size = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        pid = int(entry)
        info[pid] = (name, size, kb)
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [(root_pid, None)]
    while todo:
        pid, parent = todo.pop()
        if pid not in info:
            continue
        name, size, kb = info[pid]
        if parent is None or (size, kb) != info[parent][1:]:
            out[f"{pid}:{name}"] = kb
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


class RssSampler:
    """Background sampler of the benchmark process tree's peak RSS
    (Python driver + JVM + Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_procs: dict[str, int] = {}  # per-process RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = _tree_rss_kb(os.getpid())
        total = sum(procs.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_procs = total, procs

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


class Failures:
    """Counts attempted and failed operations/checks; keeps the first few
    failure messages for the run record."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok
