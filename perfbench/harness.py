"""Process plumbing for the benchmark: where it writes, how a Spark
session is booted and torn down, RSS sampling, and the environment record.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PAGE = os.sysconf("SC_PAGE_SIZE")


def prepare_env() -> None:
    """Point every scratch location of Spark and ``kg`` into the checkout
    and put the checkout on the Python workers' path."""
    for sub in ("spark-local", "warehouse", "tmp", "ops", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["KG_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM spark-submit starts: no hsperfdata file, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(
        WORK, "tmp"
    )
    # settings that would change what the pipeline does
    for var in ("KG_MASTER", "KG_TIMING", "KG_EXTRACTOR_COST", "KG_FAIL_TASK"):
        os.environ.pop(var, None)


def fresh_dir(name: str) -> str:
    path = os.path.join(WORK, "ops", name)
    shutil.rmtree(path, ignore_errors=True)
    return path


# --- process tree ---------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    found, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            found.append(c)
            stack.append(c)
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _cpu_ticks(pid: int) -> int:
    """utime + stime of the process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak RSS of the Spark JVM plus every process below it (the Python
    workers), sampled from /proc every ``interval`` seconds on one thread,
    and the CPU time that process tree used while the block ran."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        """The JVM and the Python processes below it. Other children are
        left out: a process the JVM forks to exec a tool briefly shows the
        JVM's own pages as its RSS."""
        return [self.root_pid, *filter(_is_python, descendants(self.root_pid))]

    def _tree_cpu_s(self) -> float:
        return sum(_cpu_ticks(p) for p in self._tree()) / os.sysconf("SC_CLK_TCK")

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self._tree()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._cpu0 = self._tree_cpu_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.cpu_s = self._tree_cpu_s() - self._cpu0

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --- Spark session --------------------------------------------------------


class Session:
    """One Spark session in its own JVM, booted by ``kg.session.get_spark``.

    Leaving the block stops the session, closes the JVM's stdin (its
    gateway exits on EOF) and waits until the JVM and every Python worker
    it started have ended, so the next session boots from cold."""

    def __init__(self, cores: int, extra: dict[str, str] | None = None):
        self.cores = cores
        self.extra = {"spark.local.dir": os.path.join(WORK, "spark-local"), **(extra or {})}
        self.spark = None
        self.jvm_pid = None
        self.boot_s = None

    def __enter__(self) -> "Session":
        from pyspark import SparkContext

        from kg.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench", cores=self.cores, extra=self.extra)
        self.boot_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        pids = [self.jvm_pid, *descendants(self.jvm_pid)]
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            _reap(pids)


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --- environment record ---------------------------------------------------


def stat_snapshot() -> dict:
    """bench.py's fixed single-thread CPU calibration and the /proc/stat
    (total, steal) jiffies at this moment."""
    import bench

    snap = bench._stat_snap()
    return {
        "cpu_calibration_s": bench._cpu_calibration_s(),
        "stat_jiffies": list(snap) if snap else None,
    }


def steal_pct(before: dict, after: dict) -> float | None:
    import bench

    a, b = before["stat_jiffies"], after["stat_jiffies"]
    return bench._steal_pct(tuple(a), tuple(b)) if a and b else None


def environment(cores: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "kg_tree_sha256": _tree_digest(os.path.join(ROOT, "kg")),
    }


def _tree_digest(path: str) -> str:
    """Content hash of the package sources, for checkouts without git."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(root, name)
                h.update(os.path.relpath(full, path).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def emit(tag: str, payload: dict) -> None:
    print(f"perfbench.{tag} " + json.dumps(payload, sort_keys=True), flush=True)
