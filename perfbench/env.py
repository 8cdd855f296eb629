"""Host-aware Spark session, per-run working directory and process-tree
bookkeeping for the benchmark.

Everything a run writes (Spark local dirs, JVM temp files, the warehouse,
the event log, the generated corpus and the indexes) lives in one run
directory under the checkout, removed in ``finally`` whatever happens.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

#: root of the runs' working directories inside the checkout
RUNS_DIR = ".perfbench_tmp"


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb(ram_gb: float) -> int:
    """An eighth of RAM, 1 to 4 GB: local mode runs every executor inside the
    one Spark JVM, and the host is shared. This is the maximum heap; the JVM
    grows into it as the engine needs, so heap growth shows in peak RSS."""
    return max(1, min(4, int(ram_gb // 8)))


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (JVM, Python daemon and workers)."""
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssMeter:
    """Σ VmHWM over this process and its descendants. Each process's high-
    water mark is kept from the last time it was seen alive, so workers that
    exit between samples still count."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}
        self.kind: dict[int, str] = {}

    def sample(self) -> None:
        for pid in [os.getpid(), *descendants(os.getpid())]:
            kb = _vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb
            if pid not in self.kind:
                self.kind[pid] = _kind(pid)

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def breakdown(self) -> str:
        """'kind: processes / MB' per kind of process, for the log."""
        agg: dict[str, list[float]] = {}
        for pid, kb in self.peak_kb.items():
            a = agg.setdefault(self.kind.get(pid, "?"), [0, 0.0])
            a[0] += 1
            a[1] += kb / 1024.0
        return ", ".join(f"{k}: {n} / {mb:.0f} MB"
                         for k, (n, mb) in sorted(agg.items()))


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "benchmark"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().split(b"\0")
    except OSError:
        return "?"
    if cmd[0].endswith(b"java"):
        return "jvm"
    return ("python worker" if b"python" in cmd[0]
            else cmd[0].decode(errors="replace"))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has ended; SIGKILL what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not end: {left}")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


class SparkRun:
    """Context manager: run directory + ``local[nproc]`` SparkSession.

    On exit it stops the session, closes the JVM gateway, waits for the JVM
    and every Python worker to end, and deletes the run directory."""

    def __init__(self, checkout: Path, event_log: bool) -> None:
        self.checkout = checkout
        self.event_log = event_log
        self.cpus = host_cpus()
        self.ram_gb = host_ram_gb()
        self.dir = checkout / RUNS_DIR / f"run-{os.getpid()}-{time.time_ns()}"
        self.spark = None

    @property
    def event_log_dir(self) -> Path:
        return self.dir / "eventlog"

    def __enter__(self) -> "SparkRun":
        try:
            self._start()
        except BaseException:
            self._cleanup()
            raise
        return self

    def _start(self) -> None:
        for sub in ("spark", "tmp", "warehouse", "eventlog"):
            (self.dir / sub).mkdir(parents=True)
        # Python-side temp files and the workers' import path; the JVM and
        # its Python workers inherit this environment
        os.environ["TMPDIR"] = str(self.dir / "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.checkout), os.environ.get("PYTHONPATH"))
            if p)
        # no hsperfdata files in the system temp directory, from the
        # spark-submit launcher JVM or the Spark JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        from pyspark.sql import SparkSession
        tmp = self.dir / "tmp"
        heap = f"{heap_gb(self.ram_gb)}g"
        b = (SparkSession.builder.master(f"local[{self.cpus}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(self.cpus))
             .config("spark.driver.memory", heap)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", str(self.dir / "spark"))
             .config("spark.sql.warehouse.dir", str(self.dir / "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     "-XX:-UsePerfData "
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .config("spark.eventLog.enabled", str(self.event_log).lower()))
        if self.event_log:
            b = (b.config("spark.eventLog.dir",
                          self.event_log_dir.as_uri())
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its workers have ended.
        Safe to call twice; the event log is complete once this returns."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        # workers are the JVM's children and are re-parented when it exits:
        # remember them now so that we can wait for them afterwards
        tree = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            _wait_gone(set(tree) | set(descendants(os.getpid())))

    def _cleanup(self) -> None:
        try:
            self.stop()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                self.dir.parent.rmdir()  # only when no other run uses it
            except OSError:
                pass

    def __exit__(self, *exc) -> None:
        self._cleanup()
