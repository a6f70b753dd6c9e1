"""Run one workload in this process: set up, measure a closed loop, check,
and report.

One client in one driver process issues the next run only after the previous
one has completed.  Everything the benchmark writes goes under
``perfbench/_work`` inside the checkout (Spark's local dirs and the
interpreter's temp dir included).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work")

# how long a single invocation may keep starting new runs; the measuring
# window ends earlier, this only guards against a slow host
HARD_STOP_S = 150.0


@dataclass
class Sample:
    """One timed operation: a run."""

    wall_s: float
    rows: int
    ok: bool = True


@dataclass
class Ctx:
    seed: int
    scale: float
    work: str
    spark: object = None
    notes: dict = field(default_factory=dict)  # output-check details

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def cores_available() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, trace: bool):
    """A session built by the library's own factory with its default knobs;
    tracing adds only the uncompressed event log."""
    from sopspark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end its JVM and wait until every process started
    under this one (JVM, Python worker daemon, workers) has ended.

    ``SparkSession.stop`` leaves the gateway JVM running until the
    interpreter exits, and the JVM then shuts down on its own time; so the
    JVM's stdin is closed here (its signal to exit) and it is waited for.
    What is left (the JVM's Python workers) is found among this process's
    descendants, which ``become_subreaper`` makes them stay.
    """
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # the processes must end all the same
            print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    end_processes(descendants(os.getpid()), timeout)


def _start_time(pid: int) -> int | None:
    """Start time of a live process; ``None`` once it has ended (a zombie
    has ended: only its parent's bookkeeping is left)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return None
    fields = st[st.rfind(")") + 2 :].split()
    if fields[0] in ("Z", "X"):
        return None
    return int(fields[19])


def descendants(root: int) -> list[tuple[int, int]]:
    """Every process below ``root``, as (pid, start time) pairs (the start
    time tells a reused pid apart)."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        start = _start_time(p)
        if start is not None:
            out.append((p, start))
        todo.extend(kids.get(p, []))
    return out


def end_processes(procs, timeout: float = 30.0) -> None:
    """Terminate every (pid, start time) still running, kill what is left
    after ``timeout`` and wait until each has ended."""
    import signal

    def alive():
        return [pid for pid, start in procs if _start_time(pid) == start]

    for sig, wait_s in ((signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        left = alive()
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            reap_children()
            if not alive() or time.monotonic() >= deadline:
                break
            time.sleep(0.05)
    if alive():
        print(f"perfbench: processes still running: {alive()}", file=sys.stderr)


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM's Python workers, once the JVM has
    ended) re-parented to this process rather than to init, so that they can
    be found and reaped here (Linux only; elsewhere a no-op)."""
    try:
        import ctypes

        PR_SET_CHILD_SUBREAPER = 36
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ---------------------------------------------------------------------------
# memory: summed RSS of the driver Python process and the PySpark workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _proc_table() -> dict[int, tuple[int, str]]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        r = st.rfind(")")
        comm = st[st.find("(") + 1 : r]
        ppid = int(st[r + 2 :].split()[1])
        out[int(d)] = (ppid, comm)
    return out


def python_tree(root: int) -> list[int]:
    """``root`` plus every descendant Python process (the JVM is skipped,
    its Python worker daemon and workers are kept)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p != root and p in table and not table[p][1].startswith("python"):
            todo.extend(kids.get(p, []))  # walk through the JVM
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / (1024.0 * 1024.0)


class RssSampler:
    """Background thread sampling the Python process tree every 100 ms (the
    tree itself is re-listed every 2 s: workers start and stop rarely, and
    each listing holds the driver's interpreter lock for a few ms)."""

    def __init__(self, tracer=None, period: float = 0.1):
        self.tracer = tracer
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._th = None

    def __enter__(self):
        self.peak = 0.0
        self._stop.clear()
        self._th = threading.Thread(target=self._loop, daemon=True)
        self._th.start()
        return self

    def _loop(self):
        me = os.getpid()
        pids, refreshed = python_tree(me), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - refreshed > 2.0:
                pids, refreshed = python_tree(me), time.monotonic()
            mb = rss_mb(pids)
            if mb > self.peak:
                self.peak = mb
            if self.tracer is not None and self.tracer.enabled:
                self.tracer.sample_rss(mb)
            self._stop.wait(self.period)

    def __exit__(self, *exc):
        self._stop.set()
        self._th.join()
        return False


# ---------------------------------------------------------------------------
# host facts and summary statistics
# ---------------------------------------------------------------------------

def host_facts(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    try:
        java = spark._jvm.System.getProperty("java.version")
    except Exception:
        java = None
    return {
        "nproc": os.cpu_count(),
        "N": cores,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def cpu_times() -> list[int]:
    """Aggregate jiffies from ``/proc/stat``: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Busy and steal (time the hypervisor ran something else) shares of
    the host's CPU time between two ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {"busy_share": round(1 - (d[3] + d[4]) / total, 4), "steal_share": round(d[7] / total, 4)}


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tail_percentile(values: list[float], beyond: int = 10) -> dict:
    """The highest percentile that leaves ``beyond`` samples above it, with
    the sample count (``None`` when there are too few samples)."""
    n = len(values)
    if n <= beyond:
        return {"n": n, "pct": None, "value": None}
    xs = sorted(values)
    k = n - beyond - 1  # index with exactly `beyond` samples above it
    return {"n": n, "pct": round(100.0 * (k + 1) / n, 2), "value": xs[k]}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def emit(line_obj: dict, prefix: str | None = None) -> None:
    text = json.dumps(line_obj, sort_keys=False, default=str)
    print(f"{prefix} {text}" if prefix else text, flush=True)
