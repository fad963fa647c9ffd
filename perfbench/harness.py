"""Shared plumbing for the workloads: session, spans, job counts, CPU, stats.

Everything here observes the package from outside: spans wrap calls
into public functions, Spark job counts come from job groups read back
through ``statusTracker()``, and CPU time comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work_dir: str) -> None:
    """Size Spark to the machine and keep every scratch file in ``work_dir``.

    ``get_spark()`` defaults to local[32]; on a small box that is several
    times oversubscribed, so the benchmark passes the real core count.
    """
    n = str(cpu_count())
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = n
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = n
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # Python workers unpickle the benchmark's fold handlers by module name.
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = here + (os.pathsep + path if path else "")


def start_spark(work_dir: str, event_log: bool):
    from eventsourcing_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        # one plain JSON-lines file, readable with the stdlib
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and the Python workers, and wait for them.

    ``spark.stop()`` leaves the JVM running for reuse; it exits when its
    stdin closes, and the workers exit with it.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {sorted(started)}")
        time.sleep(0.1)


def _descendants(root: int) -> set[int]:
    kids = _proc_children()
    out, todo = set(), list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, []))
    return out


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- statistics
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def setup_median(times: list[float]) -> tuple[float, int]:
    """Median set-up time, leaving out the first repetition.

    The first set-up in a process also pays Spark's code generation and
    the JIT for its plans (4-5x a later one, varying with machine load);
    the later repetitions measure the program's own set-up work.
    """
    return median(times[1:]), len(times) - 1


# --------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, op id), written at exit.

    Disabled tracers record nothing; the end-to-end runs use one so the
    traced run's extra cost can be read as traced minus untraced.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # the live phase traces from two threads
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out


# ------------------------------------------------------------------ jobs
class JobCounter:
    """Counts Spark jobs per job group through the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self, prefix: str):
        self._n += 1
        gid = f"{prefix}-{self._n}"
        self.sc.setJobGroup(gid, prefix)
        box = {}
        try:
            yield box
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            box["jobs"] = len(self.tracker.getJobIdsForGroup(gid))


# ------------------------------------------------------------------- CPU
def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_of(pid: int, with_reaped: bool) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if with_reaped:
        ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
    return ticks / CLK_TCK


def _cmdline(pid: int) -> str:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().replace(b"\0", b" ").decode(errors="replace")


def cpu_snapshot() -> dict[str, float]:
    """CPU seconds of the driver, the JVM and the Python workers so far.

    Reaped children count through their parent's ``cutime``: the
    daemon reaps its workers, so worker time survives worker exit.
    """
    me = os.getpid()
    out = {"driver": _cpu_of(me, False), "jvm": 0.0, "py_workers": 0.0}
    kids = _proc_children()
    todo = [(pid, False) for pid in kids.get(me, [])]
    while todo:
        pid, under_daemon = todo.pop()
        try:
            cmd = _cmdline(pid)
        except OSError:
            continue
        try:
            if under_daemon:
                # forked workers share the daemon's command line
                out["py_workers"] += _cpu_of(pid, False)
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                out["py_workers"] += _cpu_of(pid, True)
                under_daemon = True
            elif "java" in cmd.split(" ", 1)[0]:
                out["jvm"] += _cpu_of(pid, False)
        except OSError:  # the process ended between listing and reading
            continue
        todo.extend((k, under_daemon) for k in kids.get(pid, []))
    return out


# -------------------------------------------------------------- event log
def parse_event_log(log_dir: str, window: tuple[float, float]) -> dict[str, dict]:
    """Per job group, for jobs submitted inside ``window`` (epoch seconds):
    job count, job wall seconds, task CPU seconds and shuffle bytes
    read plus written, from Spark's JSON event log."""
    groups: dict[str, dict] = {}
    job_of_stage: dict[int, int] = {}
    jobs: dict[int, tuple[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    if not window[0] <= t <= window[1]:
                        continue
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    jobs[ev["Job ID"]] = (gid, t)
                    for sid in ev.get("Stage IDs", []):
                        job_of_stage[sid] = ev["Job ID"]
                    _group(groups, gid)["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    gid, t = jobs[ev["Job ID"]]
                    _group(groups, gid)["job_s"] += ev["Completion Time"] / 1000.0 - t
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in job_of_stage:
                    gid = jobs[job_of_stage[ev["Stage ID"]]][0]
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    g = _group(groups, gid)
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_bytes"] += (rd.get("Remote Bytes Read", 0)
                                           + rd.get("Local Bytes Read", 0)
                                           + wr.get("Shuffle Bytes Written", 0))
    return groups


def _group(groups: dict, gid: str) -> dict:
    return groups.setdefault(
        gid, {"jobs": 0, "job_s": 0.0, "task_cpu_s": 0.0, "shuffle_bytes": 0})


def cpu_layers(before: dict, after: dict) -> dict:
    return {f"cpu.{k}_s": (after[k] - before[k], 1) for k in ("driver", "jvm", "py_workers")}
