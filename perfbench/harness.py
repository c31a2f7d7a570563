"""Measurement plumbing shared by the workloads: the Spark session life
cycle, /proc readings of the driver's process tree, the span tracer and
per-operation task counts."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


# --- /proc -------------------------------------------------------------------

def _proc_table() -> dict[int, dict]:
    """pid -> {comm, ppid, cpu (own utime+stime), cpu_reaped
    (cutime+cstime), rss (bytes)} for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        rest = rest.split()
        out[int(d)] = {"comm": head.split("(", 1)[1], "ppid": int(rest[1]),
                       "cpu": int(rest[11]) + int(rest[12]),
                       "cpu_reaped": int(rest[13]) + int(rest[14]),
                       "rss": int(rest[21]) * _PAGE}
    return out


def _subtree(table: dict[int, dict], root: int) -> set[int]:
    mine = {root} if root in table else set()
    grew = True
    while grew:
        grew = False
        for pid, row in table.items():
            if row["ppid"] in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def engine_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU seconds, CPU seconds of the pyspark.daemon subtree).  The
    daemon's reaped children count too, so workers that exited between two
    readings are not lost."""
    table = _proc_table()
    jvm = table.get(jvm_pid, {}).get("cpu", 0)
    # the workers the daemon forks carry its command line too: the daemon
    # is the one whose parent is not a daemon
    daemons = {pid for pid in _subtree(table, jvm_pid) - {jvm_pid}
               if "pyspark.daemon" in _cmdline(pid)}
    py = sum(table[p]["cpu"] + table[p]["cpu_reaped"]
             for d in daemons if table[d]["ppid"] not in daemons
             for p in _subtree(table, d))
    return jvm / _HZ, py / _HZ


class PeakRss:
    """Samples the RSS of this process and all its descendants on a
    background thread and keeps high-water marks between `start` and
    `stop`: of the whole tree, of the JVM alone, and of the Python
    processes (this driver, the pyspark daemon and its workers)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        mine = _subtree(table, os.getpid())
        total = sum(table[p]["rss"] for p in mine)
        jvm = sum(table[p]["rss"] for p in mine if table[p]["comm"] == "java")
        for k, v in (("total", total), ("jvm", jvm), ("python", total - jvm)):
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> dict[str, float]:
        """Peak RSS in MB per group."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return {k: v / 2**20 for k, v in self.peak.items()}


# --- Spark session -----------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def local_dirs(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and the Python workers write inside
    the benchmark's work directory (-XX:-UsePerfData: no /tmp/hsperfdata)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def new_session(work: str):
    from hexscape_spark.session import get_spark

    n = cores()
    return get_spark(app="perfbench", master=f"local[{n}]",
                     shuffle_partitions=n,
                     **{"spark.ui.showConsoleProgress": "false"},
                     **local_dirs(work))


def warm_python_workers(spark) -> None:
    """One Arrow job on every core: spawns the Python workers and imports
    the engine's polygon kernels in each."""
    def import_kernels(batches):  # nested: pickled by value for the workers
        from hexscape_spark import cover, dissolve, geo  # noqa: F401

        yield from batches

    n = cores()
    spark.range(16 * n, numPartitions=n) \
        .mapInPandas(import_kernels, schema="id LONG").count()


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def tasks_in_group(spark, group: str) -> int:
    """Tasks launched by every job of one job group (skipped stages launch
    none)."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in (job.stageIds if job else []):
            stage = st.getStageInfo(sid)
            if stage:
                n += stage.numCompletedTasks + stage.numFailedTasks
    return n


# --- spans ---------------------------------------------------------------------

class Tracer:
    """In-memory spans and counters, written to one JSON file at the end.

    A span records name, start, end, its parent span and the operation it
    belongs to; a counter records a count at the same boundary.  `span`
    yields its record, so a caller may rename it once the outcome is known.
    When disabled every call is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self._stack: list[int] = []
        self.op = None
        self.cycle = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "cycle": self.cycle,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    @contextlib.contextmanager
    def overhead(self):
        """Work only the traced run does (probes, task counting, /proc
        reads); its time is counted as trace.overhead_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.count("trace.overhead_s", time.perf_counter() - t0)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.append({"name": name, "value": value,
                                  "op": self.op, "cycle": self.cycle})

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans,
                       "counters": self.counters}, f)


# --- statistics ----------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Inclusive quantile (linear interpolation between order statistics)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
