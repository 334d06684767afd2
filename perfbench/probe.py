"""Measurement probes: process-tree CPU and memory, Spark status-store
counters, and the pure helpers the benchmark reports with.

Everything here reads from outside the program under test: ``/proc`` for
the driver, JVM and PySpark workers, and Spark's own status stores for
stage, task and per-operator SQL metrics.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import defaultdict

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")

# Spark SQL metric units (Utils.bytesToString / msDurationToString)
_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "PiB": 2 ** 50, "EiB": 2 ** 60,
          "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
# the tail percentile keeps this many samples beyond it
TAIL_BEYOND = 10
# a pass's shuffle bytes may differ from the first pass's by this share
# before its fingerprint counts as a flip
SHUFFLE_TOL = 0.25
RSS_INTERVAL_S = 0.05
_METRIC_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")
# physical operators that evaluate Python: ArrowEvalPython, BatchEvalPython,
# MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_UDF_METRICS = {"data sent to Python workers": "udf_bytes_sent",
                "data returned from Python workers": "udf_bytes_returned",
                "time to run Python workers": "udf_run_s",
                "time to initialize Python workers": "udf_init_s",
                "time to start Python workers": "udf_start_s"}


def parse_sql_metric(text: str) -> float:
    """Spark SQL metric string -> number in base units (bytes, seconds,
    or a plain count).

    Task-aggregated metrics read ``"total (min, med, max ...)\\n114.0 MiB
    (...)"``; the total is the first value on the last line."""
    line = text.strip().rsplit("\n", 1)[-1]
    m = _METRIC_VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value * _UNITS[unit]


def tail_percentile(samples):
    """(percentile, value) of the highest integer percentile that still
    has at least ``TAIL_BEYOND`` samples above it; (0, 0.0) when there are
    too few samples for any percentile to qualify.

    The value is the k-th smallest sample, k = n - TAIL_BEYOND, so exactly
    ``TAIL_BEYOND`` samples lie beyond it; its label is floor(100 k / n)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return 0, 0.0
    k = n - TAIL_BEYOND
    return (100 * k) // n, xs[k - 1]


def iqr_share(values) -> float:
    """Distance between the first and third quartile over the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def fingerprint(c: dict) -> dict:
    """The plan fingerprint of one pass, from its counters."""
    return {"stages": c.get("stages", 0),
            "shuffle_bytes": c.get("shuffle_write_bytes", 0),
            "python_nodes": c.get("python_nodes", 0),
            "codegen_stages": c.get("codegen_stages", 0)}


def fingerprint_differs(a: dict, b: dict) -> bool:
    """Counts must match exactly; shuffle bytes may drift by the share
    ``SHUFFLE_TOL`` (compressed block sizes depend on arrival order after
    an earlier shuffle), but a plan flip moves them by multiples."""
    for key in ("stages", "python_nodes", "codegen_stages"):
        if a[key] != b[key]:
            return True
    hi = max(a["shuffle_bytes"], b["shuffle_bytes"])
    return hi > 0 and abs(a["shuffle_bytes"] - b["shuffle_bytes"]) > SHUFFLE_TOL * hi


def add_counters(total: dict, part: dict) -> dict:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
    return total


# -- process tree (/proc) ------------------------------------------------------


def _read_stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    close = s.rindex(")")
    comm = s[s.index("(") + 1:close]
    rest = s[close + 2:].split()
    # fields 4 (ppid), 14-17 (utime, stime, cutime, cstime), 24 (rss)
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


class ProcTree:
    """This process and every descendant: the driver interpreter, the
    JVM, and the PySpark daemon and its workers.

    CPU counts user+sys of live processes plus what they reaped from
    exited children (cutime/cstime), so worker CPU survives worker exit.
    """

    def __init__(self):
        self.root = os.getpid()

    def snapshot(self) -> dict:
        stats, children = {}, defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                stats[int(name)] = st = _read_stat(name)
            except (OSError, ValueError, IndexError):
                continue  # exited while we listed it
            children[st[1]].append(int(name))
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(children[pid])
        return tree

    def cpu(self) -> dict:
        """pid -> (is_python_worker, cpu ticks)."""
        return {pid: (pid != self.root and comm.startswith("python"), ticks)
                for pid, (comm, _, ticks, _) in self.snapshot().items()}

    @staticmethod
    def cpu_delta(before: dict, after: dict):
        """CPU seconds between two :meth:`cpu` readings: (whole tree,
        Python workers only)."""
        total = workers = 0
        for pid, (is_worker, ticks) in after.items():
            d = max(0, ticks - before.get(pid, (False, 0))[1])
            total += d
            if is_worker:
                workers += d
        return total * _TICK_S, workers * _TICK_S

    def descendants(self) -> list:
        return [pid for pid in self.snapshot() if pid != self.root]


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread
    while the timed passes run.

    The thread runs in the driver, inside the measured tree; ``cpu_s`` is
    its own CPU so far, for callers to take out of the tree's."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = 0
        self.cpu_s = 0.0
        self.peak_by_command = {}
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self):
        seen = set()
        while True:
            snap = self.tree.snapshot()
            # A process seen for the first time may be a child between fork
            # and exec that still maps its parent's pages (a JVM-sized RSS
            # for a moment); count each process from its second sample on.
            by_command = defaultdict(lambda: [0, 0])
            for pid, (comm, _, _, rss) in snap.items():
                if pid in seen:
                    by_command[comm][0] += 1
                    by_command[comm][1] += rss * _PAGE_BYTES
            seen = set(snap)
            total = sum(b for _, b in by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, dict(by_command)
            self.cpu_s = time.thread_time()
            if self._stop.wait(RSS_INTERVAL_S):
                return


# -- Spark status store --------------------------------------------------------


class SparkCounters:
    """Counters for the jobs of one Spark job group, read from the
    application status store (stages) and the SQL status store
    (per-operator metrics of the final, post-AQE plan)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = self._sql.executionsCount()
        self._exec_jobs = {}  # execution id -> job ids, for executions seen
        self._exec_counters = {}  # execution id -> SQL counters (immutable once done)

    def drain(self) -> None:
        """Wait until the listener bus delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def groups(self, groups) -> dict:
        """Summed counters for the jobs of ``groups`` (call after drain)."""
        jobs = set()
        for g in groups:
            jobs.update(self.sc.statusTracker().getJobIdsForGroup(g))
        c = {"jobs": len(jobs)}
        add_counters(c, self._stage_counters(jobs))
        self._collect_executions()
        for eid, ejobs in self._exec_jobs.items():
            if ejobs & jobs:
                if eid not in self._exec_counters:
                    self._exec_counters[eid] = self._sql_counters(eid)
                add_counters(c, self._exec_counters[eid])
        return c

    def cache_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize())
                   for i in self._jsc.getRDDStorageInfo())

    def _stage_counters(self, jobs) -> dict:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = defaultdict(float)
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
            c["jvm_gc_s"] += sd.jvmGcTime() / 1e3
        return dict(c)

    def _collect_executions(self) -> None:
        n = self._sql.executionsCount()
        if n <= self._exec_seen:
            return
        new = self._sql.executionsList(self._exec_seen, n - self._exec_seen)
        self._exec_seen = n
        for i in range(new.size()):
            e = new.apply(i)
            keys = e.jobs().keys().mkString(",")
            self._exec_jobs[e.executionId()] = {int(k) for k in keys.split(",") if k}

    def _sql_counters(self, eid) -> dict:
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        c = defaultdict(float)

        def metric(node, wanted):
            ms = node.metrics()
            for i in range(ms.size()):
                pm = ms.apply(i)
                if pm.name() in wanted:
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        yield wanted[pm.name()], parse_sql_metric(v.get())

        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if name.startswith("WholeStageCodegen"):
                c["codegen_stages"] += 1
            elif _PYTHON_NODE.search(name):
                c["python_nodes"] += 1
                for k, v in metric(node, _UDF_METRICS):
                    c[k] += v
            elif name.startswith("Scan"):
                for k, v in metric(node, {"number of output rows": "scan_rows"}):
                    c[k] += v
        return dict(c)
