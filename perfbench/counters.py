"""Spark's own counters per job group, plus host and memory records.

Both sources work with ``spark.ui.enabled=false`` (how ``session.py``
builds the session):

* the core status store (``SparkContext.statusStore``): jobs by job group,
  then each stage's executorRunTime, task count, shuffle bytes, spill and
  task-result bytes;
* the SQL status store (``SharedState.statusStore``): per-plan-node SQL
  metrics of every execution whose jobs belong to the group.
"""

from __future__ import annotations

import os
import re
import threading
import time

MB = 1024.0 * 1024.0
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
               "TiB": 1024 ** 4}


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _first_value(text: str) -> float:
    """Total of a formatted SQL metric: the plain value of a sum metric
    (``'565,363'``) or the first figure of a size metric
    (``'total (min, med, max ...)\\n4.7 KiB (...)'`` or ``'0.0 B'``)."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE_UNITS[m.group(2)] if m.group(2) else v


class SparkCounters:
    """Reads one job group's counters after its jobs have finished."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # status listeners run on the listener bus, after the job returns
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self, group: str):
        out = []
        for j in _seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                out.append(j)
        return out

    def group(self, group: str) -> dict:
        """Stage counters summed over the group's jobs."""
        self._drain()
        jobs = self._jobs(group)
        c = {"jobs": len(jobs), "tasks": 0, "busy_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "driver_mb": 0.0}
        stage_ids = set()
        for j in jobs:
            stage_ids.update(_seq(j.stageIds()))
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(int(sid))
            except Exception:        # stage evicted from the store
                continue
            if str(s.status()) == "SKIPPED":
                continue
            c["tasks"] += s.numCompleteTasks()
            c["busy_s"] += s.executorRunTime() / 1000.0
            c["shuffle_mb"] += s.shuffleWriteBytes() / MB
            c["spill_mb"] += s.diskBytesSpilled() / MB
            c["driver_mb"] += s.resultSize() / MB
        return c

    def sql_nodes(self, group: str) -> list[dict]:
        """Plan nodes (name, desc, metrics, child node ids) of every SQL
        execution that ran a job of ``group``."""
        self._drain()
        job_ids = {j.jobId() for j in self._jobs(group)}
        nodes = []
        for e in _seq(self._sql.executionsList()):
            it = e.jobs().keysIterator()
            ids = set()
            while it.hasNext():
                ids.add(it.next())
            if not ids & job_ids:
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            children: dict[int, list[int]] = {}
            for edge in _seq(graph.edges()):
                children.setdefault(edge.toId(), []).append(edge.fromId())
            for n in _seq(graph.allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = (metrics.get(m.name(), 0.0)
                                             + _first_value(v.get()))
                nodes.append({"id": (eid, n.id()), "name": n.name(),
                              "desc": n.desc(), "metrics": metrics,
                              "children": [(eid, k) for k in
                                           children.get(n.id(), [])]})
        return nodes


def sql_total(nodes: list[dict], metric: str, name_has: str = "") -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if name_has in n["name"])


class RssPeak:
    """Polls the resident memory of this process and all its descendants
    (the Spark JVM and its Python workers) from /proc and keeps the peak
    since the last :meth:`reset`."""

    def __init__(self, interval: float = 0.1):
        self.peak_mb = 0.0
        self._interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> float:
        """Return the peak so far and start a new one."""
        with self._lock:
            peak, self.peak_mb = self.peak_mb, 0.0
        return peak

    def _run(self) -> None:
        while not self._stop.is_set():
            mb = tree_rss_mb()
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self._interval)


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and its descendants, pages shared
    between them (forked Python workers) counted once: the sum of their
    proportional set sizes."""
    root = root or os.getpid()
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and its descendants.  Time the hypervisor steals from the guest is
    not charged to a process; contention that slows each instruction
    (shared caches, sibling threads) still is."""
    root = root or os.getpid()
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime stime cutime cstime: fields 14-17 of stat
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def host_record() -> dict:
    """nproc, load average and cumulative CPU steal ticks (/proc/stat)."""
    rec = {"nproc": len(os.sched_getaffinity(0)),
           "loadavg": list(os.getloadavg()), "at": time.time()}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        # user nice system idle iowait irq softirq steal
        rec["steal_ticks"] = int(cpu[8])
        rec["total_ticks"] = sum(int(x) for x in cpu[1:9])
    except (OSError, IndexError, ValueError):
        pass
    return rec
