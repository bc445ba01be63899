"""Measurement from outside the engine: /proc for the process tree and the
host, JMX and Spark's status store for the JVM, a counting wrapper for
py4j, and an in-memory span recorder."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def _tree(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    return _tree(_stat_table(), os.getpid())


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM, its
    Python workers), including children already reaped."""
    table = _stat_table()
    return sum(table[p][1] for p in _tree(table, os.getpid()) if p in table) / _HZ


def host_cpu_s() -> tuple[float, float]:
    """(busy, iowait) CPU seconds of the whole host since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (sum(ticks) - ticks[3] - ticks[4]) / _HZ, ticks[4] / _HZ


def _tree_status(field: str) -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def reset_peak_rss() -> None:
    """Restart each tree process's peak-RSS counter (VmHWM) from its
    current RSS, so a later peak covers only what follows."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS, in MiB."""
    return _tree_status("VmHWM:") / 1024


class Window:
    """Host and process-tree CPU over an interval. `ext_cpu_s` is CPU the
    host spent on other processes: near 0 on a quiet machine."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.own0 = tree_cpu_s()
        self.busy0, self.iowait0 = host_cpu_s()

    def close(self) -> dict[str, float]:
        own, (busy, iowait) = tree_cpu_s(), host_cpu_s()
        return {"wall_s": time.perf_counter() - self.t0,
                "own_cpu_s": own - self.own0,
                "ext_cpu_s": max(0.0, (busy - self.busy0) - (own - self.own0)),
                "iowait_s": iowait - self.iowait0}


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    `send_command`; installed only in traced runs."""

    def __init__(self, spark) -> None:
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


class Jvm:
    """JVM-wide counters from JMX and Spark's CodegenMetrics, and per-job-
    group stage totals from Spark's status tracker and status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._classes = mf.getClassLoadingMXBean()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def counters(self) -> dict[str, float]:
        return {"jit_s": self._jit.getTotalCompilationTime() / 1e3,
                "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1e3,
                "classes": self._classes.getTotalLoadedClassCount(),
                "compiles": self._codegen.METRIC_COMPILATION_TIME().getCount()}

    def group_stats(self, group: str) -> dict[str, float]:
        """Jobs, tasks, executor run time, shuffle and spill bytes of the
        jobs run under one job group."""
        self._bus.waitUntilEmpty(30_000)
        out = dict.fromkeys(("jobs", "tasks", "run_s", "shuffle_write_b",
                             "shuffle_read_b", "spill_b"), 0.0)
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                attempts = self._store.stageData(sid, False, self._no_tasks, False,
                                                 self._no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    out["tasks"] += s.numCompleteTasks()
                    out["run_s"] += s.executorRunTime() / 1e3
                    out["shuffle_write_b"] += s.shuffleWriteBytes()
                    out["shuffle_read_b"] += s.shuffleReadBytes()
                    out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


class Spans:
    """Spans kept in memory and written out once, at the end. All spans
    of one op share its `op` id; `parent` names the enclosing span."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, op: str, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        row = {"op": op, "name": name, "parent": parent, **attrs}
        try:
            yield row
        finally:
            self._stack.pop()
            row["start_s"] = round(start - self.t0, 6)
            row["dur_s"] = round(time.perf_counter() - start, 6)
            self.rows.append(row)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for row in self.rows:
                f.write(json.dumps(row) + "\n")
