"""Measurement from outside the engine: /proc CPU and memory of the driver
JVM and the Python processes, Spark's status-store counters, and spans."""

from __future__ import annotations

import contextlib
import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds including reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (int(fields[1]), ticks / _CLK)
    return table


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants (the driver JVM and
    the Python workers it forks), plus the children they have reaped."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(root) if p in table)


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm(pid: int) -> None:
    """Set the peak resident set of ``pid`` back to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class SparkCounters:
    """Totals over Spark's executors, read from the status store."""

    FIELDS = ("tasks", "failed_tasks", "shuffle_write_b", "input_b", "gc_ms", "memory_used_b", "jobs")

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._sc = self._jsc.sc()
        self.group: str | None = None  # job group whose jobs ``read`` counts

    def read(self) -> dict[str, float]:
        # the status store is fed asynchronously; drain the bus so counters
        # read at a boundary include every task that ended before it
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        tot = dict.fromkeys(self.FIELDS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["failed_tasks"] += e.failedTasks()
            tot["shuffle_write_b"] += e.totalShuffleWrite()
            tot["input_b"] += e.totalInputBytes()
            tot["gc_ms"] += e.totalGCTime()
            tot["memory_used_b"] += e.memoryUsed()
        if self.group is not None:
            tot["jobs"] = len(self._jsc.statusTracker().getJobIdsForGroup(self.group))
        return tot

    @staticmethod
    def diff(after: dict, before: dict) -> dict:
        return {k: after[k] - before[k] for k in after if k != "memory_used_b"}


class Tracer:
    """Spans around the benchmark's calls into the engine's layers.

    Each span records name, start, end, parent span and operation id, plus
    the Spark counter deltas over its interval.  Spans stay in memory until
    ``write``.  A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        c0 = self.counters.read() if self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            if c0 is not None:
                rec["counters"] = SparkCounters.diff(self.counters.read(), c0)
            self._stack.pop()

    @staticmethod
    def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
        """Layer (span-name prefix) -> summed self time: each span's
        duration minus the part covered by its children."""
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)
