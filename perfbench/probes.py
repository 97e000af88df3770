"""Process-tree, JVM and Spark event-log probes.

Nothing here imports pyspark at module level, so the orchestrator can load
it without starting a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own cpu s, reaped-children cpu s) for every live
    process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue  # raced with process exit
        # comm may contain spaces or parens: split around the last ')'
        head, rest = raw.rsplit(")", 1)
        pid_s, comm = head.split(" (", 1)
        f = rest.split()
        # f[1] = ppid, f[11..14] = utime, stime, cutime, cstime
        out[int(pid_s)] = (int(f[1]), comm, (int(f[11]) + int(f[12])) / _TICK,
                           (int(f[13]) + int(f[14])) / _TICK)
    return out


def descendants(root: int, table=None) -> list[int]:
    """``root`` and every live process below it."""
    table = table if table is not None else _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, *_rest) in table.items():
        kids[ppid].append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            found.append(pid)
            todo.extend(kids[pid])
    return found


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds used so far by ``root``'s process tree, split into the JVM
    (the ``java`` process's own time) and the Python side (the driver
    process, the worker daemon and its workers). Each live process also
    contributes its reaped children's time, so a worker that exits between
    two samples keeps its CPU in the total: it moves into its parent's
    cutime/cstime at reap instead of vanishing."""
    table = _proc_table()
    jvm = py = 0.0
    for pid in descendants(root, table):
        _ppid, comm, own, reaped = table[pid]
        if comm == "java":
            jvm += own
            py += reaped  # a reaped worker daemon
        else:
            py += own + reaped
    return {"jvm": jvm, "py": py, "total": jvm + py}


def python_peak_rss_mb(root: int) -> float:
    """Largest peak RSS (VmHWM) among the Python processes of ``root``'s
    tree: the driver-side process and every live Spark Python worker."""
    peak = 0
    table = _proc_table()
    for pid in descendants(root, table):
        if not table[pid][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


class Jvm:
    """The driver JVM's management beans, reached through py4j."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._mem = mf.getMemoryMXBean()

    def jit_s(self) -> float:
        """Cumulative JIT compilation time."""
        return self._comp.getTotalCompilationTime() / 1000.0

    def heap_after_gc_mb(self) -> float:
        """Heap still live once everything collectable is gone. Each round
        runs Python's GC (releasing the py4j proxies of dead DataFrames), a
        JVM GC and a pause in which Spark's ContextCleaner drops the blocks
        and shuffles of RDDs found unreachable, which can free more for the
        next round. A round may not shrink the heap while the cleaner is
        still working, so rounds stop only after two in a row without a
        drop; the smallest reading is returned."""
        import gc

        low, flat = float("inf"), 0
        for _ in range(12):
            gc.collect()
            self._mem.gc()
            time.sleep(0.5)
            now = self._mem.getHeapMemoryUsage().getUsed() / 2**20
            flat = flat + 1 if now > low - 0.5 else 0
            low = min(low, now)
            if flat == 2:
                break
        return low


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, executor run/CPU/GC time,
    shuffle read/write and spill, from a Spark JSON event log."""
    stage_group = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    ran_stages = defaultdict(set)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "-"
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid, "-")
                m = ev.get("Task Metrics") or {}
                acc = groups[g]
                ran_stages[g].add((sid, ev.get("Stage Attempt ID", 0)))
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                wr = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    for g, stages in ran_stages.items():
        groups[g]["stages"] = float(len(stages))
    return {g: dict(v) for g, v in groups.items()}
