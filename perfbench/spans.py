"""Layer spans for the traced run.

A span is a wall-clock interval around one call into a layer, run under a
Spark job group of the same name.  Spark's own event log (written to a local
directory for the traced run only) then attributes jobs, stages, tasks,
shuffle, spill, executor CPU and GC time to each span by that job group.

The event log's executor CPU time counts the JVM task threads only.  Python
and pandas UDF kernels (``mapInPandas`` extraction, the resolve and
materialize scoring UDFs) run in the pyspark worker processes instead, so a
span also records the CPU those processes spent during it, read from /proc
(``PythonWorkerCPU``).
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class PythonWorkerCPU:
    """User plus system CPU seconds spent so far by the Python processes
    below this one: the pyspark daemon and the workers it forks.

    The daemon ignores SIGCHLD, so the time of a worker that exits shows in
    no parent's child times.  The tracker reads /proc every ``period``
    seconds in a thread and keeps each process's last reading, so an exited
    worker loses at most the CPU of its last period."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self._ticks: dict[tuple[int, int], int] = {}  # (pid, start) -> ticks
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def seconds(self) -> float:
        me, parent, python = os.getpid(), {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            head, tail = stat.rsplit(")", 1)
            fields = tail.split()  # fields[0] is stat field 3, the state
            parent[int(pid)] = int(fields[1])
            if head.split("(", 1)[1].startswith("python"):
                # (start time, utime + stime)
                python[int(pid)] = (int(fields[19]),
                                    int(fields[11]) + int(fields[12]))
        with self._lock:
            for pid, (start, ticks) in python.items():
                p = parent.get(pid, 0)
                while p and p != me:
                    p = parent.get(p, 0)
                if p == me and pid != me:
                    self._ticks[pid, start] = ticks
            return sum(self._ticks.values()) / os.sysconf("SC_CLK_TCK")

    def _run(self):
        while not self._stop.wait(self.period):
            self.seconds()

    def close(self):
        self._stop.set()
        self._thread.join()


class Spans:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}
        self.python_cpu: dict[str, float] = {}
        self.cpu = PythonWorkerCPU()

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        cpu0 = self.cpu.seconds()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = (self.walls.get(name, 0.0)
                                + time.perf_counter() - t0)
            self.python_cpu[name] = (self.python_cpu.get(name, 0.0)
                                     + self.cpu.seconds() - cpu0)
            self.sc.setJobGroup("untraced", "untraced")


def event_log_conf(log_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


_COUNTERS = ("jobs", "stages", "tasks", "run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def job_group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group totals from the (finished) event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {paths}")
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(_COUNTERS, 0))

    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get(
                    "spark.jobGroup.id", "untraced")
                acc(group)["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                acc(stage_group.get(sid, "untraced"))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                c = acc(stage_group.get(e["Stage ID"], "untraced"))
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                c["tasks"] += 1
                c["run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out


def sum_groups(groups: dict, names) -> dict[str, float]:
    total = dict.fromkeys(_COUNTERS, 0)
    for name in names:
        for k, v in groups.get(name, {}).items():
            total[k] += v
    return total
