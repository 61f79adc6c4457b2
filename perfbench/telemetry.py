"""Measurements taken around the engine, never inside it.

* ``/proc`` readers: CPU seconds of the driver, the JVM (its JIT
  compiler threads apart) and the Python workers the JVM forks, peak
  resident memory of that process tree, and the host's steal and load.
* Spark-side readers: Catalyst phase times of a query execution (through
  py4j) and the persisted-RDD footprint.
* An offline parser for the Spark event log that rolls task metrics up
  per job group.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _stat(pid: int, base: str = "/proc/") -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) of a process or,
    with ``base`` a task directory, of one thread."""
    try:
        with open(f"{base}{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return comm, int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (
        int(f[13]) + int(f[14])
    ) / _TICK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids[st[1]].append(int(name))
    return kids


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class ProcessTree:
    """The driver (this process), its JVM and the JVM's Python workers."""

    def __init__(self) -> None:
        self.driver = os.getpid()

    def _members(self) -> tuple[list[int], list[int]]:
        kids = _children_map()
        jvm, workers = [], []
        for p in _descendants(self.driver, kids):
            st = _stat(p)
            if st is None:
                continue
            if st[0] == "java":
                jvm.append(p)
            elif st[0].startswith("python"):
                workers.append(p)
        return jvm, workers

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by role.  The JVM's JIT compiler threads
        are their own role: in a minute-long run they burn more CPU than
        the executors do.  A worker that exits is reaped by the pyspark
        daemon, so its time moves into the daemon's reaped-children
        counter and the sum stays continuous."""
        jvm, workers = self._members()
        own = _stat(self.driver)
        out = {"driver": own[2] if own else 0.0, "jvm": 0.0, "jit": 0.0, "python_worker": 0.0}
        for p in jvm:
            for tid in _listdir(f"/proc/{p}/task"):
                st = _stat(int(tid), f"/proc/{p}/task/")
                if st is not None:
                    out["jit" if st[0].startswith(_JIT_THREADS) else "jvm"] += st[2]
        for p in workers:
            st = _stat(p)
            out["python_worker"] += (st[2] + st[3]) if st else 0.0
        return out

    def rss_peak_mb(self) -> float:
        """Sum of each member's peak resident set (VmHWM)."""
        jvm, workers = self._members()
        total_kb = 0
        for p in [self.driver, *jvm, *workers]:
            try:
                with open(f"/proc/{p}/status", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024.0


def cpu_work(sample: dict[str, float]) -> float:
    """CPU seconds of the driver, the JVM's non-compiler threads and the
    Python workers: the engine's own work, without JIT warm-up."""
    return sample["driver"] + sample["jvm"] + sample["python_worker"]


def host_sample() -> dict[str, float]:
    """Steal and total jiffies from /proc/stat plus the 1-minute load."""
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:9]]
    with open("/proc/loadavg", encoding="ascii") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal": cpu[7], "total": sum(cpu), "load1": load1}


def host_delta(start: dict[str, float], end: dict[str, float]) -> dict[str, float]:
    steal, total = end["steal"] - start["steal"], end["total"] - start["total"]
    return {
        "steal_jiffies": steal,
        "total_jiffies": total,
        "steal_share": steal / total if total else 0.0,
        "load1_start": start["load1"],
        "load1_end": end["load1"],
    }


def catalyst_phases_ms(jdf) -> dict[str, float]:
    """Phase durations recorded by a Dataset's QueryPlanningTracker."""
    out: dict[str, float] = {}
    it = jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def persisted_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for one plain-JSON event log file in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Roll the task metrics of every job up to its job group.

    Returns ``{group: {jobs, stages, tasks, run_s, cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, input_records,
    task_skew}}``; ``task_skew`` is the worst stage's max/median task
    run time over stages with at least two tasks (1.0 when none).
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[int, list[int]] = defaultdict(list)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    g["run_s"] += m["Executor Run Time"] / 1e3
                    g["cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["gc_s"] += m["JVM GC Time"] / 1e3
                    rd = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    g["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    stage_runs[ev["Stage ID"]].append(m["Executor Run Time"])
    for sid, runs in stage_runs.items():
        g = groups[stage_group[sid]]
        g["stages"] += 1
        med = statistics.median(runs)
        skew = max(runs) / med if len(runs) >= 2 and med > 0 else 1.0
        g["task_skew"] = max(g.get("task_skew", 1.0), skew)
    return {k: dict(v) for k, v in groups.items()}
