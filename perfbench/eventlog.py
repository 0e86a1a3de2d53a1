"""Spark event-log parser: per-job-group stage metrics.

Reads uncompressed, non-rolling event logs (the benchmark sets
``spark.eventLog.compress=false``).  Stages are attributed to the job group
(``SparkContext.setJobGroup``) of the job that submitted them; stages of
jobs without a group land under ``"-"``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    # (log file, stage id) -> task durations (s)
    stage_task_s: dict[tuple[str, int], list[float]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max/median task duration of the group's last multi-task stage."""
        for key in sorted(self.stage_task_s, reverse=True):
            d = self.stage_task_s[key]
            if len(d) > 1:
                med = statistics.median(d)
                return max(d) / med if med > 0 else 0.0
        return 0.0


def parse(path: str) -> dict[str, GroupMetrics]:
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # a truncated last line of a log still being written
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                sid = e.get("Stage ID")
                g = out.setdefault(stage_group.get(sid, "-"), GroupMetrics())
                g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.jvm_gc_s += m.get("JVM GC Time", 0) / 1e3
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                g.tasks += 1
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                g.stage_task_s.setdefault((path, sid), []).append(dur)
    return out


def parse_dir(log_dir: str) -> dict[str, GroupMetrics]:
    """Merge every application log in ``log_dir``."""
    merged: dict[str, GroupMetrics] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        for grp, g in parse(path).items():
            m = merged.setdefault(grp, GroupMetrics())
            m.executor_run_s += g.executor_run_s
            m.executor_cpu_s += g.executor_cpu_s
            m.jvm_gc_s += g.jvm_gc_s
            m.shuffle_write_bytes += g.shuffle_write_bytes
            m.spill_bytes += g.spill_bytes
            m.tasks += g.tasks
            m.stage_task_s.update(g.stage_task_s)
    return merged
