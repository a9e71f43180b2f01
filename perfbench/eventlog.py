"""Fold a Spark event log into per-job-group task sums.

Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory
(uncompressed when ``spark.eventLog.compress=false``). ``JobStart`` carries
the job's ``spark.jobGroup.id`` and stage ids; ``TaskEnd`` carries the task
metrics and the SQL accumulables, including the Python-runner ones. Tasks
are attributed to the group of the first job that listed their stage.
Jobs submitted inside a named time window are attributed to the window
instead: that catches jobs a program starts from its own threads, which
do not inherit the caller's job group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class GroupSums:
    jobs: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ns: int = 0
    python_ms: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: stage id -> executor run time (ms) of each of its tasks
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def task_max_over_median(self) -> float:
        """max / median task run time of the group's heaviest stage (the
        one with the largest total run time); 1.0 when it has no time."""
        if not self.stage_task_ms:
            return 1.0
        heaviest = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(heaviest)
        return max(heaviest) / med if med > 0 else 1.0

    def metrics(self, wall_s: float, cores: int) -> dict[str, tuple[float, str]]:
        """The per-layer metrics, name -> (value, unit), given the layer's
        wall seconds and the session's core count."""
        exec_run_s = self.exec_run_ms / 1000.0
        return {
            "wall_s": (wall_s, "s"),
            "exec_run_s": (exec_run_s, "s"),
            "exec_cpu_s": (self.exec_cpu_ns / 1e9, "s"),
            "python_s": (self.python_ms / 1000.0, "s"),
            "py_sent_mb": (self.py_sent_bytes / MB, "MB"),
            "py_returned_mb": (self.py_returned_bytes / MB, "MB"),
            "shuffle_write_mb": (self.shuffle_write_bytes / MB, "MB"),
            "spill_mb": (self.spill_bytes / MB, "MB"),
            "tasks": (float(self.tasks), "count"),
            "task_max_over_median": (self.task_max_over_median(), "ratio"),
            "core_util": (exec_run_s / (wall_s * cores) if wall_s > 0 else 0.0, "ratio"),
        }


_PY_ACCUMS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in index order."""
    def part(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(glob.glob(os.path.join(app, "events_*")), key=part)
    return files


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(events, windows: dict[str, tuple[float, float]] | None = None
         ) -> dict[str | None, GroupSums]:
    """job group (None = untagged) -> GroupSums. ``windows`` maps a name to
    an epoch-millisecond [start, end] interval of job submission times."""
    groups: dict[str | None, GroupSums] = defaultdict(GroupSums)
    stage_group: dict[int, str | None] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            t = e.get("Submission Time", -1)
            for name, (lo, hi) in (windows or {}).items():
                if lo <= t <= hi:
                    g = name
            groups[g].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            s = groups[stage_group.get(e["Stage ID"])]
            m = e.get("Task Metrics") or {}
            s.tasks += 1
            run_ms = int(m.get("Executor Run Time", 0))
            s.exec_run_ms += run_ms
            s.exec_cpu_ns += int(m.get("Executor CPU Time", 0))
            s.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            s.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0))
            s.stage_task_ms[e["Stage ID"]].append(run_ms)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                attr = _PY_ACCUMS.get(acc.get("Name"))
                if attr and acc.get("Update") is not None:
                    setattr(s, attr, getattr(s, attr) + int(acc["Update"]))
    return dict(groups)
