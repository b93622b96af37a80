"""Per-job-group counters from a Spark event log.

The benchmark tags each operation's jobs with ``setJobGroup`` and runs
the traced session with ``spark.eventLog.enabled``.  After the session
stops, this module folds the JSON-lines log into one ``GroupCounters``
per job group: jobs, stages and tasks run, executor run/CPU/GC time,
shuffle and spill bytes, task durations, failed tasks, and the bytes
of RDD blocks (cache and checkpoint pins) stored while the group ran.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stored_block_bytes: int = 0
    task_s: list[float] = field(default_factory=list)

    @property
    def task_max_s(self) -> float:
        return max(self.task_s, default=0.0)

    @property
    def task_median_s(self) -> float:
        return statistics.median(self.task_s) if self.task_s else 0.0

    def summary(self) -> dict:
        out = {k: v for k, v in vars(self).items() if k not in ("stages", "task_s")}
        return dict(out, stages=len(self.stages), task_max_s=self.task_max_s,
                    task_median_s=self.task_median_s)


def parse(lines) -> dict[str, GroupCounters]:
    """Fold event-log JSON lines into {job group: counters}.  Jobs
    without a group are kept under ``""``."""
    groups: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}
    current = ""  # group of the latest job start, for block updates
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            current = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            groups.setdefault(current, GroupCounters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, current)
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupCounters())
            info = ev.get("Task Info", {})
            g.stages.add(ev["Stage ID"])
            g.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                g.failed_tasks += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                g.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000)
            m = ev.get("Task Metrics") or {}
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        elif kind == "SparkListenerBlockUpdated":
            b = ev.get("Block Updated Info", {})
            if str(b.get("Block ID", "")).startswith("rdd_"):
                g = groups.setdefault(current, GroupCounters())
                g.stored_block_bytes += b.get("Memory Size", 0) + b.get("Disk Size", 0)
    return groups


def log_files(log_dir: Path) -> list[Path]:
    """The event-log files of the one application logged under
    ``log_dir``: a single file, or the ``events_<n>_*`` parts of a
    rolling log directory in order."""
    files = [p for p in log_dir.rglob("*")
             if p.is_file() and not p.name.startswith((".", "appstatus"))]
    if len({p.parent for p in files}) != 1:
        raise RuntimeError(f"expected one application log under {log_dir}")

    def part(p: Path) -> int:
        return int(p.name.split("_")[1]) if p.name.startswith("events_") else 0

    return sorted(files, key=part)


def parse_dir(log_dir: Path) -> dict[str, GroupCounters]:
    def lines():
        for f in log_files(log_dir):
            with f.open() as fh:
                yield from fh

    return parse(lines())
