"""Pipeline runtime monitoring: per-stage wall time, CPU, memory,
and row counts (reference parity: `/root/reference/src/monitoring/
pipeline_monitor.py:1-18` logs psutil CPU/mem around pipeline
stages).

Spark-first twist: besides the driver-process metrics the reference
records, ``stage()`` also snapshots executor-side task metrics from
the Spark status tracker, so a stage's record says what the CLUSTER
did (tasks run), not just what the driver process felt. psutil is
not a hard dependency — when absent (as in this container) the
stdlib ``resource`` module supplies CPU seconds and peak RSS.

At 100 TB the numbers that matter are per-stage wall time and task
counts (shuffle spill and skew show up as one stage dominating);
this hook is the place a cluster deployment would attach a
SparkListener for shuffle-bytes/spill metrics — driver-side polling
is deliberately kept cheap (two job-id snapshots per stage, then one
pass over the jobs that ran inside it).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterator

try:  # psutil is optional (not in this container)
    import psutil  # type: ignore

    _PROC = psutil.Process()
except Exception:  # noqa: BLE001 — fall back to stdlib
    psutil = None
    _PROC = None

import resource


def _cpu_seconds() -> float:
    if _PROC is not None:
        t = _PROC.cpu_times()
        return t.user + t.system
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def _peak_rss_mb() -> float:
    if _PROC is not None:
        return _PROC.memory_info().rss / (1024 * 1024)
    # ru_maxrss is KiB on Linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


@dataclass
class StageRecord:
    """One monitored stage: wall/cpu seconds, peak driver RSS, rows
    (if reported), and Spark tasks completed during the stage."""

    name: str
    wall_sec: float
    cpu_sec: float
    peak_rss_mb: float
    rows: int | None = None
    spark_tasks: int | None = None

    def as_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "wall_sec": round(self.wall_sec, 4),
            "cpu_sec": round(self.cpu_sec, 4),
            "peak_rss_mb": round(self.peak_rss_mb, 2),
            "rows": self.rows,
            "spark_tasks": self.spark_tasks,
        }


class PipelineMonitor:
    """Collects ``StageRecord``s; use as
    ``with monitor.stage("clean") as s: ...; s.rows = n``."""

    def __init__(self, spark=None) -> None:
        self._spark = spark
        self.records: list[StageRecord] = []

    def _job_ids(self) -> set[int] | None:
        if self._spark is None:
            return None
        try:
            tracker = self._spark.sparkContext.statusTracker()
            return set(tracker.getJobIdsForGroup(None))
        except Exception:  # noqa: BLE001 — metrics must never fail a run
            return None

    def _tasks_completed(self, jobs: set[int]) -> int | None:
        """Completed tasks of ``jobs``. Counted over the jobs that
        started inside a stage, not as a difference of totals over
        every retained job: the status store keeps only the last
        ``spark.ui.retainedJobs`` jobs, and once it evicts old ones
        such a difference reads 0 or negative."""
        try:
            tracker = self._spark.sparkContext.statusTracker()
            total = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo is not None:
                        total += sinfo.numCompletedTasks
            return total
        except Exception:  # noqa: BLE001 — metrics must never fail a run
            return None

    @contextmanager
    def stage(self, name: str) -> Iterator[StageRecord]:
        rec = StageRecord(
            name=name, wall_sec=0.0, cpu_sec=0.0, peak_rss_mb=0.0
        )
        t0, c0 = time.monotonic(), _cpu_seconds()
        jobs0 = self._job_ids()
        try:
            yield rec
        finally:
            rec.wall_sec = time.monotonic() - t0
            rec.cpu_sec = _cpu_seconds() - c0
            rec.peak_rss_mb = _peak_rss_mb()
            jobs1 = self._job_ids()
            if jobs0 is not None and jobs1 is not None:
                rec.spark_tasks = self._tasks_completed(jobs1 - jobs0)
            self.records.append(rec)

    def report(self) -> list[dict[str, Any]]:
        """The run's stage records, in execution order."""
        return [r.as_dict() for r in self.records]

    def log_lines(self) -> list[str]:
        """Human-readable per-stage lines (the reference's log
        format role: `pipeline_monitor.py:10-18`)."""
        return [
            (
                f"[stage {r.name}] wall={r.wall_sec:.2f}s "
                f"cpu={r.cpu_sec:.2f}s rss={r.peak_rss_mb:.0f}MB"
                + (f" rows={r.rows}" if r.rows is not None else "")
                + (
                    f" tasks={r.spark_tasks}"
                    if r.spark_tasks is not None
                    else ""
                )
            )
            for r in self.records
        ]
