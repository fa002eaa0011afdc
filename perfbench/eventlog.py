"""Per-job-group metrics from Spark's own JSON event log.

Enable the log from outside the program with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``;
Spark 4 writes it as rolling ``eventlog_v2_<app>/events_<n>_<app>``
files. The job group of every job is the ``spark.jobGroup.id`` property
that ``SparkContext.setJobGroup`` stamps on its ``SparkListenerJobStart``
event, so no private Py4J handle is needed. Read the log after the
SparkContext has stopped, when it is flushed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class GroupStats:
    """Task and job totals of one job group."""

    start_ms: int | None = None
    end_ms: int | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    # stage id -> executor run time (ms) of each successful task
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        if self.start_ms is None or self.end_ms is None:
            return 0.0
        return (self.end_ms - self.start_ms) / 1000

    def slot_idle_frac(self, cores: int, wall_s: float | None = None) -> float:
        """1 - task run time / (group wall time x cores)."""
        wall = self.wall_s if wall_s is None else wall_s
        return 1 - self.run_ms / 1000 / (wall * cores) if wall > 0 else 0.0

    def last_stage_skew(self) -> float:
        """max / median task run time of the group's last stage that ran
        tasks: after the route exchange, the stage that reads it."""
        if not self.stage_task_ms:
            return 0.0
        times = self.stage_task_ms[max(self.stage_task_ms)]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0

    def metrics(self, cores: int, wall_s: float | None = None) -> dict[str, float]:
        return {
            "spark.executor_run_s": self.run_ms / 1000,
            "spark.executor_cpu_s": self.cpu_ns / 1e9,
            "spark.gc_s": self.gc_ms / 1000,
            "spark.tasks": self.tasks,
            "spark.failed_tasks": self.failed_tasks,
            "spark.spill_mb": self.spill_bytes / MB,
            "spark.slot_idle_frac": self.slot_idle_frac(cores, wall_s),
            "spark.shuffle_write_mb": self.shuffle_write_bytes / MB,
        }


def event_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir``, in rolling order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_groups(paths: list[str]) -> dict[str, GroupStats]:
    """Aggregate tasks and jobs per job group. Jobs without a group are
    left out."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    g = groups.setdefault(gid, GroupStats())
                    job_group[ev["Job ID"]] = gid
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                    t = ev["Submission Time"]
                    g.start_ms = t if g.start_ms is None else min(g.start_ms, t)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    g = groups[job_group[ev["Job ID"]]]
                    t = ev["Completion Time"]
                    g.end_ms = t if g.end_ms is None else max(g.end_ms, t)
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    _add_task(groups[stage_group[ev["Stage ID"]]], ev)
    return groups


def _add_task(g: GroupStats, ev: dict) -> None:
    g.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        g.failed_tasks += 1
        return
    m = ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    g.run_ms += run
    g.cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    g.stage_task_ms.setdefault(ev["Stage ID"], []).append(run)
