"""Fold a Spark event log into one record per job group.

The traced run wraps every layer call in ``sc.setJobGroup(<layer>, ...)``
with ``spark.eventLog.enabled`` on and ``spark.eventLog.compress`` off (Spark
writes zstd by default, and reading zstd needs a module this project does not
depend on). After ``spark.stop()`` the log is complete, and ``fold`` maps
each ``SparkListenerTaskEnd`` to its stage, each stage to the job group
recorded in its ``SparkListenerStageSubmitted`` properties (falling back to
the group of the first job that lists it), and sums the task metrics per
group.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
#: task accumulable of Arrow/pandas UDF operators: bytes fed to Python
PYTHON_IN = "data sent to Python workers"
MB = 1024.0 * 1024.0


@dataclass
class GroupRecord:
    jobs: int = 0
    first_submit_ms: int | None = None
    last_complete_ms: int | None = None
    task_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    python_in_bytes: int = 0

    @property
    def job_span_s(self) -> float:
        """First job submitted to last job completed."""
        if self.first_submit_ms is None or self.last_complete_ms is None:
            return 0.0
        return (self.last_complete_ms - self.first_submit_ms) / 1000.0

    def metrics(self) -> dict[str, float]:
        """The per-layer common set (wall_s and rows_out come from the
        caller, which times the layer call and counts its output)."""
        med = statistics.median(self.task_ms) if self.task_ms else 0.0
        return {
            "task_s": sum(self.task_ms) / 1000.0,
            "task_skew": max(self.task_ms) / med if med else 0.0,
            "tasks": len(self.task_ms),
            "jobs": self.jobs,
            "shuffle_write_mb": self.shuffle_write_bytes / MB,
            "spill_mb": self.spill_bytes / MB,
            "gc_s": self.gc_ms / 1000.0,
            "python_in_mb": self.python_in_bytes / MB,
        }


def read_events(log_dir: str):
    """Yield every event of every (uncompressed) log file under log_dir."""
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def fold(events) -> dict[str, GroupRecord]:
    """Per-job-group records; jobs without a group land under ''."""
    groups: dict[str, GroupRecord] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    tasks: list[tuple[int, dict, dict]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            job_group[ev["Job ID"]] = g
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            rec = groups.setdefault(g, GroupRecord())
            rec.jobs += 1
            t = ev.get("Submission Time")
            if t is not None:
                rec.first_submit_ms = (t if rec.first_submit_ms is None
                                       else min(rec.first_submit_ms, t))
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobEnd":
            rec = groups.setdefault(job_group.get(ev["Job ID"], ""),
                                    GroupRecord())
            t = ev.get("Completion Time")
            if t is not None:
                rec.last_complete_ms = (t if rec.last_complete_ms is None
                                        else max(rec.last_complete_ms, t))
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Info") or {},
                          ev.get("Task Metrics") or {}))
    # tasks are folded last: a stage's submission event names its group
    for sid, info, m in tasks:
        rec = groups.setdefault(stage_group.get(sid, ""), GroupRecord())
        rec.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        rec.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
        rec.gc_ms += m.get("JVM GC Time", 0)
        rec.python_in_bytes += sum(
            int(a.get("Update", 0)) for a in info.get("Accumulables", [])
            if a.get("Name") == PYTHON_IN)
    return groups
