"""Fold a Spark event log into one record per job group.

The benchmark tags every call into a library layer with its own job group
(``sc.setJobGroup``), so each group is one span: its jobs, stages and tasks
are the child spans, read here from the uncompressed JSON-lines event log
the session writes with ``spark.eventLog.enabled=true``.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class GroupRecord:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_spans: list[tuple[int, int]] = field(default_factory=list)  # ms
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    scheduler_gap_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def jobs_wall_s(self) -> float:
        """Length of the union of this group's job intervals."""
        return union_ms(self.job_spans) / 1000.0


def union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(spans):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def _log_files(log_dir: Path) -> list[Path]:
    """Every event file under ``log_dir``, rolled parts in order."""
    def part(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else 0

    files = [
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    return sorted(files, key=lambda p: (str(p.parent), part(p), p.name))


def fold(log_dir: Path) -> dict[str, GroupRecord]:
    """{job group: record} for every job group in the logs under log_dir."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    task_spans: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    records: dict[str, GroupRecord] = defaultdict(GroupRecord)

    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = group
                    job_submit[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                    records[group].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"], "")
                    records[group].job_spans.append(
                        (job_submit[ev["Job ID"]], ev["Completion Time"])
                    )
                elif kind == "SparkListenerTaskEnd":
                    rec = records[stage_group.get(ev["Stage ID"], "")]
                    info = ev["Task Info"]
                    rec.tasks += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        rec.failed_tasks += 1
                    task_spans[(ev["Stage ID"], ev["Stage Attempt ID"])].append(
                        (info["Launch Time"], info["Finish Time"])
                    )
                    m = ev.get("Task Metrics") or {}
                    rec.executor_run_ms += m.get("Executor Run Time", 0)
                    rec.executor_cpu_ns += m.get("Executor CPU Time", 0)
                    rec.gc_ms += m.get("JVM GC Time", 0)
                    rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    rec.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    rec.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    rec.input_bytes += inp.get("Bytes Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = records[stage_group.get(info["Stage ID"], "")]
                    rec.stages += 1
                    lo, hi = info.get("Submission Time"), info.get("Completion Time")
                    if lo is not None and hi is not None:
                        attempt = (info["Stage ID"], info["Stage Attempt ID"])
                        busy = union_ms(task_spans.pop(attempt, []))
                        # stage wall no task of the stage was running in
                        rec.scheduler_gap_ms += max(0, (hi - lo) - busy)
    return dict(records)
