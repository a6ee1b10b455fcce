"""Offline parser for a plain-JSON Spark event log.

The session must be built with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` so the log is one file of JSON
lines readable with the standard library.  Jobs are attributed to the job
group set with ``SparkContext.setJobGroup`` when they were submitted
(``JobStart.Properties["spark.jobGroup.id"]``); stages to the first job
that lists them; tasks (``TaskEnd``) to their stage.

Usage::

    python3 perfbench/eventlog.py <event-log-file>   # per-group JSON
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from collections.abc import Callable, Iterable
from dataclasses import asdict, dataclass, field

#: ``Task Metrics`` fields summed per group → our field names
_TASK_FIELDS = {
    "Executor Run Time": "executor_run_ms",
    "JVM GC Time": "gc_ms",
    "Disk Bytes Spilled": "spill_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: (submission, completion) epoch-ms of each job
    job_spans: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: GroupStats) -> None:
        for k, v in asdict(other).items():
            if k != "job_spans":
                setattr(self, k, getattr(self, k) + v)
        self.job_spans.extend(other.job_spans)

    @property
    def busy_s(self) -> float:
        """Wall seconds during which at least one job was running."""
        return union_ms(self.job_spans) / 1000.0


def union_ms(spans: Iterable[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(spans):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def parse(lines: Iterable[str]) -> dict[str | None, GroupStats]:
    """Per-job-group totals; jobs submitted outside any group land under
    ``None``."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}

    def stats_of_stage(stage_id: int) -> GroupStats:
        return groups[job_group.get(stage_job.get(stage_id, -1))]

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[jid] = ev["Submission Time"]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
            groups[job_group[jid]].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            groups[job_group.get(jid)].job_spans.append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            stats_of_stage(ev["Stage Info"]["Stage ID"]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats_of_stage(ev["Stage ID"])
            g.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            for src, dst in _TASK_FIELDS.items():
                setattr(g, dst, getattr(g, dst) + m.get(src, 0))
            g.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(groups)


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)


def total(groups: dict[str | None, GroupStats], keep: Callable[[str], bool]) -> GroupStats:
    """Sum the groups whose name passes ``keep`` (ungrouped jobs never do)."""
    out = GroupStats()
    for name, g in groups.items():
        if name is not None and keep(name):
            out.add(g)
    return out


if __name__ == "__main__":
    parsed = parse_file(sys.argv[1])
    print(json.dumps({str(k): {**asdict(v), "busy_s": v.busy_s} for k, v in parsed.items()}, indent=1))
