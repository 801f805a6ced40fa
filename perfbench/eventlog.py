"""Spark event-log parsing for the traced run.

The benchmark tags every timed call with a Spark job group whose id is
the call's op id. This module reads the JSON-lines event log Spark
writes with ``spark.eventLog.enabled`` and folds jobs and tasks back
onto those op ids: job intervals (for the driver/job split), summed
executor run time, shuffle bytes written and failed tasks.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class OpJobs:
    """What the event log says about one op id."""

    jobs: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    task_s: float = 0.0
    shuffle_bytes: int = 0
    failed_tasks: int = 0


@dataclass
class EventLog:
    ops: dict[str, OpJobs]
    failed_tasks: int = 0

    def get(self, op_id: str) -> OpJobs:
        return self.ops.get(op_id, OpJobs())


def parse_lines(lines) -> EventLog:
    """Fold an iterable of event-log lines into per-op job facts.

    Times are epoch seconds. A job that never ends (the log was cut)
    keeps its start as its end, so it counts as a job but adds no
    interval length."""
    stage_op: dict[int, str] = {}
    job_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    ops: dict[str, OpJobs] = {}
    failed = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = props.get("spark.jobGroup.id")
            if op is None:
                continue
            jid = ev["Job ID"]
            job_op[jid] = op
            job_start[jid] = ev["Submission Time"] / 1000.0
            ops.setdefault(op, OpJobs()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_op:
                t0 = job_start.pop(jid)
                ops[job_op[jid]].intervals.append((t0, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            bad = bool(info.get("Failed")) or bool(info.get("Killed"))
            failed += bad
            op = stage_op.get(ev.get("Stage ID"))
            if op is None:
                continue
            rec = ops[op]
            rec.failed_tasks += bad
            tm = ev.get("Task Metrics") or {}
            rec.task_s += tm.get("Executor Run Time", 0) / 1000.0
            rec.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    for jid, t0 in job_start.items():
        ops[job_op[jid]].intervals.append((t0, t0))
    return EventLog(ops=ops, failed_tasks=failed)


def _log_files(path: str) -> list[str]:
    """A single-file log, or the ``events_<n>_<app>`` parts of a
    rolling (v2) log directory in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def parse_file(path: str) -> EventLog:
    def lines():
        for f in _log_files(path):
            with open(f, encoding="utf-8") as fh:
                yield from fh

    return parse_lines(lines())
