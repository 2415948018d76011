"""Attribute Spark's event log to benchmark spans.

Each job goes to the innermost span open at its submission time,
whatever thread opened the span: jobs started from the program's
thread pools and ``foreachBatch`` threads inherit no job group, but
they do run while the span that caused them is open. A span's figures
include the jobs of its descendants. Job time is the union of job
intervals, never their sum, so overlapped jobs are counted once.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

MIB = 1024 * 1024
#: submission times are whole milliseconds; allow that much slack
_SLACK_S = 0.001

#: per-task counters summed per job: name -> (path in "Task Metrics", scale)
_TASK_COUNTERS = {
    "task_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "output_bytes": (("Output Metrics", "Bytes Written"), 1),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
}


@dataclass
class Job:
    id: int
    submit: float
    end: float | None = None
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_TASK_COUNTERS, 0.0))


def read_jobs(lines) -> list[Job]:
    """Jobs, with their tasks' counters, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000)
            for sid in ev.get("Stage IDs", []):
                # a stage runs in the job that created it; later jobs
                # list it again only to skip it
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            metrics = ev.get("Task Metrics") or {}
            counters = jobs[stage_job[ev["Stage ID"]]].counters
            for name, (path, scale) in _TASK_COUNTERS.items():
                value = metrics
                for key in path:
                    value = value.get(key, 0) if isinstance(value, dict) else 0
                counters[name] += (value or 0) * scale
    return sorted(jobs.values(), key=lambda j: j.id)


def read_event_log(path: str) -> list[Job]:
    with open(path, encoding="utf-8") as f:
        return read_jobs(f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Attribution:
    #: span id -> jobs owned by that span alone (not its descendants)
    owned: dict[int, list[Job]]
    unattributed: list[Job]
    #: jobs submitted inside the region
    total: int


def attribute(spans, jobs: list[Job], region: tuple[float, float]) -> Attribution:
    """Give each job submitted in ``region`` to the innermost span (the
    latest-started one) open at its submission time."""
    owned: dict[int, list[Job]] = {s.id: [] for s in spans}
    unattributed, total = [], 0
    for job in jobs:
        if not region[0] <= job.submit <= region[1]:
            continue
        total += 1
        open_ = [
            s for s in spans
            if s.start - _SLACK_S <= job.submit <= (s.end or region[1]) + _SLACK_S
        ]
        if open_:
            owned[max(open_, key=lambda s: (s.start, s.id)).id].append(job)
        else:
            unattributed.append(job)
    return Attribution(owned, unattributed, total)


def span_figures(spans, attribution: Attribution) -> dict[int, dict[str, float]]:
    """Per span: wall, self (wall minus child spans), jobs, busy (union
    of job intervals), driver gap (wall minus busy) and the summed task
    counters — all over the span and its descendants."""
    children: dict[int | None, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s) -> list[Job]:
        out = list(attribution.owned.get(s.id, []))
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    figures = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        wall = end - s.start
        jobs = subtree_jobs(s)
        busy = _union(
            [(max(j.submit, s.start), min(j.end or end, end)) for j in jobs
             if min(j.end or end, end) > max(j.submit, s.start)]
        )
        covered = _union(
            [(max(c.start, s.start), min(c.end or end, end)) for c in children.get(s.id, [])
             if min(c.end or end, end) > max(c.start, s.start)]
        )
        fig = {
            "wall_s": wall,
            "self_s": wall - covered,
            "jobs": float(len(jobs)),
            "busy_s": busy,
            "driver_gap_s": wall - busy,
        }
        for name in _TASK_COUNTERS:
            fig[name] = sum(j.counters[name] for j in jobs)
        figures[s.id] = fig
    return figures


def per_op_median(spans, figures, name: str, ops: list[tuple[float, float]], field_: str) -> float:
    """Median over ``ops`` (time windows) of the per-op sum of
    ``field_`` over spans called ``name`` that started in the op;
    ``calls`` counts the spans. Ops without such a span are skipped,
    and 0.0 means the layer was never called."""
    values = []
    for lo, hi in ops:
        hits = [s for s in spans if s.name == name and lo <= s.start <= hi]
        if hits:
            values.append(
                float(len(hits)) if field_ == "calls"
                else sum(figures[s.id][field_] for s in hits)
            )
    return statistics.median(values) if values else 0.0
