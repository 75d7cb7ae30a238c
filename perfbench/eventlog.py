"""Fold a Spark event log into per-job-group layer metrics (stdlib only).

Spark writes one JSON object per line. The benchmark turns off the
log's compression and rolling, so one application is one plain file.
Jobs carry their job-group id in the ``JobStart`` properties; stages
and tasks are attributed to the latest job that listed their stage.

Per group the fold returns:

- ``jobs``, ``stages`` (completed stage attempts), ``tasks``;
- ``peak_tasks``: most tasks occupying an executor core at one instant;
- ``executor_run_s`` and ``jvm_cpu_s`` (task run time and the JVM CPU
  time inside it); their difference is time outside JVM compute:
  Python workers, Arrow transfer, I/O waits;
- ``shuffle_write_bytes``, ``spill_bytes`` (memory plus disk) and
  ``input_bytes``;
- ``job_span_s``: the union of the group's job spans, submission to
  completion, so a caller's wall minus it is driver-side time.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_PROPERTY = "spark.jobGroup.id"
NO_GROUP = ""

FIELDS = (
    "jobs", "stages", "tasks", "peak_tasks", "executor_run_s", "jvm_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "job_span_s",
)


def _union_s(spans: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _peak(intervals: list[tuple[int, int]]) -> int:
    edges = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                   key=lambda e: (e[0], e[1]))
    cur = best = 0
    for _, d in edges:
        cur += d
        best = max(best, cur)
    return best


def fold(lines) -> dict[str, dict[str, float]]:
    """Per-group metrics from an iterable of event-log lines."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    spans: dict[str, list] = defaultdict(list)
    intervals: dict[str, list] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))

    def group_of_stage(stage_id: int) -> str:
        return job_group.get(stage_job.get(stage_id, -1), NO_GROUP)

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get(GROUP_PROPERTY) or NO_GROUP
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            acc[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                spans[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            acc[group_of_stage(ev["Stage Info"]["Stage ID"])]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage(ev["Stage ID"])
            a = acc[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            a["tasks"] += 1
            if info.get("Launch Time") and info.get("Finish Time"):
                # Occupancy of the executor core, not Finish Time alone:
                # the driver marks a task finished only once its result
                # is fetched, after the core already runs the next task.
                busy = (m.get("Executor Deserialize Time", 0) + m.get("Executor Run Time", 0)
                        + m.get("Result Serialization Time", 0))
                start = info["Launch Time"]
                intervals[group].append((start, min(info["Finish Time"], start + busy)))
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for group, a in acc.items():
        a["job_span_s"] = _union_s(spans.get(group, []))
        a["peak_tasks"] = _peak(intervals.get(group, []))
    return dict(acc)


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return fold(f)


def total(groups: dict[str, dict[str, float]], names=None) -> dict[str, float]:
    """Sum the groups in ``names`` (all when None). ``peak_tasks`` takes
    the maximum; ``job_span_s`` sums, which equals the union because a
    closed-loop client runs one group at a time."""
    out = dict.fromkeys(FIELDS, 0)
    for name, a in groups.items():
        if names is not None and name not in names:
            continue
        for k in FIELDS:
            out[k] = max(out[k], a[k]) if k == "peak_tasks" else out[k] + a[k]
    return out
