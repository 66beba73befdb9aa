"""Per-layer task counters from a Spark JSON event log.

Every layer call in the traced run runs under its own job group.  After
``spark.stop()`` the event log is complete; this module maps each stage to
the group of the job that first listed it and sums that stage's
``SparkListenerTaskEnd`` metrics into the group's counters.

It fails loudly: a missing or unreadable log, or a labelled group with no
attributed stage, raises instead of reporting zeros.
"""

from __future__ import annotations

import glob
import json
import os

COUNTERS = (
    "tasks",
    "cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "max_task_s",
    "records_written",
)


class EventLogError(RuntimeError):
    pass


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise EventLogError(f"expected one event log in {log_dir!r}, found {logs}")
    if logs[0].endswith(".inprogress"):
        raise EventLogError(f"event log {logs[0]!r} is unfinished; stop the session first")
    return logs[0]


def group_counters(log_path: str, labels: dict[str, str]) -> dict[str, dict[str, float]]:
    """``{layer: {counter: value}}`` for every layer in ``labels``, which maps
    a job group id to the layer it is charged to (several ids may share a
    layer, e.g. a streaming query's run id and its read-back).

    A stage belongs to the first job that lists it: later jobs list reused
    stages as skipped, and those run no tasks.
    """
    groups = sorted(set(labels.values()))
    stage_group: dict[int, str | None] = {}
    out = {g: dict.fromkeys(COUNTERS, 0) for g in groups}
    stages_seen: dict[str, set[int]] = {g: set() for g in groups}
    n_events = 0
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            n_events += 1
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = labels.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group not in out:
                    continue
                m = ev.get("Task Metrics")
                if m is None:
                    continue
                c = out[group]
                stages_seen[group].add(ev["Stage ID"])
                c["tasks"] += 1
                c["cpu_s"] += m["Executor CPU Time"] / 1e9
                c["gc_s"] += m["JVM GC Time"] / 1e3
                c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                c["max_task_s"] = max(c["max_task_s"], m["Executor Run Time"] / 1e3)
                c["records_written"] += m["Output Metrics"]["Records Written"]
    if n_events == 0:
        raise EventLogError(f"event log {log_path!r} is empty")
    empty = [g for g in groups if not stages_seen[g]]
    if empty:
        raise EventLogError(f"no stages attributed to job group(s) {empty} in {log_path!r}")
    for g in groups:
        out[g]["stages"] = len(stages_seen[g])
    return out
