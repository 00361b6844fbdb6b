"""Fold Spark's event log into the benchmark's spans.

Spark writes one JSON object per line (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``) to
``<dir>/eventlog_v2_<app>/events_1_<app>``. This reader keeps three kinds of
record — SQL executions, jobs and completed stages — and attributes each to
the innermost span whose time window contains its start. Attribution is
by time, not by job group: the engine runs some jobs from its own driver
thread pools, which do not inherit a job group, and the benchmark has one
op in flight at a time, so the time window is exact.

Stdlib only; times in the log are epoch milliseconds, spans carry epoch
seconds.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Stage:
    submitted: float
    completed: float
    executor_run_s: float
    shuffle_write_bytes: int
    input_bytes: int


@dataclass
class EventLog:
    sql: list[tuple[float, float]] = field(default_factory=list)  # (start, end) epoch s
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)


def find_log(log_dir: str) -> str:
    """The application's event log file under ``log_dir``."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return paths[0]


def _accum(stage_info: dict) -> dict[str, float]:
    return {
        a["Name"]: float(a["Value"])
        for a in stage_info.get("Accumulables", [])
        if a.get("Name", "").startswith("internal.metrics.") and "Value" in a
    }


def parse(lines) -> EventLog:
    """Read event-log lines (an open file or any iterable of str)."""
    log = EventLog()
    sql_open: dict[int, float] = {}
    job_open: dict[int, float] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == _SQL_START:
            sql_open[e["executionId"]] = e["time"] / 1000.0
        elif kind == _SQL_END:
            start = sql_open.pop(e["executionId"], None)
            if start is not None:
                log.sql.append((start, e["time"] / 1000.0))
        elif kind == "SparkListenerJobStart":
            job_open[e["Job ID"]] = e["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            start = job_open.pop(e["Job ID"], None)
            if start is not None:
                log.jobs.append((start, e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si or "Completion Time" not in si:
                continue
            m = _accum(si)
            log.stages.append(
                Stage(
                    si["Submission Time"] / 1000.0,
                    si["Completion Time"] / 1000.0,
                    m.get("internal.metrics.executorRunTime", 0.0) / 1000.0,
                    int(m.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                    int(m.get("internal.metrics.input.bytesRead", 0)),
                )
            )
    return log


def read(log_dir: str) -> EventLog:
    with open(find_log(log_dir)) as f:
        return parse(f)


def _innermost(spans: list[dict], t: float) -> int | None:
    """Index of the shortest span whose [start, end] holds ``t``."""
    best, best_len = None, None
    for i, s in enumerate(spans):
        if s["start"] <= t <= s["end"]:
            length = s["end"] - s["start"]
            if best_len is None or length < best_len:
                best, best_len = i, length
    return best


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(spans: list[dict], log: EventLog) -> list[dict]:
    """One record per span (same order), covering the span and every span
    nested in it: wall time, SQL-execution time (union of executions
    attributed to the subtree, clipped to the span), driver-only time
    (wall minus SQL time), and the subtree's stage counters.

    ``spans`` are dicts with ``name``, ``start``, ``end``, ``parent``
    (index into ``spans`` or None)."""
    own_sql: list[list[tuple[float, float]]] = [[] for _ in spans]
    own_stages: list[list[Stage]] = [[] for _ in spans]
    own_jobs = [0] * len(spans)
    for s, e in log.sql:
        i = _innermost(spans, s)
        if i is not None:
            own_sql[i].append((s, e))
    for st in log.stages:
        i = _innermost(spans, st.submitted)
        if i is not None:
            own_stages[i].append(st)
    for s, _ in log.jobs:
        i = _innermost(spans, s)
        if i is not None:
            own_jobs[i] += 1

    children: list[list[int]] = [[] for _ in spans]
    for i, s in enumerate(spans):
        if s.get("parent") is not None:
            children[s["parent"]].append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(children[j])
        return out

    records = []
    for i, s in enumerate(spans):
        ids = subtree(i)
        wall = s["end"] - s["start"]
        sql = [
            (max(a, s["start"]), min(b, s["end"]))
            for j in ids
            for a, b in own_sql[j]
            if min(b, s["end"]) > max(a, s["start"])
        ]
        sql_s = _union_len(sql)
        stages = [st for j in ids for st in own_stages[j]]
        records.append(
            {
                "name": s["name"],
                "wall_s": wall,
                "sql_s": sql_s,
                "driver_only_s": max(0.0, wall - sql_s),
                "sql_executions": sum(len(own_sql[j]) for j in ids),
                "jobs": sum(own_jobs[j] for j in ids),
                "stages": len(stages),
                "executor_run_s": sum(st.executor_run_s for st in stages),
                "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
                "input_bytes": sum(st.input_bytes for st in stages),
            }
        )
    return records
