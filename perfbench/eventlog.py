"""Fold a Spark 4 event log into per-layer numbers.

Reads the uncompressed rolling log Spark writes with
`spark.eventLog.enabled=true` and `spark.eventLog.compress=false`: a
directory `eventlog_v2_<app id>/` holding `events_<n>_<app id>` files of
one JSON event per line.

Tasks are attributed task -> stage -> job -> SQL execution.  An execution
is named by the directory its `InsertIntoHadoopFsRelationCommand` writes,
relative to a caller-given root; an execution that writes nothing gets the
name "".  Job groups are not used: jobs submitted from pool threads lose
the thread-local group, but they keep the SQL execution id.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."
_INSERT = "Execute InsertIntoHadoopFsRelationCommand"
_ARGS = re.compile(r"Arguments: (?:file:)?([^,\s]+),")


@dataclass
class Execution:
    id: int
    root: int
    start: float
    end: float = 0.0
    out_path: str | None = None


@dataclass
class Task:
    stage: int
    launch: float
    run_s: float
    jvm_cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int
    output_b: int
    rows_written: int


@dataclass
class EventLog:
    executions: dict[int, Execution] = field(default_factory=dict)
    job_exec: dict[int, int | None] = field(default_factory=dict)
    job_submit: dict[int, float] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_submit: dict[int, float] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def task_exec(self, t: Task) -> int | None:
        job = self.stage_job.get(t.stage)
        ex = self.job_exec.get(job) if job is not None else None
        return self.executions[ex].root if ex in self.executions else None


def _insert_path(plan: str) -> str | None:
    i = plan.find(") " + _INSERT)
    m = _ARGS.search(plan, i) if i >= 0 else None
    return m.group(1) if m else None


def log_files(log_dir: Path) -> list[Path]:
    """The event files of the single `eventlog_v2_*` app under `log_dir`
    (or `log_dir` itself when it is that app directory), in roll order."""
    apps = [log_dir] if log_dir.name.startswith("eventlog_v2_") else sorted(
        log_dir.glob("eventlog_v2_*"))
    if len(apps) != 1:
        raise ValueError(f"expected one eventlog_v2_* app under {log_dir}, found {len(apps)}")
    return sorted(apps[0].glob("events_*"), key=lambda p: int(p.name.split("_")[1]))


def load(log_dir: Path) -> EventLog:
    log = EventLog()
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == _SQL + "SparkListenerSQLExecutionStart":
        ex = Execution(e["executionId"], e.get("rootExecutionId", e["executionId"]),
                       e["time"] / 1000, out_path=_insert_path(e["physicalPlanDescription"]))
        log.executions[ex.id] = ex
    elif kind == _SQL + "SparkListenerSQLExecutionEnd":
        if e["executionId"] in log.executions:
            log.executions[e["executionId"]].end = e["time"] / 1000
    elif kind == "SparkListenerJobStart":
        ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
        log.job_exec[e["Job ID"]] = int(ex) if ex is not None else None
        log.job_submit[e["Job ID"]] = e["Submission Time"] / 1000
        for s in e["Stage IDs"]:
            log.stage_job.setdefault(s, e["Job ID"])
    elif kind == "SparkListenerStageSubmitted":
        info = e["Stage Info"]
        log.stage_submit.setdefault(info["Stage ID"], info["Submission Time"] / 1000)
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics")
        if not m:
            return
        log.tasks.append(Task(
            stage=e["Stage ID"],
            launch=e["Task Info"]["Launch Time"] / 1000,
            run_s=m["Executor Run Time"] / 1000,
            jvm_cpu_s=m["Executor CPU Time"] / 1e9,
            gc_s=m["JVM GC Time"] / 1000,
            shuffle_write_b=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
            spill_b=m["Disk Bytes Spilled"],
            output_b=m["Output Metrics"]["Bytes Written"],
            rows_written=m["Output Metrics"]["Records Written"],
        ))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > cur_end:
            total += b - max(a, cur_end)
            cur_end = b
    return total


def _sum_tasks(log: EventLog, tasks: list[Task]) -> dict[str, float]:
    return {
        "task_s": sum(t.run_s for t in tasks),
        "jvm_cpu_s": sum(t.jvm_cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "core_wait_s": sum(max(t.launch - log.stage_submit.get(t.stage, t.launch), 0.0)
                           for t in tasks),
        "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / 2**20,
        "spill_mb": sum(t.spill_b for t in tasks) / 2**20,
        "output_mb": sum(t.output_b for t in tasks) / 2**20,
        "rows_written": sum(t.rows_written for t in tasks),
    }


def executions_in(log: EventLog, t0: float, t1: float) -> list[Execution]:
    """Root executions that started inside [t0, t1]."""
    return [x for x in log.executions.values() if x.id == x.root and t0 <= x.start <= t1]


def fold_by_output(log: EventLog, out_root: str, t0: float, t1: float) -> dict[str, dict]:
    """Per output directory under `out_root` (first path component), the
    metrics of the root executions started in [t0, t1].  Executions that
    write nothing are folded under ""; writes outside `out_root` are left
    out."""
    root = out_root.rstrip("/") + "/"
    names: dict[int, str] = {}
    for x in executions_in(log, t0, t1):
        if x.out_path is None:
            names[x.id] = ""
        elif x.out_path.startswith(root):
            names[x.id] = x.out_path[len(root):].split("/", 1)[0]
    out: dict[str, dict] = {}
    for name in sorted(set(names.values())):
        ids = {i for i, n in names.items() if n == name}
        tasks = [t for t in log.tasks if log.task_exec(t) in ids]
        row = _sum_tasks(log, tasks)
        row["wall_s"] = _union_s([(log.executions[i].start, log.executions[i].end) for i in ids])
        row["jobs"] = sum(1 for j, x in log.job_exec.items()
                          if x is not None and log.executions.get(x) and log.executions[x].root in ids)
        out[name] = row
    return out


def fold_window(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """Metrics of the tasks launched, and jobs submitted, in [t0, t1]."""
    row = _sum_tasks(log, [t for t in log.tasks if t0 <= t.launch <= t1])
    row["wall_s"] = t1 - t0
    row["jobs"] = sum(1 for s in log.job_submit.values() if t0 <= s <= t1)
    return row


def driver_s(log: EventLog, t0: float, t1: float) -> float:
    """Time in [t0, t1] not covered by any SQL execution."""
    spans = [(max(x.start, t0), min(x.end or t1, t1))
             for x in log.executions.values() if x.start < t1 and (x.end or t1) > t0]
    return (t1 - t0) - _union_s(spans)
