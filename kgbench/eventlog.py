"""Reader for Spark's own event log, for the benchmark's traced runs.

The traced run tags every Spark job it causes with a job group named after
the call it made (``<run>/<module>.<function>``) and runs with
``spark.eventLog.enabled`` and ``spark.eventLog.compress=false``. This module
reads that log back: jobs, stages and SQL executions, each stage with the
counters Spark accumulated for it, grouped by ``spark.jobGroup.id`` and by
``spark.sql.execution.id``. It is offline only and needs no Spark.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


@dataclass
class Stage:
    stage_id: int
    n_tasks: int
    scopes: frozenset[str]
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    execution_id: int | None
    stage_ids: list[int]


@dataclass
class Execution:
    execution_id: int
    group: str | None
    action: str
    start_ms: int
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: list[Stage]  # completed stage attempts, in order; skipped stages never run
    executions: dict[int, Execution]

    def jobs_in(self, prefix: str) -> list[Job]:
        """Jobs whose job group is ``prefix`` or lies under ``prefix/``."""
        return [j for j in self.jobs.values() if _under(j.group, prefix)]

    def stages_in(self, prefix: str) -> list[Stage]:
        """Completed stage attempts of the jobs under ``prefix``. A stage
        shared by two jobs of the group is counted once."""
        ids = {s for j in self.jobs_in(prefix) for s in j.stage_ids}
        return [s for s in self.stages if s.stage_id in ids]

    def executions_in(self, prefix: str) -> list[Execution]:
        ex = [e for e in self.executions.values() if _under(e.group, prefix)]
        return sorted(ex, key=lambda e: e.start_ms)


def _under(group: str | None, prefix: str) -> bool:
    return group is not None and (group == prefix or group.startswith(prefix + "/"))


def action_of(details: str) -> str:
    """``org.apache.spark.sql.classic.DataFrameWriter.parquet(...)`` ->
    ``DataFrameWriter.parquet``: the first call-site frame of a SQL
    execution names the action that started it."""
    frame = details.split("\n", 1)[0].split("(", 1)[0]
    return ".".join(frame.split(".")[-2:])


def python_stage_runs(stages: list[Stage], scope: str) -> int:
    """Stage runs that contain the Python operator ``scope``."""
    return sum(1 for s in stages if scope in s.scopes)


def _scope_name(scope: str) -> str | None:
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def event_files(log_dir: str) -> list[str]:
    """The numbered ``events_<n>_*`` parts of the rolling ``eventlog_v2_*``
    directory under ``log_dir``, in order. The benchmark's session sets
    ``spark.eventLog.rolling.enabled``, so this is the only layout."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read(log_dir: str) -> EventLog:
    """Parse every event file under ``log_dir`` (uncompressed JSON lines)."""
    files = event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stages: list[Stage] = []
    executions: dict[int, Execution] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        int(ex) if ex is not None else None,
                        list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = {_scope_name(r["Scope"]) for r in info.get("RDD Info", []) if "Scope" in r}
                    st = Stage(
                        info["Stage ID"], info["Number of Tasks"], frozenset(s for s in scopes if s)
                    )
                    for acc in info.get("Accumulables", []):
                        attr = _ACCUMULABLES.get(acc.get("Name"))
                        if attr is not None:
                            setattr(st, attr, int(acc["Value"]))
                    stages.append(st)
                elif kind == _SQL_START:
                    executions[ev["executionId"]] = Execution(
                        ev["executionId"], ev.get("jobGroupId"), action_of(ev.get("details", "")),
                        ev["time"],
                    )
                elif kind == _SQL_END:
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]].end_ms = ev["time"]
    return EventLog(jobs, stages, executions)


def totals(stages: list[Stage]) -> dict[str, float]:
    """Counters summed over stage attempts, in the units the benchmark
    reports: seconds and MB (10**6 bytes)."""
    run_s = sum(s.run_ms for s in stages) / 1e3
    cpu_s = sum(s.cpu_ns for s in stages) / 1e9
    return {
        "stages": len(stages),
        "tasks": sum(s.n_tasks for s in stages),
        "executor_run_s": run_s,
        "executor_cpu_s": cpu_s,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        "spill_mb": sum(s.spill_bytes for s in stages) / 1e6,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "task_offcpu_frac": 1.0 - cpu_s / run_s if run_s > 0 else 0.0,
    }
