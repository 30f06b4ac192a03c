"""Reader for Spark's JSON-lines event log (uncompressed, not rolled).

Jobs and stages are attributed to the ``jmrf.span`` local property they
were submitted under; tasks inherit their stage's span. The SQL listener
events give each job its SQL execution's start time and name the
accumulators that carry Python-worker metrics.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

SPAN_PROPERTY = "jmrf.span"

#: Spark 4.1 ``PythonSQLMetrics`` display names -> metric key.
PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_received",
}
_PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class Job:
    span: int | None
    #: start of the job's root SQL execution (epoch seconds), if any
    execution_start: float | None


@dataclass
class Stage:
    span: int | None
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    deser_s: float = 0.0
    sched_delay_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_partitions: list[int] = field(default_factory=list)
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)


def _span_of(props: dict | None) -> int | None:
    value = (props or {}).get(SPAN_PROPERTY)
    return None if value in (None, "") else int(value)


def _python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    name = plan.get("nodeName", "")
    if any(m in name for m in _PYTHON_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            key = PYTHON_METRICS.get(metric.get("name"))
            if key is not None:
                scale = _SCALE.get(metric.get("metricType"), 1.0)
                out[int(metric["accumulatorId"])] = (key, scale)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _num(value) -> float:
    return float(value) if value not in (None, "") else 0.0


def read_app(lines, log: EventLog) -> None:
    """Add one application's events to ``log``."""
    stages: dict[tuple[int, int], Stage] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    sql_start: dict[int, float] = {}
    jobs: dict[int, Job] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            jobs[ev["Job ID"]] = Job(
                _span_of(props),
                None if exec_id in (None, "") else sql_start.get(int(exec_id)),
            )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage = Stage(_span_of(ev.get("Properties")))
            stage.scan_partitions = [
                int(r["Number of Partitions"])
                for r in info.get("RDD Info", [])
                if r.get("Name") == "FileScanRDD"
            ]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = stage
        elif kind == "SparkListenerTaskEnd":
            stage = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if stage is None:
                continue
            info = ev.get("Task Info", {})
            metrics = ev.get("Task Metrics") or {}
            stage.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                stage.failed_tasks += 1
            run_ms = _num(metrics.get("Executor Run Time"))
            deser_ms = _num(metrics.get("Executor Deserialize Time"))
            wall_ms = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
            overhead_ms = (
                run_ms
                + deser_ms
                + _num(metrics.get("Result Serialization Time"))
                + _num(info.get("Getting Result Time"))
            )
            stage.run_s += run_ms / 1e3
            stage.cpu_s += _num(metrics.get("Executor CPU Time")) / 1e9
            stage.deser_s += deser_ms / 1e3
            stage.sched_delay_s += max(0.0, wall_ms - overhead_ms) / 1e3
            stage.input_bytes += int(
                _num((metrics.get("Input Metrics") or {}).get("Bytes Read"))
            )
            shuffle_read = metrics.get("Shuffle Read Metrics") or {}
            stage.shuffle_read_bytes += int(
                _num(shuffle_read.get("Remote Bytes Read"))
                + _num(shuffle_read.get("Local Bytes Read"))
            )
            stage.shuffle_write_bytes += int(
                _num((metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            )
            stage.spill_bytes += int(_num(metrics.get("Disk Bytes Spilled")))
            for acc in info.get("Accumulables", []):
                found = py_acc.get(int(acc.get("ID", -1)))
                if found is not None:
                    key, scale = found
                    stage.python[key] = stage.python.get(key, 0.0) + _num(
                        acc.get("Update")
                    ) * scale
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_start[int(ev["executionId"])] = ev["time"] / 1e3
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    log.jobs.extend(jobs.values())
    log.stages.extend(stages.values())


def read(paths) -> EventLog:
    log = EventLog()
    for path in sorted(paths):
        with open(path) as f:
            read_app(f, log)
    return log
