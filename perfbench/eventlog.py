"""Reduce a Spark JSON event log into per-(span, stage) rows and
per-operator SQL metrics, with nothing but the stdlib ``json`` module.

Spans reach Spark as the job description (``setJobDescription``) that
was active when a job was submitted, so every job, stage and SQL
execution in the log carries the span path that caused it.

With adaptive query execution on, the executed plan changes while a
query runs. The plan tree of every ``SparkListenerSQLAdaptiveExecutionUpdate``
and the metrics of every ``SparkListenerSQLAdaptiveSQLMetricUpdates`` are
merged into one accumulator map per execution, so metrics of re-planned
operators are read from the log and never by walking the plan over py4j.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_EVENT = "org.apache.spark.sql.execution.ui."


@dataclass
class StageRow:
    """Task totals of one stage, attributed to the span of its job."""

    span: str
    stage: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_rows: int = 0
    output_bytes: int = 0


@dataclass
class SqlMetric:
    """One operator metric of one SQL execution.

    ``ancestors`` lists the (nodeName, simpleString) of the operators
    above the metric's node, nearest first.
    """

    span: str
    execution: int
    node: str
    node_string: str
    name: str
    value: int
    ancestors: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Reduced:
    jobs: dict[int, str]  # job id -> span path
    stages: list[StageRow]
    sql: list[SqlMetric]
    executions: dict[int, tuple[str, int, int]]  # id -> (span, start ms, end ms)


def _walk(plan: dict, ancestors: list[tuple[str, str]], out: dict) -> None:
    node = (plan.get("nodeName", ""), plan.get("simpleString", ""))
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"], list(ancestors))
    for child in plan.get("children", []):
        _walk(child, [node, *ancestors], out)


def reduce_events(lines) -> Reduced:
    """Reduce an iterable of event-log lines (JSON strings)."""
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    exec_span: dict[int, str] = {}
    exec_time: dict[int, list[int]] = {}
    accums: dict[int, dict[int, tuple]] = defaultdict(dict)  # exec -> acc -> meta
    acc_value: dict[int, int] = defaultdict(int)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job_span[e["Job ID"]] = props.get("spark.job.description") or ""
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if tm:
                s = stages[e["Stage ID"]]
                s["tasks"] += 1
                s["run_ms"] += tm["Executor Run Time"]
                s["cpu_ms"] += tm["Executor CPU Time"] / 1e6
                s["gc_ms"] += tm["JVM GC Time"]
                s["spill_bytes"] += tm["Disk Bytes Spilled"]
                s["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s["output_rows"] += tm["Output Metrics"]["Records Written"]
                s["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    acc_value[acc["ID"]] += int(acc["Update"])
        elif kind == _SQL_EVENT + "SparkListenerSQLExecutionStart":
            ex = e["executionId"]
            exec_span[ex] = e.get("description") or ""
            exec_time[ex] = [e["time"], e["time"]]
            _walk(e["sparkPlanInfo"], [], accums[ex])
        elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk(e["sparkPlanInfo"], [], accums[e["executionId"]])
        elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", []):
                accums[e["executionId"]].setdefault(
                    m["accumulatorId"], (("", ""), m["name"], [])
                )
        elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                acc_value[acc_id] += int(value)
        elif kind == _SQL_EVENT + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in exec_time:
                exec_time[e["executionId"]][1] = e["time"]
    stage_rows = []
    for sid in sorted(stages):
        s = stages[sid]
        row = StageRow(span=job_span.get(stage_job.get(sid, -1), ""), stage=sid)
        for k, v in s.items():
            setattr(row, k, v if k == "cpu_ms" else int(v))
        stage_rows.append(row)
    sql = [
        SqlMetric(
            span=exec_span.get(ex, ""),
            execution=ex,
            node=node[0],
            node_string=node[1],
            name=name,
            value=acc_value[acc_id],
            ancestors=anc,
        )
        for ex in sorted(accums)
        for acc_id, (node, name, anc) in sorted(accums[ex].items())
        if acc_id in acc_value
    ]
    executions = {
        ex: (exec_span.get(ex, ""), t[0], t[1]) for ex, t in exec_time.items()
    }
    return Reduced(job_span, stage_rows, sql, executions)


def read_event_log(path) -> Reduced:
    with open(path, encoding="utf-8") as f:
        return reduce_events(f)
