"""Roll a Spark event log up into per-span layer metrics.

The benchmark tags every Spark action it issues with a local property
(``SPAN_PROPERTY``); Spark copies local properties into the
``SparkListenerJobStart`` and ``SparkListenerStageSubmitted`` events, so
every job, stage and task in the log maps back to the span that caused
it. SQL executions map to spans through the ``spark.sql.execution.id``
job property.

Input is the uncompressed JSON-lines event log
(``spark.eventLog.compress=false``); only the standard library is used.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from typing import Iterable, Iterator

SPAN_PROPERTY = "perfbench.span"

# SQL metric name (as Spark 4.1 names it) -> layer metric
PY_ACCUMS = {
    "time to start Python workers": "py.boot_ms",
    "time to initialize Python workers": "py.init_ms",
    "time to run Python workers": "py.run_ms",
    "data sent to Python workers": "py.bytes_in",
    "data returned from Python workers": "py.bytes_out",
}
TASK_ACCUMS = {
    "scan time": "scan.ms",
    "time in aggregation build": "agg.ms",
    "sort time": "agg.ms",
    "task commit time": "sink.commit_ms",
    **PY_ACCUMS,
}
# metrics the driver posts once per execution (SparkListenerDriverAccumUpdates)
DRIVER_ACCUMS = {
    "number of files read": "scan.files",
    "size of files read": "scan.bytes",
    "number of written files": "sink.files",
    "written output": "sink.bytes",
    "job commit time": "sink.commit_ms",
}
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

LAYER_KEYS = (
    "spark.jobs",
    "task.count", "task.run_ms", "task.cpu_ms", "task.deser_ms", "jvm.gc_ms",
    "scan.ms", "scan.bytes", "scan.files", "scan.passes",
    "py.tasks", "py.boot_ms", "py.init_ms", "py.run_ms", "py.bytes_in", "py.bytes_out",
    "sink.write_ms", "sink.commit_ms", "sink.bytes", "sink.files", "sink.rows",
    "cache.mb",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "agg.ms", "spill.bytes", "task.straggler",
)


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _plan_has(node: dict, name: str) -> bool:
    if node.get("nodeName") == name:
        return True
    return any(_plan_has(c, name) for c in node.get("children", ()))


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _py_init_ms(task: dict, task_ms: float) -> float:
    """A task's Python worker init time, at most the part of the task's
    own wall time not spent running Python. A Python worker stamps its
    boot time before it blocks waiting for its next task, so a reused
    worker reports every idle gap since its previous task as init."""
    return min(task.get("py.init_ms", 0.0), max(0.0, task_ms - task["py.run_ms"]))


def rollup(
    events: Iterable[dict], group: dict[str, str] | None = None
) -> dict[str, dict[str, float]]:
    """Per-span totals of the layer metrics in ``LAYER_KEYS`` plus
    ``first_job_ms`` (earliest job submission, epoch ms). ``group`` maps a
    span id to the key it is rolled up under (for example its root span);
    unmapped spans are their own key. Events of jobs without a span
    property are ignored. The events must come from one application:
    stage, execution and accumulator ids restart in every application."""
    group = group or {}

    def span_of(props: dict | None):
        span = (props or {}).get(SPAN_PROPERTY)
        return group.get(span, span)

    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    first_job: dict[str, float] = {}
    stage_span: dict[tuple, str] = {}
    stage_tasks: dict[tuple, list] = defaultdict(list)
    stage_wall: dict[tuple, float] = {}
    exec_span: dict[int, str] = {}
    exec_root: dict[int, int] = {}
    exec_start: dict[int, float] = {}
    write_execs: set = set()
    accum_names: dict[int, str] = {}
    blocks: dict[str, float] = {}
    current_span = None
    pending_driver: list = []

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = span_of(props)
            current_span = span
            if span is None:
                continue
            acc[span]["spark.jobs"] += 1
            t = e["Submission Time"]
            first_job[span] = min(first_job.get(span, t), t)
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), span)
        elif kind == "SparkListenerStageSubmitted":
            span = span_of(e.get("Properties"))
            info = e["Stage Info"]
            if span is not None:
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = span
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if key in stage_span and info.get("Completion Time"):
                stage_wall[key] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            span = stage_span.get(key)
            if span is None:
                continue
            a = acc[span]
            info = e["Task Info"]
            stage_tasks[key].append(info["Finish Time"] - info["Launch Time"])
            m = e.get("Task Metrics") or {}
            a["task.count"] += 1
            a["task.run_ms"] += m.get("Executor Run Time", 0)
            a["task.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            a["task.deser_ms"] += m.get("Executor Deserialize Time", 0)
            a["jvm.gc_ms"] += m.get("JVM GC Time", 0)
            a["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            a["sink.rows"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            task = defaultdict(float)
            for u in info.get("Accumulables", ()):
                name = TASK_ACCUMS.get(u.get("Name"))
                if name is not None:
                    task[name] += _num(u.get("Update"))
            if "py.run_ms" in task:
                a["py.tasks"] += 1
                task["py.init_ms"] = _py_init_ms(task, stage_tasks[key][-1])
            for name, value in task.items():
                a[name] += value
        elif kind.endswith("SQLExecutionStart"):
            eid = e["executionId"]
            exec_root[eid] = e.get("rootExecutionId", eid)
            exec_start[eid] = e["time"]
            _plan_metrics(e["sparkPlanInfo"], accum_names)
            if _plan_has(e["sparkPlanInfo"], WRITE_NODE):
                write_execs.add(eid)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], accum_names)
        elif kind.endswith("SQLExecutionEnd"):
            eid = e["executionId"]
            span = exec_span.get(eid)
            if span is not None and eid in write_execs and eid in exec_start:
                acc[span]["sink.write_ms"] += e["time"] - exec_start[eid]
        elif kind.endswith("DriverAccumUpdates"):
            # a driver update can precede the execution's first job, so
            # resolve its span once the whole log has been read
            pending_driver.append((e["executionId"], e["accumUpdates"]))
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            block = info["Block ID"]
            if not block.startswith("rdd_") or current_span is None:
                continue
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if size:
                blocks[block] = size
            else:
                blocks.pop(block, None)
            mb = sum(blocks.values()) / 2**20
            a = acc[current_span]
            a["cache.mb"] = max(a["cache.mb"], mb)

    # an execution without jobs of its own (a streaming micro-batch's
    # scan, say) belongs to the span of a job under the same root
    root_span = {exec_root.get(eid, eid): span for eid, span in exec_span.items()}
    for eid, updates in pending_driver:
        span = exec_span.get(eid, root_span.get(exec_root.get(eid, eid)))
        if span is None:
            continue
        for acc_id, value in updates:
            name = accum_names.get(acc_id)
            layer = DRIVER_ACCUMS.get(name)
            if layer is None:
                continue
            acc[span][layer] += _num(value)
            if name == "number of files read" and _num(value) > 0:
                acc[span]["scan.passes"] += 1

    # straggler: max/median task time of the span's longest stage
    longest: dict[str, tuple] = {}
    for key, wall in stage_wall.items():
        span = stage_span[key]
        if key in stage_tasks and wall >= longest.get(span, (-1,))[0]:
            longest[span] = (wall, key)
    for span, (_, key) in longest.items():
        times = stage_tasks[key]
        med = statistics.median(times)
        acc[span]["task.straggler"] = max(times) / med if med > 0 else 1.0

    out = {}
    for span, a in acc.items():
        row = {k: float(a.get(k, 0.0)) for k in LAYER_KEYS}
        if span in first_job:
            row["first_job_ms"] = float(first_job[span])
        out[span] = row
    return out
