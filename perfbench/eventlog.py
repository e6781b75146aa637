"""Reader for an uncompressed Spark event log.

Turns the JSON-lines log into per-job records the tracer can attribute
to its spans: the job group (the span the job ran under), the call site
PySpark recorded, the job's wall interval, and its tasks' totals (count,
executor CPU, shuffle bytes written, bytes spilled, and the Python
worker metrics Spark reports as SQL metrics). Python metrics are also
split by the physical plan node that owns them, so the batcher's
``FlatMapGroupsInPandas`` can be told apart from other Python nodes.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PYTHON_METRICS = {
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_start_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_b",
}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
# Metrics that adaptive re-planning registers outside any plan tree (for
# example inside a cached relation) carry no node name.
ADAPTIVE_NODE = "(adaptive)"


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    python: dict[str, float] = field(default_factory=dict)  # PYTHON_METRICS values
    python_by_node: dict[str, dict[str, float]] = field(default_factory=dict)


def find_log(event_dir: str) -> str:
    """The single application's log file (plain or rolling layout)."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    if len(paths) != 1:
        raise ValueError(f"expected one event log under {event_dir}, found {paths}")
    return paths[0]


def _plan_nodes(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = plan.get("nodeName", "")
    for child in plan.get("children", []):
        _plan_nodes(child, out)


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    acc_node: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(
                    e["Job ID"], props.get("spark.jobGroup.id"), props.get("callSite.short"),
                    e["Submission Time"], stage_ids=list(e.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind in (_SQL_START, _SQL_AQE):
                _plan_nodes(e.get("sparkPlanInfo") or {}, acc_node)
            elif kind == _SQL_AQE_METRICS:
                for m in e.get("sqlPlanMetrics", []):
                    acc_node.setdefault(m["accumulatorId"], ADAPTIVE_NODE)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                if job is None:
                    continue
                m = e.get("Task Metrics") or {}
                job.tasks += 1
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_b += m.get("Disk Bytes Spilled", 0)
                nodes = set()
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    value = float(acc.get("Update") or 0)
                    job.python[key] = job.python.get(key, 0.0) + value
                    name = acc_node.get(acc.get("ID"), "")
                    node = job.python_by_node.setdefault(name, {})
                    node[key] = node.get(key, 0.0) + value
                    nodes.add(name)
                for name in nodes:
                    node = job.python_by_node[name]
                    node["tasks"] = node.get("tasks", 0) + 1
    return sorted(jobs.values(), key=lambda j: j.job_id)


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
