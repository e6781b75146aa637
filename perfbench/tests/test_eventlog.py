import json

import pytest

from perfbench import eventlog
from perfbench.trace import Span, spark_metrics

SQL = "org.apache.spark.sql.execution.ui."
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "sparkPlanInfo": {
        "nodeName": "FlatMapGroupsInPandas",
        "metrics": [{"name": "time to run Python workers", "accumulatorId": 101},
                    {"name": "data sent to Python workers", "accumulatorId": 102}],
        "children": [{"nodeName": "BatchEvalPython", "children": [], "metrics": [
            {"name": "time to initialize Python workers", "accumulatorId": 201}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "pb:3", "callSite.short": "collect at x.py:1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Metrics": {"Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 500,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}},
     "Task Info": {"Accumulables": [
         {"ID": 101, "Name": "time to run Python workers", "Update": "40"},
         {"ID": 102, "Name": "data sent to Python workers", "Update": 2_000_000},
         {"ID": 201, "Name": "time to initialize Python workers", "Update": 7},
         {"ID": 9, "Name": "number of output rows", "Update": 3}]}},
    {"Event": SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates", "executionId": 0,
     "sqlPlanMetrics": [{"name": "time to run Python workers", "accumulatorId": 301}]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 1},
     "Task Info": {"Accumulables": [
         {"ID": 301, "Name": "time to run Python workers", "Update": "5"}]}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700, "Stage IDs": [2],
     "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 5},
     "Task Info": {"Accumulables": []}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
]


@pytest.fixture()
def log(tmp_path):
    d = tmp_path / "events" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    (d / "appstatus_local-1").write_text("")
    path = d / "events_1_local-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return str(tmp_path / "events")


def test_jobs_carry_group_tasks_and_python_metrics_by_node(log):
    jobs = eventlog.read_jobs(eventlog.find_log(log))
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0.group, j0.call_site, j0.submit_ms, j0.end_ms) == ("pb:3", "collect at x.py:1", 1000, 1600)
    assert (j0.tasks, j0.cpu_ns, j0.shuffle_write_b, j0.spill_b) == (2, 2_000_000_001, 1000, 500)
    assert j0.python == {"python_run_ms": 45.0, "python_sent_b": 2e6, "python_init_ms": 7.0}
    assert j0.python_by_node["FlatMapGroupsInPandas"] == {
        "python_run_ms": 40.0, "python_sent_b": 2e6, "tasks": 1}
    assert j0.python_by_node["BatchEvalPython"] == {"python_init_ms": 7.0, "tasks": 1}
    assert j0.python_by_node[eventlog.ADAPTIVE_NODE] == {"python_run_ms": 5.0, "tasks": 1}
    assert (j1.group, j1.tasks, j1.python) == (None, 1, {})


def test_spans_attribute_jobs_and_measure_driver_gap(log):
    jobs = eventlog.read_jobs(eventlog.find_log(log))
    root = Span(2, None, "round", "cold", 0.9, 2.0)
    child = Span(3, 2, "upload", "cold", 1.0, 1.65)
    m = spark_metrics(jobs, [root, child], [root])
    assert m["spark.jobs"] == 1 and m["spark.tasks"] == 2
    assert m["spark.executor_cpu_s"] == pytest.approx(2.0, abs=1e-6)
    assert m["python.worker_run_s"] == pytest.approx(0.045)
    assert m["python.mb_sent"] == pytest.approx(2.0)
    # 1.1 s of span, 0.6 s of it covered by job 0; job 1 ran under no span
    assert m["driver.gap_s"] == pytest.approx(0.5)


def test_covered_ms_merges_overlaps_and_clips():
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog.covered_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert eventlog.covered_ms([], 0, 10) == 0
