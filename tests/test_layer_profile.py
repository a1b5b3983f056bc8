"""``tools/layer_profile.py --round`` over a small hand-written event log."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

# tools/ is not a package: load the script by path
_spec = importlib.util.spec_from_file_location(
    "layer_profile",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "layer_profile.py"),
)
prof = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(prof)

MB = 1 << 20


def _task(stage, run_ms, py_ms=0, shuffle_write=0, shuffle_read=0):
    acc = [{"Name": prof.PY_RUN_METRIC, "Update": str(py_ms)}] if py_ms else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
        },
    }


def _job_start(job, group, sql, stages, submit, call_site=None):
    props = {"spark.jobGroup.id": group}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    if call_site:
        props["callSite.short"] = call_site
    return {
        "Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit,
        "Stage Infos": [{"Stage ID": s, "Stage Name": f"parquet at stage {s}"} for s in stages],
        "Stage IDs": stages, "Properties": props,
    }


def _broadcast_plan(acc):
    return {"nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [
        {"nodeName": "BroadcastExchange", "children": [],
         "metrics": [{"name": "data size", "accumulatorId": acc, "metricType": "size"}]},
        {"nodeName": "Exchange", "children": [],
         "metrics": [{"name": "data size", "accumulatorId": acc + 1, "metricType": "size"}]},
    ]}


SQL_UI = "org.apache.spark.sql.execution.ui."
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job_start(0, "round-0-1", 1, [0], 1_000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(0, 100, py_ms=40, shuffle_write=MB),
    _task(0, 100, py_ms=60, shuffle_write=MB),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_500},
    # AQE posts the broadcast's size before the re-plan that names it
    {"Event": SQL_UI + "SparkListenerDriverAccumUpdates", "executionId": 1,
     "accumUpdates": [[7, 2 * MB], [8, 5 * MB]]},
    {"Event": SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 1,
     "sparkPlanInfo": _broadcast_plan(7)},
    # stage 0 is listed again but skipped: it ran under job 0
    _job_start(1, "round-0-1", 1, [0, 1], 1_600, call_site="collect at round.py:1"),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    _task(1, 30, shuffle_read=2 * MB),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_700},
    _job_start(2, "check-0", None, [2], 1_800),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    _task(2, 10),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_900},
]


def _log(tmp_path):
    path = tmp_path / "eventlog"
    path.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return str(path)


def test_read_jobs_charges_each_job_its_own_work(tmp_path):
    j0, j1, j2 = prof.read_jobs(_log(tmp_path))
    assert (j0.job, j0.group, j0.sql, j0.call_site) == (0, "round-0-1", 1, "parquet at stage 0")
    assert (j0.stages, j0.tasks, j0.run_ms, j0.py_ms, j0.wall_ms) == (1, 2, 200, 100, 500)
    assert (j0.broadcast_bytes, j0.shuffle_write, j0.shuffle_read) == (2 * MB, 2 * MB, 0)
    assert (j1.call_site, j1.stages, j1.tasks, j1.run_ms) == ("collect at round.py:1", 1, 1, 30)
    assert (j1.broadcast_bytes, j1.shuffle_read) == (0, 2 * MB)
    assert (j2.group, j2.sql) == ("check-0", None)


def test_round_table_lists_the_round_group(tmp_path, capsys):
    assert prof.main(["--round", _log(tmp_path)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "job group round-0-1: 2 jobs"
    assert [line.split()[0] for line in lines[2:]] == ["0", "1", "total"]
    total = lines[-1].split()
    # stages, tasks, wall (first submit to last end), run, py, bcast, shuffle w/r
    assert total[1:9] == ["2", "3", "0.70", "0.23", "0.10", "2.00", "2.00", "2.00"]

    prof.main(["--round", _log(tmp_path), "--group", "check-0"])
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "job group check-0: 1 jobs"
    assert lines[2].split()[:5] == ["2", "-", "1", "1", "0.10"]
