"""tools/stage_ledger.py on a hand-written event log (Spark-free): one
row per job group × SQL execution with its timing, plan root, write
flag and job counts by call site."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import stage_ledger  # noqa: E402

_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
_AQE = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"


def _plan(name, *children):
    return {"nodeName": name, "simpleString": name, "children": list(children)}


def _job(jid, t, group, execution, stages):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
         "Stage Infos": [{"Stage ID": sid, "Stage Name": name} for sid, name in stages],
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t + 10,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _events():
    meta_read = _plan("CollectLimit", _plan("Scan text "))
    write = _plan("AdaptiveSparkPlan", _plan(
        "Execute InsertIntoHadoopFsRelationCommand",
        _plan("WriteFiles", _plan("WholeStageCodegen (1)", _plan("Project"))),
    ))
    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": _SQL + "Start", "executionId": 7, "time": 1000, "sparkPlanInfo": meta_read},
        *_job(0, 1005, "batch0", 7, [(0, "call at py4j/clientserver.py:644")]),
        {"Event": _SQL + "End", "executionId": 7, "time": 1030},
        {"Event": _SQL + "Start", "executionId": 8, "time": 1100, "sparkPlanInfo": write},
        *_job(1, 1110, "batch0", 8, [(1, _AQE)]),
        *_job(2, 1120, "batch0", 8, [(2, _AQE), (3, _AQE)]),
        *_job(3, 1130, "batch0", 8, []),
        *_job(4, 1140, "batch0", 8, [(4, "parquet at NativeMethodAccessorImpl.java:0")]),
        {"Event": _SQL + "End", "executionId": 8, "time": 1200},
        *_job(5, 1300, "other", None, [(5, "javaToPython at NativeMethodAccessorImpl.java:0")]),
    ]


def test_rows_per_group_and_execution(tmp_path):
    log = tmp_path / "eventlog"
    log.mkdir()
    (log / "local-1").write_text("".join(json.dumps(e) + "\n" for e in _events()))
    rows = stage_ledger.read_log_dir(str(log))
    assert rows == [
        {"group": "batch0", "execution": 7, "start_ms": 0, "jobs": 1, "job_ms": 10,
         "wall_ms": 30, "root": "CollectLimit", "writes": False,
         "sites": {"CollectLimit": 1}},
        {"group": "batch0", "execution": 8, "start_ms": 100, "jobs": 4, "job_ms": 40,
         "wall_ms": 100, "root": "Execute InsertIntoHadoopFsRelationCommand",
         "writes": True, "sites": {"AQE stage": 2, "(no stages)": 1, "parquet": 1}},
        {"group": "other", "execution": "-", "start_ms": 300, "jobs": 1, "job_ms": 10,
         "wall_ms": 10, "root": "", "writes": False, "sites": {"javaToPython": 1}},
    ]
    table = stage_ledger.render([r for r in rows if r["group"].startswith("batch")])
    assert "| batch0 | 8 | 100 | 4 | 40 | 100 |" in table
    assert table.splitlines()[-1] == "batch0: 2 executions, 5 jobs, 50 job ms"
