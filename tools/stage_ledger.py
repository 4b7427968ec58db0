"""Stage ledger: one row per job group × SQL execution, from Spark's
JSON event log.

Spark writes the log when ``spark.eventLog.enabled=true`` (uncompressed,
``spark.eventLog.compress=false``); ``perfbench/run.py --trace 1`` leaves
one under ``.perfbench/work/<workload>/eventlog``. Each row is one SQL
execution (a collect, a write, a cached relation's materialization …)
inside one job group, or the group's jobs that ran outside any SQL
execution (execution ``-``), with:

- ``start_ms``: offset of the execution's start (else its first job's
  submission) from the log's first execution or job;
- ``jobs``, ``job_ms`` (the jobs' submit-to-end times, summed) and
  ``wall_ms`` (the execution's start to end, else first submit to last
  job end);
- ``root``: the physical plan's root node, under ``AdaptiveSparkPlan``
  and ``WholeStageCodegen`` wrappers;
- ``writes``: whether the plan writes files;
- ``sites``: job counts by call-site name — the function in the job's
  result-stage name (``parquet``, ``javaToPython``, ``text`` …), or
  ``AQE stage`` for stages that adaptive execution submits from its
  own threads (query stages, broadcasts). A job whose stage PySpark
  named after a Python frame (a collect in a ``foreachBatch`` body or
  on a worker thread) is named by its execution's root node instead
  (e.g. ``CollectLimit``).

Usage: python tools/stage_ledger.py EVENT_LOG_DIR [--group PREFIX]
"""

from __future__ import annotations

import argparse
import json
import os
import re
from collections import Counter

_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
_WRAPPERS = ("AdaptiveSparkPlan", "ResultQueryStage", "InputAdapter")
_WRITE = re.compile(r"InsertInto|WriteFiles|SaveIntoDataSource|AppendData|Overwrite")
AQE_STAGE = "AQE stage"


def _root(plan: dict) -> str:
    while plan.get("children") and (
        plan["nodeName"] in _WRAPPERS or plan["nodeName"].startswith("WholeStageCodegen")
    ):
        plan = plan["children"][0]
    return plan["nodeName"]


def _writes(plan: dict) -> bool:
    return bool(_WRITE.search(plan["nodeName"])) or any(
        _writes(c) for c in plan.get("children", [])
    )


def _site(stage_name: str) -> str | None:
    """The call-site name in a stage name; None for a Python frame."""
    fn, _, where = stage_name.partition(" at ")
    if fn.startswith("$anonfun$withThreadLocalCaptured"):
        return AQE_STAGE
    return None if ".py:" in where else fn


def read_events(lines) -> list[dict]:
    """Ledger rows from one application's event-log lines, in start
    order."""
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == _SQL + "Start":
            plan = ev["sparkPlanInfo"]
            execs[ev["executionId"]] = {
                "start": ev["time"], "end": None,
                "root": _root(plan), "writes": _writes(plan),
            }
        elif kind == _SQL + "End" and ev["executionId"] in execs:
            execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            result = max(stages, key=lambda s: s["Stage ID"]) if stages else None
            exe = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "other",
                "exec": int(exe) if exe is not None else None,
                "submit": ev["Submission Time"], "end": None,
                "site": _site(result["Stage Name"]) if result else "(no stages)",
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    if not jobs:
        return []
    t0 = min([j["submit"] for j in jobs.values()] + [e["start"] for e in execs.values()])
    rows: dict[tuple, dict] = {}
    for j in sorted(jobs.values(), key=lambda j: j["submit"]):
        ex = execs.get(j["exec"])
        row = rows.setdefault((j["group"], j["exec"]), {
            "group": j["group"],
            "execution": "-" if ex is None else j["exec"],
            "first": j["submit"], "last": j["submit"], "jobs": 0, "job_ms": 0,
            "root": "" if ex is None else ex["root"],
            "writes": False if ex is None else ex["writes"],
            "sites": Counter(),
            "_exec": ex,
        })
        end = j["end"] if j["end"] is not None else j["submit"]
        row["jobs"] += 1
        row["job_ms"] += end - j["submit"]
        row["last"] = max(row["last"], end)
        row["sites"][j["site"] or row["root"] or "python"] += 1
    out = []
    for row in rows.values():
        ex = row.pop("_exec")
        start = ex["start"] if ex else row["first"]
        end = ex["end"] if ex and ex["end"] is not None else row["last"]
        out.append({
            "group": row["group"], "execution": row["execution"],
            "start_ms": start - t0, "jobs": row["jobs"], "job_ms": row["job_ms"],
            "wall_ms": end - start, "root": row["root"], "writes": row["writes"],
            "sites": dict(row["sites"].most_common()),
        })
    return sorted(out, key=lambda r: (r["start_ms"], r["group"]))


def read_log_dir(log_dir: str) -> list[dict]:
    """Ledger rows of every application log in ``log_dir``."""
    rows = []
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            rows += read_events(f)
    return rows


def render(rows: list[dict]) -> str:
    """A markdown table of ``rows``, then one total line per group."""
    out = ["| group | exec | start ms | jobs | job ms | wall ms | root | writes | jobs by call site |",
           "|---|---|---|---|---|---|---|---|---|"]
    totals: dict[str, list[int]] = {}
    for r in rows:
        sites = ", ".join(f"{k} {v}" for k, v in r["sites"].items())
        out.append(
            f"| {r['group']} | {r['execution']} | {r['start_ms']} | {r['jobs']} | "
            f"{r['job_ms']} | {r['wall_ms']} | {r['root']} | "
            f"{'yes' if r['writes'] else ''} | {sites} |"
        )
        t = totals.setdefault(r["group"], [0, 0, 0])
        t[0] += 1
        t[1] += r["jobs"]
        t[2] += r["job_ms"]
    out.append("")
    for g, (n, j, ms) in totals.items():
        out.append(f"{g}: {n} executions, {j} jobs, {ms} job ms")
    return "\n".join(out)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log_dir")
    ap.add_argument("--group", default="", help="only job groups starting with this")
    args = ap.parse_args(argv)
    rows = [r for r in read_log_dir(args.log_dir) if r["group"].startswith(args.group)]
    print(render(rows))


if __name__ == "__main__":
    main()
