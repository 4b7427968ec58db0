"""Measurement helpers that sit outside the program: a /proc RSS
sampler for the process tree, call wrappers that record spans at layer
boundaries, and the event-log ledger that turns Spark's JSON event log
into per-group (query step, micro-batch, repo step) Spark totals."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, resident pages) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may contain spaces and parentheses; the
        # fields after its last ')' start with state, ppid, ...
        rest = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (int(rest[1]), stat[stat.index("(") + 1 : stat.rindex(")")], int(rest[21]))
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = defaultdict(list)
    for p, (ppid, _comm, _rss) in table.items():
        kids[ppid].append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and its descendants. A child with its
    parent's name and resident size has not exec'd yet (the JVM spawns
    workers that way) and shares the parent's pages, so it counts once."""
    table = _proc_table()
    total = table[pid][2] if pid in table else 0
    for c in descendants(pid, table):
        ppid, comm, rss = table[c]
        parent = table.get(ppid)
        if parent is None or (parent[1], parent[2]) != (comm, rss):
            total += rss
    return total * _PAGE


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM and its Python workers), sampled on a
    daemon thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


class Tracer:
    """Spans recorded around calls into the program's layers.

    A span is (name, parent, start, end) in ``time.perf_counter``
    seconds; spans stay in memory and are written out once at the end.
    ``wrap`` replaces a module or class attribute with a timing wrapper
    and ``restore`` puts every original back."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), **attrs}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``.
        ``before(*args, **kwargs)`` runs just before the call and
        ``after(*args, **kwargs)`` just after it, even if it raised."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            try:
                with tracer.span(name):
                    return orig(*args, **kwargs)
            finally:
                if after is not None:
                    after(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``restore``."""
        orig = getattr(owner, attr)
        replacement.__wrapped__ = orig
        setattr(owner, attr, replacement)
        self._patched.append((owner, attr, orig))

    def wrap_everywhere(self, module_prefix: str, func, name: str) -> None:
        """Wrap ``func`` at its home and in every loaded module of the
        package that bound it by ``from ... import`` at import time."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(module_prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, since: float = float("-inf")) -> tuple[int, float]:
        """(calls, seconds) of spans called ``name`` that started at or
        after ``since``; nested spans of the same name count once."""
        sel = [s for s in self.spans if s["name"] == name and s["start"] >= since]
        outer = [s for s in sel if s["parent"] != name]
        return len(sel), sum(s["end"] - s["start"] for s in outer)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """Parse every event-log file in ``log_dir`` into one record per
    Spark job: job group (``other`` when none), submit time (epoch ms),
    stages, and task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "other",
                        "submit_ms": ev.get("Submission Time", 0),
                        "stages": 0,
                        "tasks": 0,
                        "failed_tasks": 0,
                        "task_ms": 0,
                        "sched_ms": 0,
                        "gc_ms": 0,
                        "shuffle_write_b": 0,
                        "shuffle_read_b": 0,
                        "spill_b": 0,
                        "python_b": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is not None:
                        _add_task(jobs[jid], ev)
    return sorted(jobs.values(), key=lambda j: j["job"])


def _add_task(job: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    job["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        job["failed_tasks"] += 1
    run = m.get("Executor Run Time", 0)
    job["task_ms"] += run
    duration = (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)
    overhead = (
        run
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + (info.get("Getting Result Time") or 0)
    )
    job["sched_ms"] += max(0, duration - overhead)
    job["gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") in (_PY_SENT, _PY_RECV):
            try:
                job["python_b"] += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass


def ledger(jobs: list[dict], start_ms: float, end_ms: float) -> dict[str, dict]:
    """Per-group totals of the jobs submitted in [start_ms, end_ms]."""
    keys = ("stages", "tasks", "failed_tasks", "task_ms", "sched_ms", "gc_ms",
            "shuffle_write_b", "shuffle_read_b", "spill_b", "python_b")
    out: dict[str, dict] = {}
    for j in jobs:
        if not start_ms <= j["submit_ms"] <= end_ms:
            continue
        row = out.setdefault(j["group"], {"jobs": 0, **dict.fromkeys(keys, 0)})
        row["jobs"] += 1
        for k in keys:
            row[k] += j[k]
    return out


def spark_metrics(rows: dict[str, dict], cores: int, wall_s: float,
                  passes: int) -> dict[str, float]:
    """Ledger totals per measured pass; the busy fraction is over the
    whole measured wall."""
    tot = defaultdict(float)
    for row in rows.values():
        for k, v in row.items():
            tot[k] += v
    busy = tot["task_ms"] / 1000.0 / (cores * wall_s) if wall_s > 0 else 0.0
    tot = {k: v / passes for k, v in tot.items()}
    mb = 1024.0 * 1024.0
    task_s = tot["task_ms"] / 1000.0
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.task_s": task_s,
        "spark.sched_delay_s": tot["sched_ms"] / 1000.0,
        "spark.core_busy_frac": busy,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / mb,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / mb,
        "spark.spill_mb": tot["spill_b"] / mb,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.python_mb": tot["python_b"] / mb,
        "spark.failed_tasks": tot["failed_tasks"],
    }


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the files under ``path`` whose names end with
    ``suffix``; (0, 0) when it does not exist."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.endswith(suffix):
                continue
            try:
                size += os.lstat(os.path.join(root, n)).st_size
                files += 1
            except OSError:
                continue
    return files, size
