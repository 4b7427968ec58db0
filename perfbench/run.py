"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one closed loop with one
client in this process, on ``local[nproc]``:

1. set-up: start the session (JVM spin-up), prepare the workload's
   inputs from ``--seed`` (tables and streaming backlog, or the mock
   GitHub server) three times and keep the last copy, then run the
   workload's own warm-up (building the streaming stores, or landing
   the first snapshot); ``setup_s`` counts the median prepare;
2. measure: run whole passes of the workload until ``--seconds`` have
   passed and the workload's minimum pass count is met; ``run_s`` is
   the fastest pass;
3. check every operation's output, outside the timed region;
4. stop the session and every process started, then print one JSON
   line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the layer wrappers and reports the per-layer
metrics instead, including its overhead against the untraced runs
recorded in the same checkout. It also leaves ``ledger.json`` (Spark
jobs, stages, task, shuffle, spill, GC and Python-worker totals per job
group: a query's build or exec step, a micro-batch, a repo's scan or
load step) and
``spans.json`` (the layer spans, with parents) in its work directory.

Everything the run writes stays under ``.perfbench/`` in the checkout:
``work/<workload>`` is wiped at the start of each run, and
``results/<workload>-cpus<n>.jsonl`` gets one line per run, with the
host facts needed to compare runs (core count, versions, seed, code
hash), so results from different core counts never mix.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
sys.path.insert(0, HERE)

import workloads  # noqa: E402  (imports no Spark; safe before the env is set)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str, cpus: int, trace: bool) -> str:
    """Point every temp, local, warehouse and event-log path of Python,
    the JVM and Spark into ``work``; returns the event-log dir."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{events}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ] if trace else []
    os.environ.update(
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=java_opts,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    )
    for k in ("SPARK_GRAFT_CONFS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    tempfile.tempdir = tmp
    return events


def _code_hash() -> str:
    """Content hash of the program's and the benchmark's sources (the
    checkout is not always a git repository, so the commit may be
    unknown)."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "github_etl_spark"), HERE):
        for root, dirs, files in os.walk(top):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _stop_jvm() -> None:
    """Stop the session, end the JVM by closing its stdin, and wait for
    every descendant process to exit."""
    from pyspark import SparkContext

    from measure import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def _untraced_median(results: str, key: str) -> tuple[float | None, int]:
    """Median untraced run_s recorded in this checkout for the same
    workload, core count and code."""
    vals = []
    try:
        with open(results) as f:
            for line in f:
                rec = json.loads(line)
                if not rec["trace"] and rec["code"] == key and "run_s" in rec["metrics"]:
                    vals.append(rec["metrics"]["run_s"])
    except (OSError, ValueError, KeyError):
        pass
    return (statistics.median(vals) if vals else None), len(vals)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "github_etl_spark")):
        print(f"perfbench: no github_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = _nproc()
    work = os.path.join(ROOT, ".perfbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    events = _configure_env(work, cpus, trace)
    sys.path.insert(0, ROOT)

    import pyspark

    import measure as tr

    sampler = tr.RssSampler().start()
    tracer = tr.Tracer() if trace else None
    wl = workloads.make(args.workload, seed=args.seed, work=work, cpus=cpus, tracer=tracer)
    try:
        t0 = time.perf_counter()
        wl.start_session()
        session_s = time.perf_counter() - t0
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        setup_s = session_s + statistics.median(prep) + time.perf_counter() - t

        if tracer is not None:
            wl.install_wrappers()
        passes: list[float] = []
        ops: list[dict] = []
        t_meas, epoch0 = time.perf_counter(), time.time()
        while True:
            pass_ops, wall = wl.run_pass(len(passes))
            ops.extend(pass_ops)
            passes.append(wall)
            if time.perf_counter() - t_meas >= args.seconds and len(passes) >= wl.min_passes:
                break
        measured_s = time.perf_counter() - t_meas
        epoch1 = time.time()
        if tracer is not None:
            tracer.restore()
        t = time.perf_counter()
        wl.check(ops)
        check_s = time.perf_counter() - t
    finally:
        wl.close()
        t = time.perf_counter()
        _stop_jvm()
        stop_s = time.perf_counter() - t
        peak_rss = sampler.stop()
    failed = sum(1 for op in ops if not op["ok"])
    for op in ops:
        if not op["ok"]:
            print(f"perfbench: FAILED {op['name']}: {op.get('error')}", file=sys.stderr)

    metrics: dict[str, tuple[float, str]] = {
        # The fastest pass, as bench.py takes the minimum of N: the
        # host's noise only ever slows a pass down.
        "run_s": (min(passes), "s"),
        "setup_s": (setup_s, "s"),
        "ok_frac": ((len(ops) - failed) / len(ops), "frac"),
    }
    results = os.path.join(ROOT, ".perfbench", "results", f"{args.workload}-cpus{cpus}.jsonl")
    code = _code_hash()
    if tracer is not None:
        rows = tr.ledger(tr.read_event_log(events), epoch0 * 1000, epoch1 * 1000)
        layer = wl.layer_metrics(ops, passes, t_meas, rows)
        _files, left = tr.dir_bytes(os.path.join(work, "tmp"))
        layer["scratch.left_mb"] = (left + tr.dir_bytes(os.path.join(work, "warehouse"))[1]) / 2**20
        layer["session.start_s"] = session_s
        layer["mem.peak_rss_mb"] = peak_rss / 2**20
        ref, n_ref = _untraced_median(results, code)
        layer["trace.run_s"] = metrics["run_s"][0]
        layer["trace.overhead_s"] = metrics["run_s"][0] - ref if ref is not None else 0.0
        layer["trace.ref_runs"] = n_ref
        layer.update(tr.spark_metrics(rows, cpus, measured_s, len(passes)))
        with open(os.path.join(work, "ledger.json"), "w") as f:
            json.dump({"groups": rows, "ops": ops}, f, indent=1, default=str)
        tracer.dump(os.path.join(work, "spans.json"))
        units = workloads.per_layer_units()
        out_metrics = {k: (float(layer.get(k, 0.0)), u) for k, u in units.items()}
    else:
        out_metrics = metrics

    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "commit": _commit(),
        "code": code,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "passes": passes,
        "ops_s": {op["name"]: op["s"] for op in ops},
        "phases_s": {"session": session_s, "prepare": prep, "measure": measured_s,
                     "check": check_s, "stop": stop_s},
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: v for k, (v, _u) in out_metrics.items()},
    }
    os.makedirs(os.path.dirname(results), exist_ok=True)
    with open(results, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({k: record[k] for k in ("workload", "seed", "nproc", "code", "spark",
                                             "python", "passes", "phases_s")}), file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
