"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is timed as a full plan → execute → count, run
``BENCH_REPS`` times (default 3): the FIRST run is the query's own
warmup and is DISCARDED (it carries whole-stage-codegen JIT and page
-cache warming), the MIN of the remaining runs is reported — r03's
single-shot timings produced two false 2× "regressions" that were
pure load noise (VERDICT r03), and with 2 timed runs a median is the
mean, so ONE contention spike poisons it (observed r13: runs
[0.68, 4.10] s → "median" 2.39 s on an untouched query; the 4.1 s run
was a host-load outlier). Min-of-N is the standard best-observed
estimator for a deterministic workload — it answers "how fast does
this plan run on this host", which is the cross-round signal, while
mean/median answer "how loaded was the host". Through r12 warmup was a separate full
suite pass at sf0.001; profiling showed that pass cost MORE wall time
(157 s) than a discarded full pass at sf0.1 (78 s), because tiny-SF
runs are pure fixed overhead — checkpoint IO, store builds — and the
overrun made the driver skip the same-host control in r12 (primary
498 s > 420 s budget, VERDICT r12 item 1). No caching between
queries; the JVM is warmed once with a trivial action so the first
query's discard run doesn't also pay session startup.

Same-host control run: cross-round medians are only comparable if the
host load is — r05's apparent regressions vanished when the r04 tree
was re-timed on the same host. That control is now automatic: if
``bench_control_pin.txt`` names a commit (or ``BENCH_CONTROL_REF`` is
set), the pinned tree is checked out into a throwaway git worktree
and ITS bench.py is run in a subprocess on the same host,
back-to-back; the result lands under ``"control"`` in the same JSON
line. Control failures degrade to ``"control_error"`` — the primary
timings always survive. ``BENCH_NO_CONTROL=1`` disables (and is set
for the subprocess, so a pinned tree that itself carries a pin file
cannot recurse).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from github_etl_spark.plans import headline_queries  # noqa: E402
from github_etl_spark.session import get_spark  # noqa: E402


def _control_ref(repo: str) -> str | None:
    """The pinned control commit: env override, else first token of
    bench_control_pin.txt (rest of the line is a comment)."""
    if os.environ.get("BENCH_NO_CONTROL"):
        return None
    ref = os.environ.get("BENCH_CONTROL_REF")
    if ref:
        return ref
    pin = os.path.join(repo, "bench_control_pin.txt")
    try:
        with open(pin) as f:
            for line in f:
                line = line.strip()
                if line and not line.startswith("#"):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _run_control(repo: str, ref: str) -> dict:
    """Time the pinned tree's own bench.py in a throwaway worktree on
    this same host, right after the primary run. Returns the parsed
    JSON result augmented with the ref, or {"error": ...}."""
    import shutil
    import subprocess

    wt = f"/tmp/bench_control_{os.getpid()}"
    try:
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", wt, ref],
            check=True, capture_output=True, text=True, timeout=60,
        )
    except (subprocess.SubprocessError, OSError) as e:
        err = getattr(e, "stderr", "") or str(e)
        return {"ref": ref, "error": f"worktree add failed: {err.strip()}"}
    try:
        # The control runs the SAME rep count as the primary (default
        # 3 = 1 discarded warmup + min of 2, single timed rep past the
        # heavy cutoff — the r13+ estimator). r13 ran the control at
        # BENCH_REPS=2 to save wall time, which made the carried ratio
        # estimator-ASYMMETRIC (primary min-of-warm-reps vs control
        # median-of-2) and flattered the primary side — VERDICT r13
        # item 2. Symmetric estimators cost one extra control rep per
        # cheap query; the heavy queries (where the suite's wall time
        # lives) run once either way.
        env = dict(
            os.environ,
            BENCH_NO_CONTROL="1",
            BENCH_REPS=os.environ.get(
                "BENCH_CONTROL_REPS", os.environ.get("BENCH_REPS", "3")
            ),
        )
        proc = subprocess.run(
            [sys.executable, os.path.join(wt, "bench.py")],
            capture_output=True, text=True, timeout=900, env=env, cwd=wt,
        )
        # Prefer the detail line (has per-query medians): trees at/after
        # the r7 compact-tail change print BOTH a full-detail line and a
        # compact totals-only LAST line; older pins print only the full
        # line. Fall back to the first parseable JSON line.
        candidates = []
        for line in reversed(proc.stdout.splitlines()):
            line = line.strip()
            if line.startswith("{"):
                try:
                    candidates.append(json.loads(line))
                except ValueError:
                    continue
        for out in candidates:
            if "queries" in out:
                control = {
                    "ref": ref,
                    "value": out.get("value"),
                    "queries": out.get("queries", {}),
                }
                # A control with failed queries has a PARTIAL total —
                # carry the list so its value is never read as
                # comparable to a full primary suite.
                if out.get("failed"):
                    control["failed"] = out["failed"]
                return control
        if candidates:  # totals-only line found but no detail line
            out = candidates[0]
            control = {"ref": ref, "value": out.get("value"), "queries": {}}
            if out.get("failed"):
                control["failed"] = out["failed"]
            return control
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
        return {"ref": ref, "error": f"no JSON line; tail={tail}"}
    except (subprocess.SubprocessError, OSError, ValueError) as e:
        return {"ref": ref, "error": str(e)}
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True, timeout=60,
        )
        shutil.rmtree(wt, ignore_errors=True)


def main() -> None:
    t_start = time.perf_counter()
    # Parse the budget knob BEFORE the suite runs: a malformed value
    # must fail in second 0, not after 20 minutes of measured queries
    # (which would lose the primary JSON line).
    try:
        control_budget = float(os.environ.get("BENCH_CONTROL_BUDGET", "520"))
    except ValueError:
        print(
            f"# bad BENCH_CONTROL_BUDGET "
            f"{os.environ.get('BENCH_CONTROL_BUDGET')!r}; using 520",
            file=sys.stderr,
        )
        control_budget = 520.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("github_etl_spark_bench")
    spark.range(1000).count()  # JVM spinup — not counted.

    # reps = total executions per query; run 0 is the query's own
    # warmup (discarded unless reps == 1). Per-query discard replaces
    # the r04–r12 separate sf0.001 warmup pass: same JIT coverage,
    # half the wall time (see module docstring).
    reps = max(1, int(os.environ.get("BENCH_REPS", "3")))
    # Queries whose WARMUP run exceeds this many seconds get a single
    # timed rep (VERDICT r12 #1: trim reps where the suite's wall time
    # lives — the composites and graph queries — so primary + control
    # stay inside the driver's bench window; a >2 s query's run-to-run
    # noise is small RELATIVE to its runtime, so one rep is an
    # acceptable min-estimator there while cheap queries keep reps-1).
    heavy_cutoff = float(os.environ.get("BENCH_HEAVY_CUTOFF", "2.0"))
    timings: dict[str, float] = {}
    failures: list[str] = []
    for name, fn in sorted(headline_queries().items()):
        runs: list[float] = []
        warm = None
        n = 0
        try:
            for i in range(reps):
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                if i == 0 and reps > 1:
                    warm = dt
                else:
                    runs.append(dt)
                if i == 1 and warm is not None and warm > heavy_cutoff:
                    break
        except Exception as e:
            # One broken query must not discard the other timings or the
            # contract-required JSON line.
            failures.append(name)
            print(f"# {name} FAILED: {e}", file=sys.stderr)
            continue
        timings[name] = round(min(runs), 3)
        spread = f"[{min(runs):.3f}..{max(runs):.3f}]"
        warm_s = f", warm {warm:.3f}s" if warm is not None else ""
        print(
            f"# {name}: {n} rows, min of {len(runs)} = "
            f"{timings[name]}s {spread}{warm_s}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    if failures:
        result["failed"] = failures
    repo = os.path.dirname(os.path.abspath(__file__))
    # Emit the PRIMARY result now, before the control runs: the driver
    # parses the LAST JSON line, so if an external timeout kills the
    # process mid-control, the primary-only emission below is still the
    # last line and the round keeps its bench data (pre-r13 the whole
    # emission happened after the control, so a mid-control kill lost
    # everything — which is why the budget had to be ultra-conservative
    # and r12's control was skipped at 498 s).
    _emit(result, timings, failures, repo)
    ref = _control_ref(repo)
    # A kill during the control now only loses the control, so the
    # budget merely avoids a pointlessly long run on a badly loaded
    # host. Comparison is actual ELAPSED WALL TIME (warmup + all
    # reps), not the sum of per-query mins, which under-counts by the
    # rep factor.
    elapsed = round(time.perf_counter() - t_start, 1)
    if ref and elapsed > control_budget:
        result["control_error"] = {
            "ref": ref,
            "error": (
                f"skipped: primary bench took {elapsed}s wall "
                f"> {control_budget}s budget"
            ),
        }
        ref = None
    if ref:
        # Free the primary session's JVM (8g heap + executor threads)
        # BEFORE timing the control — two live JVMs would measure the
        # control under memory pressure the primary never saw, which
        # is the exact comparability failure this feature exists to
        # remove.
        spark.stop()
        print(f"# timing same-host control at {ref} ...", file=sys.stderr)
        control = _run_control(repo, ref)
        if "error" in control:
            result["control_error"] = control
            print(f"# control failed: {control['error']}", file=sys.stderr)
        else:
            result["control"] = control
            # Carried ratio over the SHARED query set, computed here so
            # the judge artifact carries the load-normalized cross-round
            # signal directly (VERDICT r12 item 1) instead of each reader
            # re-deriving it. <1.0 = this tree is faster than the pinned
            # tree on this host right now.
            shared = sorted(set(timings) & set(control.get("queries", {})))
            csum = sum(control["queries"][q] for q in shared)
            psum = sum(timings[q] for q in shared)
            if shared and csum > 0:
                result["carried"] = {
                    "n_shared": len(shared),
                    "primary_s": round(psum, 3),
                    "control_s": round(csum, 3),
                    "ratio": round(psum / csum, 3),
                }
    _emit(result, timings, failures, repo)
    sys.exit(1 if failures else 0)


def _names_hash(names) -> str:
    """Short hash of a sorted query-name list: the key that says which
    names a per-query encoding lists, in which order."""
    return hashlib.sha1("\n".join(names).encode()).hexdigest()[:8]


def encode_query_times(times: dict) -> dict:
    """Per-query seconds packed for the compact line: centiseconds,
    comma-joined in sorted-name order, plus `_names_hash` of that
    order. 53 queries take about 250 bytes; the names themselves live
    in the code and in the detail file."""
    names = sorted(times)
    return {
        "names": _names_hash(names),
        "cs": ",".join(str(round(times[n] * 100)) for n in names),
    }


def decode_query_times(encoded: dict, names) -> dict:
    """Inverse of `encode_query_times` given the query names (e.g.
    ``headline_queries()`` at the measured commit, minus failures);
    raises ValueError if they are not the encoded list."""
    names = sorted(names)
    if _names_hash(names) != encoded["names"]:
        raise ValueError("query names do not match the encoded list")
    cs = encoded["cs"].split(",") if encoded["cs"] else []
    return {n: int(c) / 100 for n, c in zip(names, cs)}


def _detail_name() -> str:
    """BENCH_DETAIL.json at the host's core count, and
    BENCH_DETAIL_c<N>.json for a run at another ``SPARK_GRAFT_CPUS``
    (e.g. the 8-core run), so the two never overwrite each other."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    host = (
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else os.cpu_count()
    )
    if cpus and int(cpus) != host:
        return f"BENCH_DETAIL_c{int(cpus)}.json"
    return "BENCH_DETAIL.json"


def _emit(result: dict, timings: dict, failures: list, repo: str) -> None:
    """Write BENCH_DETAIL.json and print the full-detail line plus the
    compact totals-only LAST line. Called twice: once with the primary
    result (so a kill during the control cannot lose it) and once with
    the control/carried fields merged in — the driver tail-captures
    stdout (~2 KiB) and parses the LAST JSON line; r06's single line
    (38 query medians + the control's 37) outgrew the window, its head
    was truncated, and BENCH_r06.json recorded "parsed": null. So:
    full detail goes to a durable file + a PRECEDING line, and the
    final line is a compact summary guaranteed to fit the tail
    window."""
    # The compact line also carries the per-query times, packed by
    # `encode_query_times` ("q", and "control"."q"); at another core
    # count the detail file is BENCH_DETAIL_c<N>.json (`_detail_name`).
    detail_name = _detail_name()
    detail_path = os.path.join(repo, detail_name)
    try:
        with open(detail_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"# could not write {detail_path}: {e}", file=sys.stderr)
    print(json.dumps(result))
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "n_queries": len(timings),
        "detail": detail_name,
        "q": encode_query_times(timings),
    }
    if failures:
        # The compact line must fit the tail window even when EVERY
        # query fails (39 names alone are ~1 KiB): carry the count and
        # a few names, the full list lives in the detail line/file.
        compact["n_failed"] = len(failures)
        compact["failed"] = failures[:3] + (["..."] if len(failures) > 3 else [])
    control = result.get("control")
    if control:
        compact["control"] = {
            "ref": control.get("ref"),
            "value": control.get("value"),
            "n_queries": len(control.get("queries", {})),
            "q": encode_query_times(control.get("queries", {})),
        }
        if control.get("failed"):
            compact["control"]["failed"] = control["failed"]
        if "carried" in result:
            compact["carried_ratio"] = result["carried"]["ratio"]
    elif "control_error" in result:
        ce = result["control_error"]
        compact["control_error"] = {
            "ref": ce.get("ref"),
            "error": str(ce.get("error"))[:200],
        }
    line = json.dumps(compact)
    if len(line) >= 1024:
        # Never crash here — the compact line IS the driver contract.
        # Shed optional fields until it fits (they all live in the
        # detail file); an assert would skip the line and the exit
        # code exactly in the mass-failure case where it matters.
        for key in ("control_error", "control", "carried_ratio", "failed", "detail", "q"):
            compact.pop(key, None)
            line = json.dumps(compact)
            if len(line) < 1024:
                break
    print(line)


if __name__ == "__main__":
    main()
