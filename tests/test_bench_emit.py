"""bench.py's output contract, without Spark: its consumer keeps only
about 2 KiB of stdout and parses the last JSON line, so every
per-query time must survive that tail, and a run at another core
count must not overwrite the primary's detail file."""

from __future__ import annotations

import io
import json
import os
import random
from contextlib import redirect_stdout

import pytest

import bench
from github_etl_spark.plans import headline_queries


def _times(names, lo, hi, seed):
    rng = random.Random(seed)
    return {n: round(rng.uniform(lo, hi), 3) for n in names}


def _last_line_of_tail(stdout: str) -> dict:
    tail = stdout.encode()[-2048:].decode(errors="replace")
    return json.loads(tail.strip().splitlines()[-1])


@pytest.mark.parametrize("lo,hi", [(0.05, 20.0), (10.0, 99.99)])
def test_every_query_time_survives_a_2k_tail(tmp_path, monkeypatch, lo, hi):
    names = sorted(headline_queries())
    assert len(names) >= 53
    timings = _times(names, lo, hi, 1)
    control = _times(names, lo, hi, 2)
    result = {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "control": {"ref": "0" * 40, "value": round(sum(control.values()), 3),
                    "queries": control},
        "carried": {"ratio": 0.987},
    }
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    out = io.StringIO()
    with redirect_stdout(out):
        bench._emit(result, timings, [], str(tmp_path))
    last = _last_line_of_tail(out.getvalue())
    assert len(json.dumps(last)) < 1024
    assert last["value"] == result["value"]
    assert last["metric"] == "headline_suite_seconds"
    got = bench.decode_query_times(last["q"], names)
    assert got.keys() == timings.keys()
    assert all(abs(got[n] - timings[n]) <= 0.005 + 1e-9 for n in names)
    got_control = bench.decode_query_times(last["control"]["q"], names)
    assert all(abs(got_control[n] - control[n]) <= 0.005 + 1e-9 for n in names)
    # A reader with the wrong name list is told so.
    with pytest.raises(ValueError):
        bench.decode_query_times(last["q"], names[1:])


def test_other_core_count_writes_its_own_detail_file(tmp_path, monkeypatch):
    timings = {"a": 1.0, "b": 2.5}
    result = {"metric": "headline_suite_seconds", "value": 3.5, "unit": "sec",
              "queries": timings, "sf": 0.1}
    host = len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(host + 4))
    out = io.StringIO()
    with redirect_stdout(out):
        bench._emit(result, timings, [], str(tmp_path))
    assert os.listdir(tmp_path) == [f"BENCH_DETAIL_c{host + 4}.json"]
    assert _last_line_of_tail(out.getvalue())["detail"] == f"BENCH_DETAIL_c{host + 4}.json"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(host))
    with redirect_stdout(io.StringIO()):
        bench._emit(result, timings, [], str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == ["BENCH_DETAIL.json", f"BENCH_DETAIL_c{host + 4}.json"]
