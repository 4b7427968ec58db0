"""Streaming layer (M4): foreachBatch pipeline, watermarks, state.

File-source streams with `availableNow` triggers — deterministic
micro-batch sequences (one file per trigger, mtime-ordered) so
watermark progression and state carry-over are observable.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from github_etl_spark.session import run_concurrently
from github_etl_spark.sinks.snapshot import SNAPSHOT_TABLES, SnapshotSink, read_snapshot
from github_etl_spark.streaming import (
    dedup_within_watermark,
    run_batch,
    running_totals,
    stream_landing,
    tumbling_counts,
)
from github_etl_spark.streaming.pipeline import _persisting
from tests.mock_github_server import N_PRS, MockGithub

EVENT_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string"


def _write_file(path, rows, mtime):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _ev(eid, uid, ts, etype="click"):
    return {"event_id": eid, "user_id": uid, "ts": ts, "event_type": etype}


def _drain(stream_df, name, checkpoint):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


# ----------------------------------------------------------------- pipeline


def test_run_batch_e2e_and_skip(spark, tmp_path):
    with MockGithub() as mock:
        sink_base = str(tmp_path / "wh")
        sink = run_batch(
            spark, ["acme/widgets"], mock.url, sink_base, "2026-01-15", per_page=3
        )
        prs = read_snapshot(spark, sink.path("pull_requests"))
        assert prs.count() == N_PRS
        assert read_snapshot(spark, sink.path("commits")).count() == N_PRS * 2 * 2

        # Second run: snapshot exists → skipped (no duplication).
        run_batch(spark, ["acme/widgets"], mock.url, sink_base, "2026-01-15", per_page=3)
        assert read_snapshot(spark, sink.path("pull_requests")).count() == N_PRS

        # Forced rerun: dynamic partition overwrite → still exactly N_PRS.
        run_batch(
            spark, ["acme/widgets"], mock.url, sink_base, "2026-01-15",
            per_page=3, force=True,
        )
        assert read_snapshot(spark, sink.path("pull_requests")).count() == N_PRS


def _table_rows(spark, sink, repo):
    """Per snapshot table: the sorted rows of ``repo``'s partition."""
    return {
        t: sorted(repr(r) for r in read_snapshot(spark, sink.path(t), repo).collect())
        for t in SNAPSHOT_TABLES
    }


def _partition_files(sink_base, repo):
    """Every file under ``repo``'s partition dirs, across the tables."""
    out = set()
    for t in SNAPSHOT_TABLES:
        d = os.path.join(sink_base, t, f"target_repository={repo.replace('/', '%2F')}")
        for root, _dirs, files in os.walk(d):
            out.update(os.path.join(root, f) for f in files)
    return out


def test_run_concurrently_isolates_job_groups_and_raises_first_failure(spark):
    """More threads than cores, each setting its own job group while
    the others run: every thread starts in the caller's group and
    keeps its own (the caller's properties are copied per call, not
    shared), results come back in submission order, and after every
    call has run the first failure in that order is raised."""
    import sys

    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    ran = []

    def task(i, fail=False):
        def _run():
            inherited = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"group-{i}", f"task {i}")
            time.sleep(0.01)
            ran.append(i)
            if fail:
                raise ValueError(f"task {i}")
            return inherited, sc.getLocalProperty("spark.jobGroup.id")

        return _run

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert run_concurrently([task(i) for i in range(16)], 8) == [
            ("caller-group", f"group-{i}") for i in range(16)
        ]
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        ran.clear()
        with pytest.raises(ValueError, match="task 5"):
            run_concurrently([task(i, fail=i in (5, 9)) for i in range(16)], 8)
        assert sorted(ran) == list(range(16))
    finally:
        sys.setswitchinterval(old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_batch_body_runs_without_the_inherited_start_call_site(spark):
    """A stream thread inherits `start()`'s call site, which would name
    every job of a foreachBatch body `start at …`; `_persisting` clears
    it before the body runs."""
    sc = spark.sparkContext
    seen = []
    sc.setLocalProperty("callSite.short", "start at NativeMethodAccessorImpl.java:0")
    try:
        _persisting(lambda df, i: seen.append(sc.getLocalProperty("callSite.short")))(
            spark.range(1), 0
        )
    finally:
        sc.setLocalProperty("callSite.short", None)
    assert seen == [None]


def test_run_batch_multi_repo_matches_single_repo_runs(spark, tmp_path):
    """Repos run concurrently: each repo's tables equal its own
    single-repo run, a landed snapshot is skipped without a rewrite,
    the caller's job group reaches the worker threads' jobs, and no
    persisted scan outlives the call."""
    repos = ["acme/widgets", "acme/gadgets"]
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext
    with MockGithub() as mock:
        single = {}
        for repo in repos:
            sink = run_batch(spark, [repo], mock.url, str(tmp_path / repo), "2026-01-15", per_page=3)
            single[repo] = _table_rows(spark, sink, repo)

        sc.setJobGroup("multi-repo-run", "two repos")
        try:
            multi = run_batch(spark, repos, mock.url, str(tmp_path / "multi"), "2026-01-15", per_page=3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup("multi-repo-run")
        for repo in repos:
            assert _table_rows(spark, multi, repo) == single[repo]
            assert len(single[repo]["pull_requests"]) == N_PRS
        assert cm.isEmpty(), "run_batch left a persisted scan behind"

        # widgets has landed in its single-repo sink: a non-forced run
        # of both lands gadgets there and leaves widgets' files alone.
        base = str(tmp_path / "acme/widgets")
        before = _partition_files(base, "acme/widgets")
        assert before
        sink = run_batch(spark, list(reversed(repos)), mock.url, base, "2026-01-15", per_page=3)
        assert _partition_files(base, "acme/widgets") == before
        assert _table_rows(spark, sink, "acme/gadgets") == single["acme/gadgets"]


def test_run_batch_failing_repo_still_lands_the_others(spark, tmp_path):
    """A malformed repo (a 404 when the scan is planned) fails the run,
    but only after the good repo's chain has landed its snapshot;
    nothing stays persisted."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    with MockGithub() as mock:
        sink_base = str(tmp_path / "wh")
        with pytest.raises(Exception, match="404"):
            run_batch(spark, ["acme", "acme/widgets"], mock.url, sink_base, "2026-01-15", per_page=3)
        sink = SnapshotSink(sink_base)
        assert sink.exists(spark, "acme/widgets", "2026-01-15")
        rows = _table_rows(spark, sink, "acme/widgets")
        assert len(rows["pull_requests"]) == N_PRS
        assert len(rows["commits"]) == N_PRS * 2 * 2
    assert cm.isEmpty(), "a failed run_batch left a persisted scan behind"


def test_run_batch_lands_a_repo_in_five_jobs(spark, tmp_path):
    """A repo's chain runs the scan's eager checkpoint and one job per
    table write: no cache-fill and count jobs, no shuffle before a
    write. A multi-page scan still lands one parquet file per
    (repo, date) directory of each table."""
    sc = spark.sparkContext
    with MockGithub() as mock:
        sc.setJobGroup("one-repo-run", "one repo")
        try:
            sink = run_batch(
                spark, ["acme/widgets"], mock.url, str(tmp_path / "wh"), "2026-01-15",
                per_page=3,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("one-repo-run")
    assert 0 < len(jobs) <= 5, f"{len(jobs)} Spark jobs for one repo"
    for t in SNAPSHOT_TABLES:
        dirs = {}
        for root, _dirs, files in os.walk(sink.path(t)):
            n = sum(f.endswith(".parquet") for f in files)
            if n:
                dirs[os.path.relpath(root, sink.path(t))] = n
        assert dirs == {"target_repository=acme%2Fwidgets/snapshot_date=2026-01-15": 1}, t


def test_stream_landing_incremental(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    sink_base = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    def _pr_row(i):
        return {
            "number": i, "title": f"Bug {i} fix", "state": "open",
            "created_at": f"2026-02-{i:02d}T00:00:00Z",
            "updated_at": f"2026-02-{i:02d}T00:00:00Z",
            "merged_at": None, "labels": [], "commit_data": [],
            "reviewer_data": [], "comment_data": [],
        }

    _write_file(landing / "a.json", [_pr_row(1), _pr_row(2)], time.time() - 10)
    q, sink = stream_landing(
        spark, str(landing), "acme/widgets", sink_base, "2026-02-10", ckpt
    )
    q.awaitTermination(120)
    assert read_snapshot(spark, sink.path("pull_requests")).count() == 2

    # New file lands; restart from the same checkpoint → only the new
    # file is processed (no re-append of the first two).
    _write_file(landing / "b.json", [_pr_row(3)], time.time())
    q2, _ = stream_landing(
        spark, str(landing), "acme/widgets", sink_base, "2026-02-10", ckpt
    )
    q2.awaitTermination(120)
    out = read_snapshot(spark, sink.path("pull_requests"))
    assert sorted(r.pull_request_id for r in out.collect()) == [1, 2, 3]
    assert out.where("bug_id IS NOT NULL").count() == 3


# ------------------------------------------------------------------ windows


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    return d


def _events_stream(spark, stream_dir):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(stream_dir))
    )


def test_tumbling_counts_drops_late_data(spark, stream_dir, tmp_path):
    now = time.time()
    # Watermark eviction lags one batch (the watermark used by batch N is
    # computed from data through N-1), and the "too late" drop is only
    # guaranteed once the window's state has been evicted — so the late
    # row arrives two batches after the watermark passed its window.
    # Batch 1: two clicks in [10:00,11:00), one view in [11:00,12:00),
    # plus a 12:30 event pushing event-time to 12:30 (wm → 12:20).
    _write_file(
        stream_dir / "b1.json",
        [
            _ev(1, 1, "2026-03-01T10:05:00Z"),
            _ev(2, 1, "2026-03-01T10:20:00Z"),
            _ev(3, 2, "2026-03-01T11:10:00Z", "view"),
            _ev(4, 3, "2026-03-01T12:30:00Z", "other"),
        ],
        now - 20,
    )
    # Batch 2: advancer only — runs with wm 12:20, emits + evicts the
    # click and view windows, moves event-time to 14:00.
    _write_file(
        stream_dir / "b2.json", [_ev(5, 3, "2026-03-01T14:00:00Z", "other")], now - 10
    )
    # Batch 3: a 10:40 click — far behind the 13:50 watermark and its
    # window's state is gone → guaranteed dropped.
    _write_file(
        stream_dir / "b3.json",
        [
            _ev(6, 1, "2026-03-01T10:40:00Z"),
            _ev(7, 3, "2026-03-01T16:00:00Z", "other"),
        ],
        now,
    )
    agg = tumbling_counts(_events_stream(spark, stream_dir), watermark="10 minutes")
    _drain(agg, "tumbling_out", str(tmp_path / "ck1"))
    click_rows = [
        r.n_events
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
        if str(r.window_start) == "2026-03-01 10:00:00" and r.event_type == "click"
    ]
    # Exactly one finalized emission, and the late event isn't in it.
    assert click_rows == [2]
    view_rows = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    assert view_rows[("2026-03-01 11:00:00", "view")] == 1


def test_dedup_within_watermark(spark, stream_dir, tmp_path):
    now = time.time()
    _write_file(
        stream_dir / "b1.json",
        [_ev(1, 1, "2026-03-01T10:00:00Z"), _ev(2, 1, "2026-03-01T10:01:00Z")],
        now - 10,
    )
    _write_file(
        stream_dir / "b2.json",
        [_ev(2, 1, "2026-03-01T10:02:00Z"), _ev(3, 2, "2026-03-01T10:03:00Z")],
        now,
    )
    dedup = dedup_within_watermark(_events_stream(spark, stream_dir), watermark="1 hour")
    _drain(dedup, "dedup_out", str(tmp_path / "ck2"))
    ids = sorted(r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect())
    assert ids == [1, 2, 3]  # duplicate id 2 in batch 2 suppressed


def test_running_totals_state_across_batches(spark, stream_dir, tmp_path):
    now = time.time()
    _write_file(
        stream_dir / "b1.json",
        [
            _ev(1, 1, "2026-03-01T10:00:00Z"),
            _ev(2, 1, "2026-03-01T10:01:00Z"),
            _ev(3, 2, "2026-03-01T10:02:00Z"),
        ],
        now - 10,
    )
    _write_file(stream_dir / "b2.json", [_ev(4, 1, "2026-03-01T10:03:00Z")], now)
    totals = running_totals(_events_stream(spark, stream_dir))
    _drain(totals, "totals_out", str(tmp_path / "ck3"))
    rows = [
        (r.user_id, r.batch_events, r.total_events)
        for r in spark.sql(
            "SELECT * FROM totals_out ORDER BY total_events, user_id"
        ).collect()
    ]
    # Batch 1: u1 sees 2, u2 sees 1. Batch 2: u1 sees 1 more → total 3.
    assert (1, 2, 2) in rows and (2, 1, 1) in rows and (1, 1, 3) in rows


def test_session_counts_stream(spark, stream_dir, tmp_path):
    from github_etl_spark.streaming import session_counts

    now = time.time()
    # u1: two events 5min apart (one session), then 40min gap → new
    # session. u2: single event. Advancer closes everything.
    _write_file(
        stream_dir / "b1.json",
        [
            _ev(1, 1, "2026-03-01T10:00:00Z"),
            _ev(2, 1, "2026-03-01T10:05:00Z"),
            _ev(3, 1, "2026-03-01T10:45:00Z"),
            _ev(4, 2, "2026-03-01T10:10:00Z"),
        ],
        now - 10,
    )
    _write_file(
        stream_dir / "b2.json", [_ev(5, 3, "2026-03-01T20:00:00Z", "other")], now
    )
    sess = session_counts(
        _events_stream(spark, stream_dir), gap="30 minutes", watermark="5 minutes"
    )
    _drain(sess, "sessions_out", str(tmp_path / "ck4"))
    rows = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert rows[(1, "2026-03-01 10:00:00")] == 2  # merged 10:00+10:05
    assert rows[(1, "2026-03-01 10:45:00")] == 1  # after the 40min gap
    assert rows[(2, "2026-03-01 10:10:00")] == 1


def test_stream_github_live_etl(spark, tmp_path):
    from github_etl_spark.streaming.pipeline import stream_github

    with MockGithub() as mock:
        q, sink = stream_github(
            spark,
            "acme/widgets",
            mock.url,
            str(tmp_path / "wh"),
            "2026-01-15",
            str(tmp_path / "ck"),
        )
        try:
            q.processAllAvailable()
            prs = read_snapshot(spark, sink.path("pull_requests"))
            assert prs.count() == N_PRS
            # New PR appears upstream → next micro-batch appends just it.
            mock.add_pr(N_PRS + 1)
            q.processAllAvailable()
            out = read_snapshot(spark, sink.path("pull_requests"))
            assert sorted(r.pull_request_id for r in out.collect()) == list(
                range(1, N_PRS + 2)
            )
            # Children flowed through the same stream.
            assert read_snapshot(spark, sink.path("commits")).count() == (N_PRS + 1) * 4
        finally:
            q.stop()


def test_stream_landing_batch_replay_is_idempotent(spark, tmp_path):
    """Simulates the crash-between-write-and-commit case: wiping the
    checkpoint makes the stream reprocess the same file as the same
    batch id. The per-batch dynamic partition overwrite must replace,
    not duplicate."""
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    sink_base = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        {
            "number": i, "title": f"pr {i}", "state": "open",
            "created_at": "2026-02-01T00:00:00Z",
            "updated_at": "2026-02-01T00:00:00Z",
            "merged_at": None, "labels": [], "commit_data": [],
            "reviewer_data": [], "comment_data": [],
        }
        for i in (1, 2, 3)
    ]
    _write_file(landing / "a.json", rows, time.time())

    q, sink = stream_landing(
        spark, str(landing), "acme/widgets", sink_base, "2026-02-10", ckpt
    )
    q.awaitTermination(120)
    assert read_snapshot(spark, sink.path("pull_requests")).count() == 3

    shutil.rmtree(ckpt)  # lose the commit → replay batch 0
    q2, _ = stream_landing(
        spark, str(landing), "acme/widgets", sink_base, "2026-02-10", ckpt
    )
    q2.awaitTermination(120)
    out = read_snapshot(spark, sink.path("pull_requests"))
    assert sorted(r.pull_request_id for r in out.collect()) == [1, 2, 3]  # no dupes


def test_stream_stream_interval_join(spark, tmp_path):
    from github_etl_spark.streaming.events import clicks_to_purchases_join

    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    now = time.time()
    _write_file(
        clicks_dir / "c1.json",
        [
            _ev(1, 1, "2026-03-01T10:00:00Z"),
            _ev(2, 2, "2026-03-01T10:05:00Z"),
        ],
        now - 10,
    )
    _write_file(
        purchases_dir / "p1.json",
        [
            _ev(100, 1, "2026-03-01T10:30:00Z", "purchase"),  # within 1h of click 1
            _ev(101, 1, "2026-03-01T12:00:00Z", "purchase"),  # too late for click 1
            _ev(102, 3, "2026-03-01T10:10:00Z", "purchase"),  # no click for user 3
        ],
        now - 10,
    )
    clicks = spark.readStream.schema(EVENT_SCHEMA).json(str(clicks_dir))
    purchases = spark.readStream.schema(EVENT_SCHEMA).json(str(purchases_dir))
    joined = clicks_to_purchases_join(clicks, purchases, within="1 hour")
    _drain(joined, "ssj_out", str(tmp_path / "ck_ssj"))
    rows = [
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    ]
    assert rows == [(1, 1, 100)]  # only the in-window pair for user 1


def test_streaming_heavy_hitters_state_and_bounds(spark, stream_dir, tmp_path):
    from collections import Counter

    from github_etl_spark.streaming.stateful import streaming_heavy_hitters

    now = time.time()
    # two micro-batches of word events; "hot" dominates across both
    b1 = ["hot"] * 30 + ["warm"] * 10 + ["a", "b", "c"] * 2
    b2 = ["hot"] * 25 + ["cool"] * 12 + ["d", "e"] * 3
    _write_file(
        stream_dir / "w1.json",
        [{"event_id": i, "user_id": 0, "ts": "2026-03-01T10:00:00Z", "event_type": w}
         for i, w in enumerate(b1)],
        now - 10,
    )
    _write_file(
        stream_dir / "w2.json",
        [{"event_id": 1000 + i, "user_id": 0, "ts": "2026-03-01T10:01:00Z", "event_type": w}
         for i, w in enumerate(b2)],
        now,
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(stream_dir))
        .select(F.col("event_type").alias("tok"))
    )
    out = streaming_heavy_hitters(stream, "tok", counters=4, shards=4)
    _drain(out, "hh_stream_out", str(tmp_path / "ck_hh"))
    rows = spark.sql("SELECT * FROM hh_stream_out").collect()
    assert rows, "stream emitted no summaries"
    # Cumulative truth over both batches; per-token shard is consistent,
    # so the LAST summary row for a token's shard certifies its bounds.
    true = Counter(b1 + b2)
    latest = {}
    for r in rows:  # memory sink appends in batch order
        latest[(r.shard, r.tok)] = r
    # group the final state per shard: nrows identifies the last emission
    final_per_shard = {}
    for (shard, tok), r in latest.items():
        final_per_shard.setdefault(shard, []).append(r)
    seen_hot = False
    for shard, rs in final_per_shard.items():
        dsum = max(r.dsum for r in rs)
        for r in rs:
            if r.tok == "hot":
                seen_hot = True
                assert r.lower <= true["hot"] <= r.lower + dsum
    assert seen_hot, "dominant token must survive MG state across batches"


def test_streaming_heavy_hitters_shard_by_portable_bucket(
    spark, stream_dir, tmp_path
):
    """Every token's live shard is its md5 bucket, the shard the
    oracle-checked streaming_mg_replay assigns it."""
    from github_etl_spark.operators.pipeline import portable_hash_bucket
    from github_etl_spark.streaming.stateful import streaming_heavy_hitters

    toks = [f"w{i}" for i in range(40)]
    _write_file(
        stream_dir / "s1.json",
        [{"event_id": i, "user_id": 0, "ts": "2026-03-01T10:00:00Z", "event_type": w}
         for i, w in enumerate(toks)],
        time.time(),
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(str(stream_dir))
        .select(F.col("event_type").alias("tok"))
    )
    out = streaming_heavy_hitters(stream, "tok", counters=64, shards=5)
    _drain(out, "hh_shard_out", str(tmp_path / "ck_hh_shard"))
    live = {(r.tok, r.shard) for r in spark.sql("SELECT * FROM hh_shard_out").collect()}
    want = {
        (r.tok, r.shard)
        for r in spark.createDataFrame([(t,) for t in toks], "tok string")
        .select("tok", portable_hash_bucket(F.col("tok"), 5).cast("int").alias("shard"))
        .collect()
    }
    assert live == want


def test_streaming_bottomk_recovers_batch_sample(spark, stream_dir, tmp_path):
    from github_etl_spark.streaming.stateful import streaming_bottomk_sample

    now = time.time()
    # two micro-batches of (event_id -> value) rows
    rows1 = [{"event_id": i, "user_id": 0, "ts": "2026-03-01T10:00:00Z",
              "event_type": "x", "value": float(i * 7 % 101)} for i in range(60)]
    rows2 = [{"event_id": 100 + i, "user_id": 0, "ts": "2026-03-01T10:01:00Z",
              "event_type": "x", "value": float(i * 13 % 97)} for i in range(60)]
    import json as _json

    with open(stream_dir / "v1.json", "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows1))
    os.utime(stream_dir / "v1.json", (now - 10, now - 10))
    with open(stream_dir / "v2.json", "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows2))
    os.utime(stream_dir / "v2.json", (now, now))

    schema = EVENT_SCHEMA + ", value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(stream_dir))
    )
    out = streaming_bottomk_sample(stream, "event_id", k=16, shards=4)
    _drain(out, "bk_stream_out", str(tmp_path / "ck_bk"))

    # fold the FINAL emission per shard, then global bottom-16
    emitted = spark.sql("SELECT * FROM bk_stream_out").collect()
    assert emitted
    # dedup on (shard, rid) keeping the LAST emission (memory sink
    # appends in batch order), then fold to the global bottom-16
    seen = {}
    for r in emitted:
        seen[(r.shard, r.rid)] = (r.hkey, r.rid, r.value)
    folded = sorted(seen.values())[:16]

    # ground truth: the batch operator's bottom-16 over all rows
    from github_etl_spark.operators.sketches import bottomk_sample

    all_rows = spark.createDataFrame(
        [(r["event_id"], r["value"]) for r in rows1 + rows2], "event_id long, value double"
    )
    want = sorted(
        (r.hkey, r.event_id, r.value)
        for r in bottomk_sample(all_rows, "value", "event_id", 16).collect()
    )
    assert folded == want


def test_streaming_bottomk_rejects_non_integral_id(spark):
    """A string id would silently NULL under cast('long') and emit
    empty samples — the operator must fail loudly at plan-build time
    instead (the batch bottomk_sample keeps the original id column and
    has no such restriction)."""
    import pytest

    from github_etl_spark.streaming.stateful import streaming_bottomk_sample

    rows = spark.createDataFrame([("a", 1.0)], "doc string, value double")
    with pytest.raises(TypeError, match="integral id column"):
        streaming_bottomk_sample(rows, "doc", k=4)


def test_mg_fold_sharded_equals_streaming_update_rule(spark):
    """The batch replay fold (operators/sketches.mg_fold_sharded) must
    produce BIT-IDENTICAL state to the live streaming update rule
    (streaming/stateful._mg_update_fn) over the same micro-batch
    sequence — the equality streaming_mg_replay's oracle row rests on."""
    import pandas as pd

    from github_etl_spark.operators.sketches import (
        mg_batch_fragments,
        mg_fold_sharded,
    )
    from github_etl_spark.streaming.stateful import _mg_update_fn

    K = 3
    batches = [
        ["a", "a", "b", "c", "d", "a", "b"],
        ["b", "b", "e", "f", "a"],
        ["g", "g", "g", "a", "b", "c", "c"],
    ]

    # live rule: one shard (shard 0), state threaded across batches
    class _FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

    st = _FakeState()
    fn = _mg_update_fn(K)
    for b in batches:
        list(fn((0,), iter([pd.DataFrame({"tok": b})]), st))
    toks_live, counts_live, dsum_live, nrows_live = st.get
    live = dict(zip(toks_live, counts_live))

    # batch replay: same sequence through the fold operator
    state = None
    for b in batches:
        df = spark.createDataFrame(
            [(0, t) for t in b], "shard int, tok string"
        )
        frag = mg_batch_fragments(df)
        parts = frag if state is None else state.unionByName(frag)
        state = mg_fold_sharded(parts, counters=K)
    rows = state.collect()
    replay = {
        r["tok"]: r["lower"] for r in rows if r["tok"] is not None
    }
    stats = next(r for r in rows if r["tok"] is None)
    assert replay == live
    assert stats["dsum"] == dsum_live and dsum_live > 0  # pruning happened
    assert stats["nrows"] == nrows_live == sum(len(b) for b in batches)


def test_streaming_mg_replay_bounds_hold(spark):
    from github_etl_spark.plans.ext import streaming_mg_replay

    rows = streaming_mg_replay(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["within_bounds"] == 1 for r in rows)
    # counters=8 must actually prune on the fixture, or the row checks
    # nothing interesting
    assert any(r["shard_dsum"] > 0 for r in rows)


def test_running_totals_replay_equals_live_rule(spark):
    """streaming_totals_replay must emit exactly what the live
    running-totals update rule's emissions accumulate to over the same batch
    sequence — one row per (key, batch the key appears in), cumulative."""
    import pandas as pd

    from github_etl_spark.streaming.stateful import (
        IDLE_EVICT_MS,
        _running_totals_fn,
    )

    class _FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

    batches = {0: [7, 7, 9], 1: [7], 2: [9, 9, 7]}
    live = []
    states: dict[int, _FakeState] = {}
    for b, users in batches.items():
        for uid in set(users):
            st = states.setdefault(uid, _FakeState())
            (out,) = _running_totals_fn(IDLE_EVICT_MS)(
                (uid,),
                iter([pd.DataFrame({"user_id": [u for u in users if u == uid]})]),
                st,
            )
            live.append((uid, b, int(out["batch_events"][0]),
                         int(out["total_events"][0])))

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [(b, u) for b, us in batches.items() for u in us],
        "batch int, user_id long",
    )
    per_batch = rows.groupBy("user_id", "batch").agg(
        F.count(F.lit(1)).alias("batch_events")
    )
    w = (
        W.partitionBy("user_id").orderBy("batch")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    replay = sorted(
        (r["user_id"], r["batch"], r["batch_events"], r["total_events"])
        for r in per_batch.select(
            "user_id", "batch", "batch_events",
            F.sum("batch_events").over(w).alias("total_events"),
        ).collect()
    )
    assert replay == sorted(live)


# --------------------------------------------------- event-time fold replays


def test_tumbling_replay_equals_live_stream(spark, stream_dir, tmp_path):
    """The oracle-visible watermark replay (streaming/events.
    tumbling_replay) must reproduce the LIVE append-mode output on the
    same micro-batch sequence: identical finalized (window, key,
    count) rows — including the late-data drop and the terminal
    flush — and nothing live for windows the replay says are still
    open (emitted_batch NULL)."""
    from github_etl_spark.streaming.events import tumbling_replay

    now = time.time()
    batches = [
        # b0: two 10:xx clicks, a view, and a 12:30 advancer
        [
            _ev(1, 1, "2026-03-01T10:05:00Z"),
            _ev(2, 1, "2026-03-01T10:20:00Z"),
            _ev(3, 2, "2026-03-01T11:10:00Z", "view"),
            _ev(4, 3, "2026-03-01T12:30:00Z", "other"),
        ],
        # b1: advancer to 14:00 (wm during b1 is 12:20)
        [_ev(5, 3, "2026-03-01T14:00:00Z", "other")],
        # b2: a 10:40 click far behind the 13:50 watermark (dropped)
        # plus a 16:00 advancer
        [
            _ev(6, 1, "2026-03-01T10:40:00Z"),
            _ev(7, 3, "2026-03-01T16:00:00Z", "other"),
        ],
    ]
    for i, rows in enumerate(batches):
        _write_file(stream_dir / f"b{i}.json", rows, now - 20 + 10 * i)
    agg = tumbling_counts(
        _events_stream(spark, stream_dir), watermark="10 minutes"
    )
    _drain(agg, "replay_pin_out", str(tmp_path / "ck_rp"))
    live = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM replay_pin_out").collect()
    }

    rows = [
        dict(r, batch=i) for i, rs in enumerate(batches) for r in rs
    ]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["batch"])
         for r in rows],
        "event_id long, user_id long, ts_s string, event_type string, "
        "batch int",
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
        "event_type", "batch",
    )
    rep = tumbling_replay(batch_df, "batch", delay="10 minutes")
    rep_rows = rep.collect()
    emitted = {
        (str(r.window_start), r.event_type): r.n_events
        for r in rep_rows
        if r.emitted_batch is not None
    }
    still_open = {
        (str(r.window_start), r.event_type)
        for r in rep_rows
        if r.emitted_batch is None
    }
    assert emitted == live
    assert still_open  # the 16:00 window is open at stream end
    assert not (still_open & set(live))
    # the late 10:40 click is dropped in BOTH: the 10:00 window holds 2
    assert emitted[("2026-03-01 10:00:00", "click")] == 2
    # emission schedule under the LAGGED watermark: the 10:00 window
    # finalized by b2 (lag-2 wm 12:20), everything else by the
    # terminal flush (15:50), the 16:00 window still open
    sched = {
        (str(r.window_start), r.event_type): r.emitted_batch
        for r in rep_rows
    }
    assert sched[("2026-03-01 10:00:00", "click")] == 2
    assert sched[("2026-03-01 12:00:00", "other")] == 3
    assert sched[("2026-03-01 14:00:00", "other")] == 3  # terminal flush
    assert sched[("2026-03-01 16:00:00", "other")] is None


def test_tumbling_replay_watermark_lags_two_batches(
    spark, stream_dir, tmp_path
):
    """THE decisive lag probe, pinned: a late row whose window end sits
    BETWEEN the through-(b−1) watermark (14:50 — would drop it) and the
    through-(b−2) watermark (12:50 — keeps it) is KEPT by the live
    operator, so the replay must apply the two-batch-lagged watermark,
    not the textbook one-batch form."""
    from github_etl_spark.streaming.events import tumbling_replay

    now = time.time()
    batches = [
        [_ev(1, 1, "2026-03-01T10:05:00Z"),
         _ev(2, 1, "2026-03-01T13:00:00Z")],
        [_ev(3, 1, "2026-03-01T15:00:00Z")],
        # late 13:30: window [13:00,14:00) end 14:00 ∈ (12:50, 14:50]
        [_ev(4, 1, "2026-03-01T13:30:00Z"),
         _ev(5, 1, "2026-03-01T17:00:00Z")],
    ]
    for i, rows in enumerate(batches):
        _write_file(stream_dir / f"b{i}.json", rows, now - 20 + 10 * i)
    agg = tumbling_counts(
        _events_stream(spark, stream_dir), watermark="10 minutes"
    )
    _drain(agg, "lag_pin_out", str(tmp_path / "ck_lag"))
    live = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM lag_pin_out").collect()
    }
    assert live[("2026-03-01 13:00:00", "click")] == 2  # late row KEPT

    rows = [dict(r, batch=i) for i, rs in enumerate(batches) for r in rs]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["batch"])
         for r in rows],
        "event_id long, user_id long, ts_s string, event_type string, "
        "batch int",
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
        "event_type", "batch",
    )
    rep_rows = tumbling_replay(batch_df, "batch", delay="10 minutes").collect()
    emitted = {
        (str(r.window_start), r.event_type): r.n_events
        for r in rep_rows
        if r.emitted_batch is not None
    }
    assert emitted == live


def test_interval_join_replay_equals_live_stream(spark, tmp_path):
    """The stream-stream interval-join replay must reproduce the LIVE
    joined pairs on the same micro-batch sequence, including the
    late-click drop against the min-across-sources watermark."""
    from github_etl_spark.streaming.events import (
        clicks_to_purchases_join,
        interval_join_replay,
    )

    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    now = time.time()
    c_batches = [
        [_ev(1, 1, "2026-03-01T10:00:00Z"),
         _ev(2, 2, "2026-03-01T12:00:00Z")],
        # b1: a LATE click — the lagged watermark (through b−2 = none
        # yet) hasn't reached it, so it still joins purchase 101:
        # the pair (3, 101) IS emitted live
        [_ev(3, 1, "2026-03-01T09:00:00Z"),
         _ev(4, 2, "2026-03-01T12:10:00Z")],
        # b2: the same click TWO batches late — the lagged watermark
        # is now 11:50 (through b0) and 09:00 < 11:50 pre-filters it:
        # NO pair appears live
        [_ev(5, 1, "2026-03-01T09:00:00Z")],
    ]
    p_batches = [
        [_ev(100, 1, "2026-03-01T10:30:00Z", "purchase"),
         _ev(101, 1, "2026-03-01T09:30:00Z", "purchase"),
         _ev(102, 2, "2026-03-01T12:00:00Z", "purchase")],
        # b1: pairs with click 4 same-batch; with click 2 (12:00)
        # cross-batch: 12:40 within 1h
        [_ev(103, 2, "2026-03-01T12:40:00Z", "purchase")],
    ]
    for i, rows in enumerate(c_batches):
        _write_file(clicks_dir / f"c{i}.json", rows, now - 10 + 10 * i)
    for i, rows in enumerate(p_batches):
        _write_file(purchases_dir / f"p{i}.json", rows, now - 10 + 10 * i)

    def _src(d):
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(d))
        )

    joined = clicks_to_purchases_join(
        _src(clicks_dir), _src(purchases_dir),
        within="1 hour", watermark="10 minutes",
    )
    _drain(joined, "ssj_replay_out", str(tmp_path / "ck_ssjr"))
    live = sorted(
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_replay_out").collect()
    )

    def _bdf(batches):
        rows = [
            (r["event_id"], r["user_id"], r["ts"], r["event_type"], i)
            for i, rs in enumerate(batches)
            for r in rs
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts_s string, event_type string, "
            "batch int",
        ).select(
            "event_id", "user_id",
            F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
            "event_type", "batch",
        )

    rep = interval_join_replay(
        _bdf(c_batches), _bdf(p_batches), "batch",
        within="1 hour", delay="10 minutes",
    )
    replayed = sorted(
        (r.user_id, r.click_id, r.purchase_id) for r in rep.collect()
    )
    assert replayed == live
    # one-batch-late click still pairs (lagged wm hasn't reached it)…
    assert (1, 3, 101) in replayed
    # …the two-batch-late one is pre-filtered; cross-batch in-band
    # pairs survive
    assert (1, 5, 101) not in replayed
    assert (2, 2, 103) in replayed


def test_interval_join_prefilter_beats_live_state(spark, tmp_path):
    """THE decisive pre-filter probe, pinned: a two-batch-late click
    whose in-band partners are all STILL IN STATE (none evictable yet)
    produces NO pairs live — proving the join pre-filters late input
    rows against the lagged watermark rather than merely evicting
    state; and an equal-timestamp same-batch pair joins (band is
    inclusive)."""
    from github_etl_spark.streaming.events import (
        clicks_to_purchases_join,
        interval_join_replay,
    )

    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    now = time.time()
    c_batches = [
        [_ev(1, 7, "2026-03-01T12:00:00Z")],
        [_ev(2, 7, "2026-03-01T13:00:00Z")],
        # late click 09:30 < lagged wm 11:50 (through b0) — but its
        # in-band partners 100/101/102 are ALL alive in state
        # (≥ any watermark the store could have applied): pre-filtered
        [_ev(3, 7, "2026-03-01T09:30:00Z"),
         _ev(4, 7, "2026-03-01T16:00:00Z")],
    ]
    p_batches = [
        [_ev(100, 7, "2026-03-01T11:55:00Z", "purchase"),
         _ev(101, 7, "2026-03-01T12:00:00Z", "purchase")],
        [_ev(102, 7, "2026-03-01T13:00:00Z", "purchase")],
        [_ev(103, 7, "2026-03-01T16:00:00Z", "purchase")],
    ]
    for i, rows in enumerate(c_batches):
        _write_file(clicks_dir / f"c{i}.json", rows, now - 20 + 10 * i)
    for i, rows in enumerate(p_batches):
        _write_file(purchases_dir / f"p{i}.json", rows, now - 20 + 10 * i)

    def _src(d):
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(d))
        )

    joined = clicks_to_purchases_join(
        _src(clicks_dir), _src(purchases_dir),
        within="6 hours", watermark="10 minutes",
    )
    _drain(joined, "ssj_pref_out", str(tmp_path / "ck_ssjp"))
    live = sorted(
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_pref_out").collect()
    )
    assert (1, 101) in live  # equal-ts same-batch pair joins
    assert all(c != 3 for c, _ in live)  # the late click yields nothing

    def _bdf(batches):
        rows = [
            (r["event_id"], r["user_id"], r["ts"], r["event_type"], i)
            for i, rs in enumerate(batches)
            for r in rs
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts_s string, event_type string, "
            "batch int",
        ).select(
            "event_id", "user_id",
            F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
            "event_type", "batch",
        )

    rep = interval_join_replay(
        _bdf(c_batches), _bdf(p_batches), "batch",
        within="6 hours", delay="10 minutes",
    )
    replayed = sorted((r.click_id, r.purchase_id) for r in rep.collect())
    assert replayed == live


def test_session_replay_equals_live_stream(spark, stream_dir, tmp_path):
    """The session-window replay must reproduce the LIVE append-mode
    sessions on the same micro-batch sequence — covering the lag-2
    late drop, cross-batch merge with OPEN state, the
    finalize-BEFORE-merge split (an emitted session is not
    resurrected by a late-but-kept neighbor), and the overlap-or-touch
    merge rule."""
    from github_etl_spark.streaming.events import session_counts, session_replay

    now = time.time()
    batches = [
        # b0: u1 session seed; u3 seed; u5 two-event session; u6
        # TOUCHING pair (10:30 == 10:00+gap -> one session); u9 advancer
        [
            _ev(1, 1, "2026-03-01T10:00:00Z"),
            _ev(2, 3, "2026-03-01T12:35:00Z"),
            _ev(3, 5, "2026-03-01T12:00:00Z"),
            _ev(4, 5, "2026-03-01T12:15:00Z"),
            _ev(20, 6, "2026-03-01T10:00:00Z"),
            _ev(21, 6, "2026-03-01T10:30:00Z"),
            _ev(5, 9, "2026-03-01T13:00:00Z"),
        ],
        # b1: u1 merge with open state (lag-2 wm still none); u9 advancer
        [
            _ev(6, 1, "2026-03-01T10:20:00Z"),
            _ev(7, 9, "2026-03-01T15:00:00Z"),
        ],
        # b2 (lag-2 wm = 12:50): u1 10:45 dropped (11:15 <= 12:50);
        # u3 12:55 merges with the still-open [12:35,13:05);
        # u5 12:40 lands next to the FINALIZING [12:00,12:45) -> split;
        # u9 advancer to 17:00
        [
            _ev(8, 1, "2026-03-01T10:45:00Z"),
            _ev(9, 3, "2026-03-01T12:55:00Z"),
            _ev(10, 5, "2026-03-01T12:40:00Z"),
            _ev(11, 9, "2026-03-01T17:00:00Z"),
        ],
    ]
    for i, rows in enumerate(batches):
        _write_file(stream_dir / f"b{i}.json", rows, now - 20 + 10 * i)
    agg = session_counts(
        _events_stream(spark, stream_dir),
        gap="30 minutes", watermark="10 minutes",
    )
    _drain(agg, "sess_pin_out", str(tmp_path / "ck_sess"))
    live = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in spark.sql("SELECT * FROM sess_pin_out").collect()
    }

    rows = [dict(r, batch=i) for i, rs in enumerate(batches) for r in rs]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["ts"], r["event_type"], r["batch"])
         for r in rows],
        "event_id long, user_id long, ts_s string, event_type string, "
        "batch int",
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
        "event_type", "batch",
    )
    rep_rows = session_replay(
        batch_df, "batch", [0, 1, 2], gap="30 minutes", delay="10 minutes"
    ).collect()
    emitted = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in rep_rows
        if r.emitted_batch is not None
    }
    still_open = {
        (r.user_id, str(r.session_start), str(r.session_end))
        for r in rep_rows
        if r.emitted_batch is None
    }
    assert emitted == live
    assert not (still_open & set(live))
    # the named behaviors, explicitly:
    k = ("2026-03-01 10:00:00", "2026-03-01 10:50:00")
    assert emitted[(1, *k)] == 2           # b2 late row dropped; b1 merged
    assert emitted[(3, "2026-03-01 12:35:00", "2026-03-01 13:25:00")] == 2
    assert emitted[(5, "2026-03-01 12:00:00", "2026-03-01 12:45:00")] == 2
    assert emitted[(5, "2026-03-01 12:40:00", "2026-03-01 13:10:00")] == 1
    assert emitted[(6, "2026-03-01 10:00:00", "2026-03-01 11:00:00")] == 2
    assert (9, "2026-03-01 17:00:00", "2026-03-01 17:30:00") in still_open


def test_dedup_replay_equals_live_stream(spark, stream_dir, tmp_path):
    """The oracle-visible dedup replay (streaming/events.dedup_replay)
    must reproduce the LIVE dropDuplicatesWithinWatermark output on
    the same micro-batch sequence — including the probed edges: state
    suppression, the lag-2 late drop at equality (ts == wm dropped),
    eviction at equality (expiry == wm evicts, same-batch re-arrival
    emits), and no expiry extension by a suppressed duplicate."""
    from github_etl_spark.streaming.events import dedup_replay

    now = time.time()
    batches = [
        # b0: A@10:00 (emit; expiry 10:10 under 10m delay), advancer
        # to 10:20 so the later lag-2 watermark lands EXACTLY on the
        # expiry
        [_ev(1, 1, "2026-03-01T10:00:00Z"),
         _ev(99, 1, "2026-03-01T10:20:00Z")],
        # b1 (lag-2 wm NULL): duplicate A@10:05 — state alive, must be
        # suppressed and must NOT extend expiry; fresh B@10:09
        [_ev(1, 1, "2026-03-01T10:05:00Z"),
         _ev(2, 1, "2026-03-01T10:09:00Z"),
         _ev(98, 1, "2026-03-01T12:00:00Z")],
        # b2 (lag-2 wm = 10:20-10m = 10:10): A's expiry == wm →
        # evicted, so A@10:26 RE-EMITS; fresh C exactly AT the
        # watermark (10:10) is late-dropped; fresh D just above
        # (10:10:01) emits
        [_ev(1, 1, "2026-03-01T10:26:00Z"),
         _ev(3, 1, "2026-03-01T10:10:00Z"),
         _ev(4, 1, "2026-03-01T10:10:01Z"),
         _ev(97, 1, "2026-03-01T12:30:00Z")],
    ]
    for i, rows in enumerate(batches):
        _write_file(stream_dir / f"b{i}.json", rows, now - 30 + 10 * i)

    live = dedup_within_watermark(
        _events_stream(spark, stream_dir), keys=["event_id"],
        watermark="10 minutes",
    )
    _drain(live, "dedup_replay_pin_out", str(tmp_path / "ck_ddr"))
    live_rows = {
        (r.event_id, str(r.ts))
        for r in spark.sql("SELECT * FROM dedup_replay_pin_out").collect()
    }

    rows = [dict(r, batch=i) for i, rs in enumerate(batches) for r in rs]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["batch"]) for r in rows],
        "dk long, ts_s string, batch int",
    ).select(
        "dk",
        F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ssX").alias("ts"),
        "batch",
    )
    rep = dedup_replay(
        batch_df, "batch", [0, 1, 2], ts_col="ts", key="dk",
        delay="10 minutes",
    )
    rep_rows = rep.collect()
    emitted = {
        (r.dk, str(r.ts)) for r in rep_rows if r.verdict == "emitted"
    }
    assert emitted == live_rows
    verdicts = {(r.dk, r.batch): r.verdict for r in rep_rows}
    assert verdicts[(1, 0)] == "emitted"
    assert verdicts[(1, 1)] == "dup_suppressed"   # state alive in b1
    assert verdicts[(1, 2)] == "emitted"          # evicted at expiry==wm
    assert verdicts[(3, 2)] == "late_dropped"     # ts == wm exactly
    assert verdicts[(4, 2)] == "emitted"          # one second above wm
    # every input row got exactly one verdict
    assert len(rep_rows) == sum(len(b) for b in batches)


def test_dedup_replay_matches_scalar_simulation(spark):
    """Differential: the DataFrame fold vs a direct scalar simulation
    of the probed dropDuplicatesWithinWatermark rules, over randomized
    (seeded) batch sequences — keys recur, timestamps collide, and
    watermarks advance irregularly."""
    import random
    from datetime import datetime, timedelta

    from github_etl_spark.streaming.events import dedup_replay

    rng = random.Random(1137)
    base = datetime(2026, 3, 1)
    delay = timedelta(minutes=10)
    n_batches = 4
    rows = []
    for b in range(n_batches):
        for _ in range(rng.randint(3, 8)):
            rows.append(
                (
                    rng.randint(1, 5),  # dk: heavy collisions
                    base + timedelta(minutes=rng.randint(0, 90) + 25 * b),
                    b,
                )
            )

    # scalar simulation of the probed rules
    bmax = {}
    for dk, ts, b in rows:
        bmax[b] = max(bmax.get(b, ts), ts)
    def wm(b):
        prior = [bmax[x] for x in range(b - 1) if x in bmax]
        return (max(prior) - delay) if prior else None
    state: dict[int, datetime] = {}
    expect: dict[tuple, str] = {}
    for b in range(n_batches):
        w = wm(b)
        if w is not None:
            state = {k: t0 for k, t0 in state.items() if t0 + delay > w}
        batch = [(dk, ts) for dk, ts, bb in rows if bb == b]
        live = [(dk, ts) for dk, ts in batch if w is None or ts > w]
        for dk, ts in batch:
            if not (w is None or ts > w):
                expect[(dk, ts, b)] = "late_dropped"
        keeper = {}
        for dk, ts in live:
            if dk in state:
                expect[(dk, ts, b)] = "dup_suppressed"
            else:
                keeper.setdefault(dk, []).append(ts)
        for dk, tss in keeper.items():
            kts = min(tss)
            for ts in tss:
                if ts != kts:
                    expect[(dk, ts, b)] = "dup_suppressed"
            expect[(dk, kts, b)] = "emitted"
            state[dk] = kts
    df = spark.createDataFrame(rows, "dk long, ts timestamp, batch int")
    got = {
        (r.dk, r.ts, r.batch): r.verdict
        for r in dedup_replay(
            df, "batch", list(range(n_batches)), ts_col="ts", key="dk",
            delay="10 minutes",
        ).collect()
    }
    # exact (dk, ts, batch) duplicate arrivals collapse in the replay;
    # compare on the distinct-arrival key set
    assert got == expect


def test_dedup_replay_survives_empty_batch(spark):
    """A batch id with zero rows must yield a NULL-watermark round,
    not an empty frame that wipes dedup state (review-caught): a key
    emitted in batch 0 re-arriving in batch 2 across an empty batch 1
    is still suppressed while its state lives."""
    from datetime import datetime

    from github_etl_spark.streaming.events import dedup_replay

    rows = [
        (1, datetime(2026, 3, 1, 10, 0), 0),
        # batch 1 intentionally empty
        (1, datetime(2026, 3, 1, 10, 5), 2),
    ]
    df = spark.createDataFrame(rows, "dk long, ts timestamp, batch int")
    got = {
        (r.dk, r.batch): r.verdict
        for r in dedup_replay(
            df, "batch", [0, 1, 2], ts_col="ts", key="dk",
            delay="10 minutes",
        ).collect()
    }
    # lag-2 wm at batch 2 = 10:00 - 10m = 09:50 < expiry 10:10 →
    # state alive → the re-arrival is suppressed, NOT re-emitted
    assert got == {(1, 0): "emitted", (1, 2): "dup_suppressed"}


def test_session_replay_survives_trailing_empty_batch(spark):
    """The terminal flush id comes from batch_ids, so open sessions
    still emit when the LAST batch carries no rows (review-caught)."""
    from datetime import datetime

    from github_etl_spark.streaming.events import session_replay

    rows = [
        (7, datetime(2026, 3, 1, 10, 0), 0),
        (7, datetime(2026, 3, 1, 16, 0), 1),
        # batch 2 intentionally empty
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, batch int")
    out = session_replay(
        df, "batch", [0, 1, 2], ts_col="ts", gap="6 hours",
        delay="2 hours", key="user_id",
    ).collect()
    emitted = [r for r in out if r.emitted_batch is not None]
    # the 10:00 session (end 16:00... merged to 22:00 by the 16:00
    # event) closes via the terminal watermark? terminal wm = 16:00-2h
    # = 14:00 < 22:00 → still open; the POINT is no crash and no
    # state wipe: exactly one session row survives with both events
    assert len(out) == 1 and out[0].n_events == 2
    assert emitted == [] and out[0].emitted_batch is None


def _rows_in_batches_0_1_5(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2026, 3, 1, 10, 0), 0),
        (2, datetime(2026, 3, 1, 11, 0), 1),
        (3, datetime(2026, 3, 1, 12, 0), 5),
        (4, datetime(2026, 3, 1, 13, 0), None),
    ]
    return spark.createDataFrame(rows, "dk long, ts timestamp, batch int")


def test_dedup_replay_refuses_an_unlisted_batch(spark):
    """Batch 5 is not in batch_ids: its row would get no verdict row,
    so the replay raises instead (a NULL batch id is no micro-batch and
    is not refused)."""
    from github_etl_spark.streaming.events import dedup_replay

    df = _rows_in_batches_0_1_5(spark)
    with pytest.raises(ValueError, match=r"\[5\]"):
        dedup_replay(df, "batch", [0, 1], key="dk")
    assert len(dedup_replay(df, "batch", [0, 1, 5], key="dk").collect()) == 3


def test_session_replay_refuses_an_unlisted_batch(spark):
    from github_etl_spark.streaming.events import session_replay

    df = _rows_in_batches_0_1_5(spark)
    with pytest.raises(ValueError, match=r"\[5\]"):
        session_replay(df, "batch", [0, 1], key="dk")
    out = session_replay(df, "batch", [0, 1, 5], key="dk").collect()
    assert sum(r.n_events for r in out) == 3


def test_tumbling_replay_empty_batch_advances_watermark(spark):
    """With the supplied-ids spine an EMPTY batch still occupies a
    spine row, so the lag-2 watermark is an id-distance lag: at batch
    2 the watermark derives from batch 0 (batch 1 contributed no max),
    and at the terminal flush from all observed data — matching the
    live operator, whose watermark advances every micro-batch. Without
    batch_ids the observed-only spine would treat batch 2 as the
    SECOND row and keep the watermark NULL there."""
    from datetime import datetime

    from github_etl_spark.streaming.events import tumbling_replay

    rows = [
        ("click", datetime(2026, 3, 1, 10, 30), 0),
        # batch 1 intentionally empty
        # batch 2: a row whose window (09:00-10:00) ended BELOW the
        # batch-2 lagged watermark (10:30 - 2h = 08:30 < 10:00 — wait,
        # the watermark must EXCEED the window end to drop it), so use
        # a long delay-relative gap: window end 06:00 < 08:30 → drop.
        ("click", datetime(2026, 3, 1, 5, 30), 2),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, batch int")
    out = tumbling_replay(
        df, "batch", ts_col="ts", delay="2 hours", key="event_type",
        batch_ids=[0, 1, 2],
    ).collect()
    # id-distance spine: batch-2 watermark = max(batch 0) - 2h = 08:30;
    # the 05:30 row's window ends 06:00 <= 08:30 → late-dropped, so
    # only the 10:00-11:00 window exists.
    assert len(out) == 1
    (w,) = out
    assert w.window_start == datetime(2026, 3, 1, 10, 0) and w.n_events == 1
    # Observed-only spine (no batch_ids): batch 2 is the second
    # OBSERVED batch, lag-2 watermark NULL → the late row is KEPT.
    out2 = tumbling_replay(
        df, "batch", ts_col="ts", delay="2 hours", key="event_type"
    ).collect()
    assert len(out2) == 2


def test_interval_join_replay_empty_batch_advances_watermark(spark):
    """Same id-distance contract for the stream-stream join: a click
    arriving in batch 2 below the batch-0-derived lagged watermark is
    pre-filtered even though batch 1 carried no rows on either side."""
    from datetime import datetime

    from github_etl_spark.streaming.events import interval_join_replay

    clicks = spark.createDataFrame(
        [
            (1, 100, datetime(2026, 3, 1, 12, 0), 0),
            # batch 1 empty on both sides
            (1, 101, datetime(2026, 3, 1, 8, 0), 2),  # below 10:00 wm
        ],
        "user_id long, event_id long, ts timestamp, batch int",
    )
    purchases = spark.createDataFrame(
        [
            (1, 200, datetime(2026, 3, 1, 12, 0), 0),
            (1, 201, datetime(2026, 3, 1, 8, 30), 2),
        ],
        "user_id long, event_id long, ts timestamp, batch int",
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in interval_join_replay(
            clicks, purchases, "batch", within="1 hour", delay="2 hours",
            batch_ids=[0, 1, 2],
        ).collect()
    }
    # batch-2 lagged wm = min(12:00, 12:00) - 2h = 10:00: both batch-2
    # rows (08:00 click, 08:30 purchase) are pre-filtered; only the
    # batch-0 pair joins.
    assert got == {(100, 200)}
    # Observed-only spine: batch 2 is the second observed batch → wm
    # NULL → the late pair also joins.
    got2 = {
        (r.click_id, r.purchase_id)
        for r in interval_join_replay(
            clicks, purchases, "batch", within="1 hour", delay="2 hours",
        ).collect()
    }
    assert got2 == {(100, 200), (101, 201)}
