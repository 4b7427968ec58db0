"""Idempotent snapshot sink (M2): probe, overwrite, isolation.

Mirrors the reference's load/idempotence behaviors
(tests/test_load_data.py and the main.py:829-839 driver decision)
without copying them: same contract, engine-native mechanism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from github_etl_spark.sinks.snapshot import (
    SnapshotSink,
    read_snapshot,
    snapshot_exists,
    stamp,
    write_snapshot,
)


def _rows(spark, vals):
    return spark.createDataFrame(
        [(i, f"title {i}") for i in vals], "pull_request_id long, title string"
    )


def test_stamp_adds_partition_columns(spark):
    out = stamp(_rows(spark, [1]), "acme/widgets", "2026-01-15").collect()[0]
    assert out.target_repository == "acme/widgets"
    assert str(out.snapshot_date) == "2026-01-15"


def test_write_then_probe_then_read(spark, tmp_path):
    path = str(tmp_path / "pull_requests")
    write_snapshot(stamp(_rows(spark, [1, 2, 3]), "acme/widgets", "2026-01-15"), path)

    assert snapshot_exists(spark, path, "acme/widgets", "2026-01-15")
    assert not snapshot_exists(spark, path, "acme/widgets", "2026-01-16")
    assert not snapshot_exists(spark, path, "other/repo", "2026-01-15")

    back = read_snapshot(spark, path, "acme/widgets", "2026-01-15")
    assert back.count() == 3
    # Partition column round-trips through the %2F directory escaping.
    assert back.select("target_repository").distinct().collect()[0][0] == "acme/widgets"


def test_missing_table_probe_is_false(spark, tmp_path):
    # Reference behavior: missing table → False, not an error (main.py:589-597).
    assert not snapshot_exists(spark, str(tmp_path / "nope"), "r", "2026-01-15")


def test_rerun_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "pull_requests")
    write_snapshot(stamp(_rows(spark, [1, 2, 3]), "acme/widgets", "2026-01-15"), path)
    # Re-load the same partition with different rows — replaces, not appends.
    write_snapshot(stamp(_rows(spark, [7, 8]), "acme/widgets", "2026-01-15"), path)
    back = read_snapshot(spark, path, "acme/widgets", "2026-01-15")
    assert sorted(r.pull_request_id for r in back.collect()) == [7, 8]


def test_overwrite_leaves_other_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "pull_requests")
    write_snapshot(stamp(_rows(spark, [1]), "acme/widgets", "2026-01-15"), path)
    write_snapshot(stamp(_rows(spark, [2]), "other/repo", "2026-01-15"), path)
    write_snapshot(stamp(_rows(spark, [3]), "acme/widgets", "2026-01-16"), path)
    # Overwrite one partition; the other two must survive.
    write_snapshot(stamp(_rows(spark, [9, 10]), "acme/widgets", "2026-01-15"), path)

    all_rows = read_snapshot(spark, path)
    assert all_rows.count() == 4
    assert read_snapshot(spark, path, "other/repo", "2026-01-15").count() == 1
    assert read_snapshot(spark, path, "acme/widgets", "2026-01-16").count() == 1


def test_partition_pruning_in_plan(spark, tmp_path):
    path = str(tmp_path / "pull_requests")
    write_snapshot(stamp(_rows(spark, [1]), "acme/widgets", "2026-01-15"), path)
    plan = (
        read_snapshot(spark, path, "acme/widgets", "2026-01-15")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_sink_four_tables_and_empty_skip(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "wh"))
    empty = _rows(spark, [1]).where(F.lit(False))
    sink.load(
        {"pull_requests": _rows(spark, [1, 2]), "commits": empty},
        "acme/widgets",
        "2026-01-15",
    )
    assert sink.exists(spark, "acme/widgets", "2026-01-15")
    assert not sink.exists(spark, "acme/widgets", "2026-01-16")
    # Empty table → no partitions written; the probe reads it as absent
    # (reference main.py:719-723 skips empty row lists — same contract,
    # enforced by dynamic overwrite writing nothing, not by a take(1)
    # pre-scan that would double-execute the transform).
    assert not snapshot_exists(
        spark, sink.path("commits"), "acme/widgets", "2026-01-15"
    )


# ------------------------------------------------- concurrent writers (risk 5)


def test_partition_lock_mutual_exclusion_and_stale_break(tmp_path):
    from github_etl_spark.sinks.locking import LockTimeout, PartitionLock

    base = str(tmp_path)
    a = PartitionLock(base, "acme/widgets", "2026-01-15")
    b = PartitionLock(base, "acme/widgets", "2026-01-15")
    other = PartitionLock(base, "acme/widgets", "2026-01-16")
    a.acquire()
    # Same partition blocks; a different date does not contend.
    try:
        b.acquire(timeout=0.3)
        raise AssertionError("second writer must not acquire a held lock")
    except LockTimeout:
        pass
    other.acquire(timeout=0.3)
    other.release()
    a.release()
    b.acquire(timeout=0.3)  # released → immediately acquirable
    b.release()

    # Stale lock (dead holder) is broken and re-acquired.
    import os
    import time

    c = PartitionLock(base, "acme/widgets", "2026-01-15", stale_after=0.2)
    c.acquire()
    os.utime(c.path, (time.time() - 10, time.time() - 10))  # simulate dead holder
    d = PartitionLock(base, "acme/widgets", "2026-01-15", stale_after=0.2)
    d.acquire(timeout=2.0)
    # The broken holder's release must NOT remove the new holder's lock.
    c.release()
    assert os.path.exists(d.path)
    d.release()
    assert not os.path.exists(d.path)


def test_concurrent_same_partition_loads_never_tear(spark, tmp_path):
    """Two writers loading DIFFERENT data into the SAME (repo, date):
    after both finish, every table must come from ONE writer — the
    lock serializes whole multi-table loads, so no mixed snapshot."""
    import threading

    sink = SnapshotSink(str(tmp_path / "wh"))

    def tables_for(writer: int):
        return {
            name: spark.createDataFrame(
                [(i, writer) for i in range(5)],
                "pull_request_id long, writer int",
            )
            for name in ("pull_requests", "commits", "reviewers", "comments")
        }

    errs = []

    def run(writer: int):
        try:
            sink.load(tables_for(writer), "acme/widgets", "2026-01-15")
        except Exception as e:  # pragma: no cover - surfaced via assert below
            errs.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    writers_seen = set()
    for name in ("pull_requests", "commits", "reviewers", "comments"):
        vals = {
            r.writer
            for r in read_snapshot(
                spark, sink.path(name), "acme/widgets", "2026-01-15"
            ).collect()
        }
        assert len(vals) == 1, f"{name} holds rows from writers {vals}"
        writers_seen |= vals
    # The whole snapshot is from exactly one writer (last one wins).
    assert len(writers_seen) == 1, f"torn snapshot across tables: {writers_seen}"
    # Lock file cleaned up after both loads.
    import os

    lock_dir = os.path.join(str(tmp_path / "wh"), "_locks")
    assert os.listdir(lock_dir) == []


def test_load_with_a_failing_table_lands_the_others_and_unlocks(spark, tmp_path):
    """The table writes run concurrently: one failing write fails the
    load, but only after the other three have landed, and the
    partition lock is released."""
    import os

    import pytest

    sink = SnapshotSink(str(tmp_path / "wh"))
    good = _rows(spark, [1, 2, 3])
    bad = good.withColumn(
        "pull_request_id",
        F.when(F.col("pull_request_id") > 0, F.raise_error(F.lit("boom"))).otherwise(
            F.col("pull_request_id")
        ),
    )
    tables = {"pull_requests": good, "commits": bad, "reviewers": good, "comments": good}
    with pytest.raises(Exception, match="boom"):
        sink.load(tables, "acme/widgets", "2026-01-15")
    for name in ("pull_requests", "reviewers", "comments"):
        assert read_snapshot(spark, sink.path(name), "acme/widgets", "2026-01-15").count() == 3
    assert not snapshot_exists(spark, sink.path("commits"), "acme/widgets", "2026-01-15")
    assert os.listdir(os.path.join(str(tmp_path / "wh"), "_locks")) == []
