"""SCD2 merge edge semantics with hand-built dimensions."""

from __future__ import annotations

import datetime as dt

from github_etl_spark.operators.scd import END_OF_TIME, scd2_apply

EOT = dt.datetime(2200, 1, 1)
DIM_SCHEMA = (
    "k long, v string, valid_from timestamp, valid_to timestamp, is_current boolean"
)


def _dim(spark, rows):
    return spark.createDataFrame(rows, DIM_SCHEMA)


def _upd(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts timestamp")


def _apply(spark, dim_rows, upd_rows):
    out = scd2_apply(_dim(spark, dim_rows), _upd(spark, upd_rows), "k", ["v"]).collect()
    return sorted(
        ((r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out),
        key=lambda t: (t[0], t[2]),
    )


def test_changed_value_closes_current_row(spark):
    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 6, 1)
    out = _apply(
        spark,
        [(1, "a", t0, EOT, True)],
        [(1, "b", t1)],
    )
    assert out == [
        (1, "a", t0, t1, False),
        (1, "b", t1, EOT, True),
    ]


def test_noop_update_is_dropped(spark):
    t0, t1 = dt.datetime(2026, 1, 1), dt.datetime(2026, 6, 1)
    out = _apply(spark, [(1, "a", t0, EOT, True)], [(1, "a", t1)])
    assert out == [(1, "a", t0, EOT, True)]  # nothing changed


def test_new_key_inserts_current(spark):
    t1 = dt.datetime(2026, 6, 1)
    out = _apply(spark, [], [(2, "x", t1)])
    assert out == [(2, "x", t1, EOT, True)]


def test_multi_update_batch_orders_versions(spark):
    t0 = dt.datetime(2026, 1, 1)
    t1, t2 = dt.datetime(2026, 3, 1), dt.datetime(2026, 7, 1)
    out = _apply(
        spark,
        [(1, "a", t0, EOT, True)],
        [(1, "c", t2), (1, "b", t1)],  # out of order on purpose
    )
    assert out == [
        (1, "a", t0, t1, False),
        (1, "b", t1, t2, False),
        (1, "c", t2, EOT, True),
    ]


def test_untouched_keys_and_history_pass_through(spark):
    t0, th, t1 = (
        dt.datetime(2025, 1, 1),
        dt.datetime(2025, 6, 1),
        dt.datetime(2026, 6, 1),
    )
    dim = [
        (1, "old", t0, th, False),  # history row
        (1, "cur", th, EOT, True),
        (2, "zzz", t0, EOT, True),  # untouched key
    ]
    out = _apply(spark, dim, [(1, "new", t1)])
    assert out == [
        (1, "old", t0, th, False),
        (1, "cur", th, t1, False),
        (1, "new", t1, EOT, True),
        (2, "zzz", t0, EOT, True),
    ]


def test_end_of_time_constant():
    # Must stay inside pandas datetime64[ns] range (max 2262-04-11):
    # the correctness driver canonicalizes via toPandas(), and a
    # 9999-12-31 sentinel raises ArrowInvalid there.
    assert END_OF_TIME == "2200-01-01 00:00:00"
    assert dt.datetime.fromisoformat(END_OF_TIME) < dt.datetime(2262, 4, 11)


def test_later_duplicate_updates_are_noops(spark):
    """Review regression: updates identical to the current value at ANY
    position in the batch (not just the first) must not close-and-
    reopen the row."""
    t0 = dt.datetime(2026, 1, 1)
    t1, t2 = dt.datetime(2026, 3, 1), dt.datetime(2026, 7, 1)
    out = _apply(spark, [(1, "a", t0, EOT, True)], [(1, "a", t1), (1, "a", t2)])
    assert out == [(1, "a", t0, EOT, True)]  # fully unchanged


def test_consecutive_inbatch_duplicates_collapse(spark):
    """b@t1, b@t2, c@t3 → the duplicate middle 'b' disappears and the
    first 'b' interval stretches to t3."""
    t0 = dt.datetime(2026, 1, 1)
    t1, t2, t3 = (
        dt.datetime(2026, 2, 1),
        dt.datetime(2026, 4, 1),
        dt.datetime(2026, 6, 1),
    )
    out = _apply(
        spark,
        [(1, "a", t0, EOT, True)],
        [(1, "b", t1), (1, "b", t2), (1, "c", t3)],
    )
    assert out == [
        (1, "a", t0, t1, False),
        (1, "b", t1, t3, False),  # stretched over the dropped duplicate
        (1, "c", t3, EOT, True),
    ]


def test_value_flapping_keeps_every_transition(spark):
    """a → b → a is three real states, not a dedupe opportunity."""
    t0 = dt.datetime(2026, 1, 1)
    t1, t2 = dt.datetime(2026, 3, 1), dt.datetime(2026, 6, 1)
    out = _apply(spark, [(1, "a", t0, EOT, True)], [(1, "b", t1), (1, "a", t2)])
    assert out == [
        (1, "a", t0, t1, False),
        (1, "b", t1, t2, False),
        (1, "a", t2, EOT, True),
    ]


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    from github_etl_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d"), (5, "e")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, None), (6, "f")],
        "k long, v string",
    )
    rows = {
        r.k: (r.change_type, r.old_v, r.new_v)
        for r in snapshot_diff(old, new, "k", ["v"]).collect()
    }
    assert rows == {
        2: ("update", "b", "B"),
        3: ("update", None, "c"),  # NULL -> value is an update
        4: ("delete", "d", None),
        5: ("update", "e", None),  # value -> NULL is an update
        6: ("insert", None, "f"),
    }  # key 1 unchanged: absent


def test_scd2_as_of_picks_covering_interval(spark):
    from github_etl_spark.operators.scd import scd2_as_of

    dim = spark.createDataFrame(
        [
            (1, "x", "2020-01-01 00:00:00", "2021-01-01 00:00:00", False),
            (1, "y", "2021-01-01 00:00:00", "2200-01-01 00:00:00", True),
            (2, "z", "2022-01-01 00:00:00", "2200-01-01 00:00:00", True),
        ],
        "k long, v string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "v",
        "CAST(valid_from AS TIMESTAMP) valid_from",
        "CAST(valid_to AS TIMESTAMP) valid_to",
        "is_current",
    )
    # Probe inside key 1's first interval; key 2 doesn't exist yet.
    got = {(r.k, r.v) for r in scd2_as_of(dim, "2020-06-01 00:00:00").collect()}
    assert got == {(1, "x")}
    # Probe at an interval BOUNDARY: half-open [from, to) — new version wins.
    got = {(r.k, r.v) for r in scd2_as_of(dim, "2021-01-01 00:00:00").collect()}
    assert got == {(1, "y")}


def test_snapshot_diff_random_property(spark):
    """Differential: snapshot_diff vs a dict-based reference on random
    old/new snapshots (seeded, 20 trials batched into one roundtrip)."""
    import random

    from github_etl_spark.operators.scd import snapshot_diff

    rng = random.Random(7)
    vals = [None, "a", "b", "c"]
    old_rows, new_rows, expected = [], [], {}
    for trial in range(20):
        base = trial * 100
        old = {base + k: rng.choice(vals) for k in range(rng.randrange(0, 12))}
        new_keys = set(old) | {base + rng.randrange(0, 15) for _ in range(6)}
        new = {
            k: rng.choice(vals)
            for k in new_keys
            if rng.random() > 0.25  # some keys deleted
        }
        old_rows += [(k, v) for k, v in old.items()]
        new_rows += [(k, v) for k, v in new.items()]
        for k in set(old) | set(new):
            if k not in old:
                expected[k] = ("insert", None, new[k])
            elif k not in new:
                expected[k] = ("delete", old[k], None)
            elif old[k] != new[k]:
                expected[k] = ("update", old[k], new[k])

    mk = lambda rows: spark.createDataFrame(rows or [(None, None)], "k long, v string")
    got = {
        r.k: (r.change_type, r.old_v, r.new_v)
        for r in snapshot_diff(mk(old_rows), mk(new_rows), "k", ["v"]).collect()
        if r.k is not None
    }
    expected.pop(None, None)
    assert got == expected


def test_snapshot_diff_empty_tracked_is_presence_diff(spark):
    """No tracked columns → pure key-presence diff: inserts and
    deletes only, never updates."""
    from github_etl_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    rows = {r.k: r.change_type for r in snapshot_diff(old, new, "k", []).collect()}
    assert rows == {1: "delete", 3: "insert"}


def test_reliable_checkpoint_identical_merge(spark, tmp_path):
    """checkpoint_dir= must not change merge semantics."""
    dim_rows = [
        (1, "a", dt.datetime(2024, 1, 1), EOT, True),
        (2, "b", dt.datetime(2024, 1, 1), EOT, True),
    ]
    upd_rows = [
        (1, "a2", dt.datetime(2024, 2, 1)),
        (3, "c", dt.datetime(2024, 2, 2)),
    ]
    base = _apply(spark, dim_rows, upd_rows)
    ckpt = scd2_apply(
        _dim(spark, dim_rows),
        _upd(spark, upd_rows),
        "k",
        ["v"],
        checkpoint_dir=str(tmp_path / "scd_ckpt"),
    ).collect()
    got = sorted(
        ((r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in ckpt),
        key=lambda t: (t[0], t[2]),
    )
    assert got == base
