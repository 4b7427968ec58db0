"""Event-time streaming operators (SURVEY.md §2.9 T5 — IMPLIED set).

The batch catalog proves the window semantics against the DuckDB oracle
(t5_tumbling_window_agg, w4_sessionize); this module provides the
streaming forms with watermarks, late-data drop, and stateful dedup —
the pieces that only exist in `readStream` land.

Scale notes: all three are keyed-state operators; state size is bounded
by the watermark horizon (Spark evicts state older than the watermark),
which is the knob that makes them viable on an unbounded 100 TB/day
stream. Output mode `append` emits a window only once it is final —
the right contract for a downstream warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts per ``event_type`` (T5).

    Late rows beyond `watermark` are dropped; each (window, type) row is
    emitted exactly once in append mode when the watermark passes the
    window end. Partial (map-side) aggregation still applies before the
    keyed-state shuffle.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows per user: a session closes after `gap` of
    inactivity (the streaming form of the batch w4_sessionize query,
    which computes the same thing with lag + cumulative sum)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("sess"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming dedup on event ids, state bounded by the
    watermark (`dropDuplicatesWithinWatermark`) — the streaming form of
    exact dedup: at-least-once upstream → effectively-once downstream
    without unbounded state."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def clicks_to_purchases_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join (T5): each click pairs
    with that user's purchases occurring within `within` AFTER it.

    Both sides are watermarked and the join condition bounds event time
    on both ends, so Spark can compute how long each side's state must
    be retained (click state: `within` + watermark; purchase state:
    watermark) and evict it — the state-bound that makes a
    stream-stream join viable on an unbounded stream. Without the time
    bound Spark would have to keep every row forever.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


# ------------------------------------------------------------ fold replays
#
# The live operators above are pass(T)-only by nature (readStream has
# no DuckDB analog). These replays make their EVENT-TIME semantics —
# the late-data drop against a per-batch watermark and the append-mode
# emission schedule — oracle-visible as deterministic batch folds over
# an arrival-batch column, the same treatment the stateful MG /
# bottom-k / running-total folds got (plans/ext.py streaming_*_replay).
# pytest pins each replay to the live streaming operator on the same
# micro-batch sequence (tests/test_streaming.py).


def tumbling_replay(
    events: DataFrame,
    batch_col: str,
    ts_col: str = "ts",
    delay: str = "2 hours",
    key: str = "event_type",
    batch_ids: list[int] | None = None,
) -> DataFrame:
    """Deterministic replay of ``tumbling_counts``' watermark fold.

    Spark's event-time contract, PROBED live rather than read off the
    docs (the probes live in the pin test): the watermark the
    aggregation operator applies during batch b LAGS the data by TWO
    batches — max(event time over batches ≤ b−2) − ``delay`` (the
    value computed at the end of batch b−1 reaches the operator one
    batch later; NULL for the first two batches). A row is aggregated
    iff its WINDOW END is above that lagged watermark (a window at or
    below it has been evicted, so the row is dropped) — the decisive
    probe: a row whose window end sits BETWEEN the through-(b−1) and
    through-(b−2) watermarks is KEPT live. In append mode a
    (window, key) row is emitted in the first batch whose lagged
    watermark exceeds the window end; at termination availableNow
    drains with empty batches until the watermark catches up to
    max(ALL event time) − ``delay`` (probed: state the final watermark
    finalizes is emitted with no trailing data batch), which the
    replay collapses into one terminal flush row (batch = max+1).
    Windows even the terminal watermark never passed are still open
    and emit nothing (emitted_batch NULL). Filter and emission share
    the lagged watermark, so a kept late row can never target an
    already-emitted window — no duplicate emissions, live or replayed.

    Scale shape: the watermark table is ONE row per batch (a bounded
    window over it is fine), broadcast to the row filter and to the
    emission probe; the only corpus-width work is one keyed groupBy —
    identical to the live operator's partial-agg + keyed-state
    shuffle.
    """
    from pyspark.sql import Window

    bstats = events.groupBy(F.col(batch_col).alias("__b")).agg(
        F.max(ts_col).alias("__bmax")
    )
    # Anchor the watermark spine on the SUPPLIED batch ids when given
    # (the dedup_replay/session_replay contract): the live operator's
    # watermark advances on every micro-batch, so an EMPTY batch must
    # still occupy a spine row (NULL __bmax, skipped by F.max) or the
    # lag-2 frame measures row distance instead of batch distance.
    if batch_ids is not None:
        ids = events.sparkSession.createDataFrame(
            [(int(b),) for b in batch_ids], "__b int"
        )
        # FULL outer, not left: an observed batch id missing from the
        # supplied list must still occupy a spine row — the row filter
        # below joins events to the spine INNER on __b, so a left join
        # would silently DROP every event in an unlisted batch
        # (ADVICE r12). The union keeps the live-operator semantics
        # (every micro-batch advances the watermark) under an
        # incomplete caller-supplied list.
        bstats = ids.join(bstats, "__b", "full")
    # lag-2 frame: batches ≤ b−2
    ww = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -2)
    wm = bstats.select(
        "__b",
        (F.max("__bmax").over(ww) - F.expr(f"INTERVAL {delay}")).alias("__wm"),
    ).unionByName(
        # terminal flush: the watermark over ALL batches, emitted-only
        # (no rows carry this batch id, so the kept-filter join is
        # unaffected)
        bstats.agg(
            (F.max("__b") + 1).alias("__b"),
            (F.max("__bmax") - F.expr(f"INTERVAL {delay}")).alias("__wm"),
        )
    )
    ws = F.date_trunc("hour", F.col(ts_col))
    kept = (
        events.select(
            F.col(batch_col).alias("__b"),
            ws.alias("window_start"),
            (ws + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
            F.col(key),
        )
        .join(F.broadcast(wm), "__b")
        .where(F.col("__wm").isNull() | (F.col("window_end") > F.col("__wm")))
    )
    agg = kept.groupBy("window_start", "window_end", key).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    emit = wm.where(F.col("__wm").isNotNull()).select(
        F.col("__b").alias("__eb"), F.col("__wm").alias("__ewm")
    )
    return (
        agg.join(
            F.broadcast(emit), F.col("__ewm") > F.col("window_end"), "left"
        )
        .groupBy("window_start", "window_end", key, "n_events")
        .agg(F.min("__eb").cast("int").alias("emitted_batch"))
    )


def interval_join_replay(
    clicks: DataFrame,
    purchases: DataFrame,
    batch_col: str,
    within: str = "1 hour",
    delay: str = "2 hours",
    batch_ids: list[int] | None = None,
) -> DataFrame:
    """Deterministic replay of ``clicks_to_purchases_join``'s
    watermarked stream-stream interval join.

    The semantics, PROBED LIVE rather than assumed (the pin test
    threads the same micro-batches through the real readStream
    operator): the join pre-filters late INPUT rows against the same
    TWO-BATCH-LAGGED watermark the aggregation operators apply —
    min across sources of per-source max event time over batches
    ≤ b−2, − ``delay`` (the decisive probes: a late row one batch
    behind the data still joins — the lagged watermark hasn't reached
    it — while the same row two batches behind produces nothing).
    Given that input filter, state-eviction timing is OUTPUT-
    IRRELEVANT: the time bound ties every in-band partner of a
    non-late row to the watermark, so any state the store may have
    dropped could no longer match anyway (shown case-by-case in the
    pin test). The replay is therefore exactly: filter each side by
    its arrival batch's lagged watermark, then the plain time-band
    inner join.

    Scale shape: the watermark table is one row per batch, broadcast
    into each side's filter; the pair join is an EQUI-join on ``user_id``
    with the time band as a residual filter — it shuffles on the key
    like any stream-stream join, never a cartesian.
    """
    from pyspark.sql import Window

    def _bmax(df, name):
        return df.groupBy(F.col(batch_col).alias("__b")).agg(
            F.max("ts").alias(name)
        )

    # Per-SOURCE running max over prior batches, THEN min across
    # sources (Spark's policy applies min to each source's own
    # watermark, not per-batch): a source with no data yet has no
    # watermark, which holds the global one back entirely (NULL here).
    # Anchor the spine on the SUPPLIED batch ids when given (the
    # dedup_replay/session_replay contract) — the live operator's
    # watermark advances on every micro-batch, including one with zero
    # rows on both sides; observed-only batches would lag by row
    # distance instead of id distance.
    observed = (
        clicks.select(F.col(batch_col).alias("__b"))
        .unionByName(purchases.select(F.col(batch_col).alias("__b")))
        .distinct()
    )
    if batch_ids is not None:
        # Union the OBSERVED ids into the supplied spine: `_kept` joins
        # events to the spine INNER on __b, so a supplied list missing
        # an observed batch would silently drop that batch's rows
        # (ADVICE r12) — and the live watermark advances on every
        # micro-batch regardless of what the caller lists.
        batches = (
            clicks.sparkSession.createDataFrame(
                [(int(b),) for b in batch_ids], "__b int"
            )
            .unionByName(observed)
            .distinct()
        )
    else:
        batches = observed
    per_b = batches.join(_bmax(clicks, "__cm"), "__b", "left").join(
        _bmax(purchases, "__pm"), "__b", "left"
    )
    # lag-2 frame (batches ≤ b−2), matching the aggregation operators
    ww = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -2)
    crun = F.max("__cm").over(ww)
    prun = F.max("__pm").over(ww)
    wm = per_b.select(
        "__b",
        F.when(crun.isNull() | prun.isNull(), F.lit(None))
        .otherwise(F.least(crun, prun) - F.expr(f"INTERVAL {delay}"))
        .alias("__wm"),
    )

    def _kept(df):
        return (
            df.withColumn("__b", F.col(batch_col))
            .join(F.broadcast(wm), "__b")
            .where(F.col("__wm").isNull() | (F.col("ts") >= F.col("__wm")))
            .drop("__wm")
        )

    c = _kept(clicks).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = _kept(purchases).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within}")
        ),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")


def _merge_session_fragments(frags: DataFrame, key: str) -> DataFrame:
    """Interval-merge (start, end, n) session fragments per key —
    Spark's session merge rule, probed live: fragments merge when they
    overlap OR TOUCH (an event exactly at the previous session's end
    extends it), i.e. a new group starts only when start > running max
    end. Classic gaps-and-islands window over the per-key fragments."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("s_start", "s_end")
    prev_end = F.max("s_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = (
        prev_end.isNull() | (F.col("s_start") > prev_end)
    ).cast("int")
    grp = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        frags.withColumn("__grp", grp)
        .groupBy(key, "__grp")
        .agg(
            F.min("s_start").alias("s_start"),
            F.max("s_end").alias("s_end"),
            F.sum("n").alias("n"),
        )
        .drop("__grp")
    )


def _require_listed(events: DataFrame, batch_col: str, batch_ids: list[int]):
    """Raise `ValueError` when ``events`` holds a non-NULL batch id that
    ``batch_ids`` does not list. The session and dedup replays fold one
    round per LISTED batch, so an unlisted batch's rows would otherwise
    drop out of the result without a word (the tumbling and interval
    replays instead add observed ids to their spine)."""
    unlisted = sorted(
        r[0]
        for r in events.where(
            F.col(batch_col).isNotNull()
            & ~F.col(batch_col).isin([int(b) for b in batch_ids])
        )
        .select(batch_col)
        .distinct()
        .limit(10)
        .collect()
    )
    if unlisted:
        raise ValueError(
            f"{batch_col} holds batch ids {unlisted} that batch_ids "
            f"{list(batch_ids)} does not list; list every micro-batch"
        )


def session_replay(
    events: DataFrame,
    batch_col: str,
    batch_ids: list[int],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    delay: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Deterministic replay of ``session_counts``' watermarked
    session-window fold — the hard member of the event-time family,
    because sessions MERGE across batches. Rules probed live (pinned
    in tests/test_streaming.py):

    - the operator's watermark lags the data by TWO batches
      (max event time over batches ≤ b−2 − ``delay``), same as the
      tumbling aggregation;
    - an incoming row is dropped iff its own initial session end
      (ts + ``gap``) is at or below that watermark;
    - finalization runs BEFORE merging the batch's rows: an open
      session whose end the watermark passed emits and leaves state,
      and a late-but-kept row landing next to it starts a FRESH
      session rather than resurrecting the emitted one (probed: the
      live operator emits the split pair);
    - kept rows merge with the surviving open sessions, overlap-or-
      touch (an event exactly at a session's end extends it — probed);
    - termination drains with the watermark over ALL batches
      (collapsed to one terminal flush id = max batch + 1); sessions
      it never passes stay open and emit nothing (emitted_batch NULL).

    ``batch_ids`` is the ordered micro-batch sequence (a non-NULL
    batch id it does not list raises ValueError) — the fold
    unrolls one round per batch (the MG-replay idiom), each round's
    state eager-checkpointed so plan depth stays O(1). Scale shape:
    the watermark table is one bounded row per batch; each round is
    one keyed window + groupBy over open state + batch rows — the same
    keyed-state shuffle the live operator pays per micro-batch.
    """
    from pyspark.sql import Window

    from ..session import eager_checkpoint

    _require_listed(events, batch_col, batch_ids)
    # Anchored on the SUPPLIED batch ids (empty batch → NULL-watermark
    # row, never an empty per-round frame that would wipe open-session
    # state); the terminal flush row likewise carries max(batch_ids)+1
    # so it is found even when the LAST batch has no rows — same
    # review-caught rule as dedup_replay below.
    terminal = max(batch_ids) + 1
    ids = events.sparkSession.createDataFrame(
        [(int(b),) for b in batch_ids], "__b int"
    )
    bstats = events.groupBy(F.col(batch_col).alias("__b")).agg(
        F.max(ts_col).alias("__bmax")
    )
    ww = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -2)
    joined = ids.join(bstats, "__b", "left")
    wm = joined.select(
        "__b",
        (F.max("__bmax").over(ww) - F.expr(f"INTERVAL {delay}")).alias("__wm"),
    ).unionByName(
        joined.agg(
            F.lit(terminal).cast("int").alias("__b"),
            (F.max("__bmax") - F.expr(f"INTERVAL {delay}")).alias("__wm"),
        )
    )
    wm = eager_checkpoint(wm)

    state = None  # (key, s_start, s_end, n)
    emitted = []
    for b in [*batch_ids, terminal]:
        w_b = F.broadcast(
            wm.where(F.col("__b") == F.lit(b)).select("__wm")
        )
        if state is not None:
            st = state.crossJoin(w_b)
            fin = st.where(
                F.col("__wm").isNotNull() & (F.col("s_end") < F.col("__wm"))
            )
            emitted.append(
                fin.select(
                    key, "s_start", "s_end", "n",
                    F.lit(b).cast("int").alias("emitted_batch"),
                )
            )
            state = st.where(
                F.col("__wm").isNull() | (F.col("s_end") >= F.col("__wm"))
            ).drop("__wm")
        if b == terminal:
            break
        frags = (
            events.where(F.col(batch_col) == b)
            .select(
                F.col(key),
                F.col(ts_col).alias("s_start"),
                (F.col(ts_col) + F.expr(f"INTERVAL {gap}")).alias("s_end"),
                F.lit(1).cast("long").alias("n"),
            )
            .crossJoin(w_b)
            .where(F.col("__wm").isNull() | (F.col("s_end") > F.col("__wm")))
            .drop("__wm")
        )
        parts = frags if state is None else state.unionByName(frags)
        # One checkpoint per round: every earlier round's windows would
        # otherwise re-derive under this one (O(1) plan depth, the MG
        # replay idiom). Files kept until the action — the emitted
        # branches still read them.
        state = eager_checkpoint(_merge_session_fragments(parts, key))
    open_rows = state.select(
        key, "s_start", "s_end", "n",
        F.lit(None).cast("int").alias("emitted_batch"),
    )
    out = open_rows
    for e in emitted:
        out = out.unionByName(e)
    return out.select(
        F.col(key),
        F.col("s_start").alias("session_start"),
        F.col("s_end").alias("session_end"),
        F.col("n").alias("n_events"),
        "emitted_batch",
    )


def dedup_replay(
    events: DataFrame,
    batch_col: str,
    batch_ids: list[int],
    ts_col: str = "ts",
    key: str = "dk",
    delay: str = "2 hours",
) -> DataFrame:
    """Deterministic replay of ``dedup_within_watermark``'s
    (``dropDuplicatesWithinWatermark``) event-time state machine —
    the fourth member of the replay family. Rules probed live
    (pinned in tests/test_streaming.py), not read off the docs:

    - the operator applies the TWO-BATCH-LAGGED watermark (max event
      time over batches ≤ b−2, − ``delay``; NULL for the first two
      batches) to BOTH decisions below — same lag as the aggregation;
    - a batch-b row is LATE-DROPPED iff ts <= that watermark (probed
      at equality: a fresh key exactly AT the watermark is dropped);
    - state entries evict BEFORE the batch's rows apply: an entry
      (key, ts0) is gone iff ts0 + ``delay`` <= the lagged watermark
      (probed at equality: expiry == watermark evicts, and the same
      batch's re-arrival of that key EMITS);
    - a surviving row emits iff its key holds no live state; emitting
      (re)creates state with the row's own event time. A SUPPRESSED
      duplicate does NOT extend the state's expiry (probed: a dup
      suppressed at 10:25 against state expiring 10:10 did not stop
      the next batch's re-arrival from emitting);
    - dedup emits on arrival (no terminal flush); state at stream
      close simply dies.

    Within one batch the live operator keeps an ARBITRARY first
    arrival per key; the replay pins the deterministic min
    (ts, then the remaining columns) keeper — the pin-test fixture
    carries one arrival per (key, batch) so the live run agrees, and
    the catalog oracle applies the identical rule.

    Returns one row PER INPUT ROW: (key, ts, batch, verdict) with
    verdict ∈ emitted / dup_suppressed / late_dropped — keeps, drops
    and suppressions are all hash-visible, not just the kept set. A row
    whose batch id is NULL belongs to no micro-batch and gets no row;
    a non-NULL batch id missing from ``batch_ids`` raises ValueError.

    Scale shape: the watermark table is one bounded row per batch
    (broadcast everywhere); each round is one keyed anti/semi probe +
    one keyed min — the same keyed-state shuffle the live operator
    pays per micro-batch; per-round eager checkpoints keep plan depth
    O(1) (the MG-replay idiom).
    """
    from pyspark.sql import Window

    from ..session import eager_checkpoint

    _require_listed(events, batch_col, batch_ids)
    # Anchor the watermark table on the SUPPLIED batch ids, not just
    # the observed ones: a batch id with zero rows must still yield a
    # (possibly NULL) watermark row, or the per-round
    # `wm.where(__b = b)` frame comes back EMPTY and the crossJoin
    # below silently wipes all dedup state (review-caught — the live
    # operator and the oracle both treat a missing watermark as NULL
    # and keep state alive). F.max skips the NULL __bmax an empty
    # batch contributes.
    ids = events.sparkSession.createDataFrame(
        [(int(b),) for b in batch_ids], "__b int"
    )
    bstats = events.groupBy(F.col(batch_col).alias("__b")).agg(
        F.max(ts_col).alias("__bmax")
    )
    ww = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -2)
    wm = eager_checkpoint(
        ids.join(bstats, "__b", "left").select(
            "__b",
            (F.max("__bmax").over(ww) - F.expr(f"INTERVAL {delay}")).alias(
                "__wm"
            ),
        )
    )

    state = None  # (key, __ts0)
    out = []
    for b in batch_ids:
        w_b = F.broadcast(wm.where(F.col("__b") == F.lit(b)).select("__wm"))
        if state is not None:
            state = (
                state.crossJoin(w_b)
                .where(
                    F.col("__wm").isNull()
                    | (F.col("__ts0") + F.expr(f"INTERVAL {delay}") > F.col("__wm"))
                )
                .drop("__wm")
            )
        rows = events.where(F.col(batch_col) == b).select(
            F.col(key), F.col(ts_col).alias("__ts")
        ).crossJoin(w_b)
        late = rows.where(
            F.col("__wm").isNotNull() & (F.col("__ts") <= F.col("__wm"))
        ).select(key, "__ts", F.lit("late_dropped").alias("verdict"))
        live = rows.where(
            F.col("__wm").isNull() | (F.col("__ts") > F.col("__wm"))
        ).drop("__wm")
        if state is not None:
            supp_state = live.join(state.select(key), key, "left_semi").select(
                key, "__ts", F.lit("dup_suppressed").alias("verdict")
            )
            cand = live.join(state.select(key), key, "left_anti")
        else:
            supp_state = live.limit(0).select(
                key, "__ts", F.lit("dup_suppressed").alias("verdict")
            )
            cand = live
        keeper = cand.groupBy(key).agg(F.min("__ts").alias("__kts"))
        emitted = keeper.select(
            key,
            F.col("__kts").alias("__ts"),
            F.lit("emitted").alias("verdict"),
        )
        supp_batch = (
            cand.join(keeper, key)
            .where(F.col("__ts") != F.col("__kts"))
            .select(key, "__ts", F.lit("dup_suppressed").alias("verdict"))
        )
        out.append(
            late.unionByName(supp_state)
            .unionByName(emitted)
            .unionByName(supp_batch)
            .withColumn("batch", F.lit(b).cast("int"))
        )
        new_state = keeper.select(key, F.col("__kts").alias("__ts0"))
        state = eager_checkpoint(
            new_state if state is None else state.unionByName(new_state)
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select(key, F.col("__ts").alias("ts"), "batch", "verdict")
