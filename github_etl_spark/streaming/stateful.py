"""Custom stateful streaming operator via `applyInPandasWithState`.

Demonstrates the escape hatch for semantics the built-in stateful
operators can't express (SURVEY.md §2.10): arbitrary per-key state with
Arrow-batched (not row-at-a-time) Python. The operator here is a
running per-key counter with last-seen timestamp — the skeleton any
custom accumulating state (fraud scores, CDC merge, rate trackers)
drops into.

Scale notes: state lives in the state store keyed by the groupBy key
(one shuffle to co-locate); Arrow moves each group's batch in columnar
form. Use built-ins (`dropDuplicatesWithinWatermark`, windowed aggs)
whenever they fit — this path exists for when they don't.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, batch_events bigint, total_events bigint"
STATE_SCHEMA = "total bigint"


IDLE_EVICT_MS = 6 * 3600 * 1000  # drop state for keys idle this long

# Why idle eviction is OPT-IN (r14): with ProcessingTimeTimeout,
# FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
# true, so an availableNow drain — the normal production mode for
# these operators, and what every test runs — NEVER terminates: after
# the data is exhausted the engine schedules "no new data but
# cleaning up state" micro-batches forever, waiting out the 6 h
# timeouts one no-data batch at a time (reproduced on Spark 4.1:
# status {'message': 'No new data but cleaning up state',
# 'isTriggerActive': True} 60 s after the last row; the r13 test
# suite burned 3 × 120 s awaitTermination timeouts on exactly this).
# Continuous-trigger deployments with unbounded key spaces should
# pass idle_evict_ms=IDLE_EVICT_MS; finite drains keep the
# terminating default (state then lives exactly as long as the
# checkpoint, which a periodic-drain pipeline prunes wholesale).


def _running_totals_fn(evict_ms: int | None):
    def update(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Idle key: evict its counter so state stays bounded by
            # ACTIVE keys, not every key ever seen (an unbounded key
            # space would otherwise grow the state store and
            # checkpoints forever).
            state.remove()
            return
        (total,) = state.get if state.exists else (0,)
        batch_n = sum(len(pdf) for pdf in pdf_iter)
        total = (total or 0) + batch_n
        state.update((total,))
        if evict_ms is not None:
            state.setTimeoutDuration(evict_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "batch_events": [batch_n], "total_events": [total]}
        )

    return update


def _apply_with_state(
    grouped, update, output_schema: str, state_schema: str,
    idle_evict_ms: int | None,
) -> DataFrame:
    """``grouped.applyInPandasWithState(update)`` in append mode, with
    the processing-time timeout that idle eviction needs when
    ``idle_evict_ms`` is set and no timeout otherwise (why: the note
    at IDLE_EVICT_MS)."""
    return grouped.applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout
        if idle_evict_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout,
    )


def running_totals(
    events: DataFrame, idle_evict_ms: int | None = None
) -> DataFrame:
    """Per-``user_id`` cumulative event counts across micro-batches.

    Emits one row per key per micro-batch in which the key appears:
    (key, events this batch, events ever). State = one long per key.

    ``idle_evict_ms``: None (default) keeps state for the checkpoint's
    lifetime and the query TERMINATES under availableNow; a duration
    evicts keys idle that long (a key that reappears later restarts
    from zero — the bounded-state trade for continuous triggers) at
    the cost of the never-terminating-drain behavior documented at
    IDLE_EVICT_MS above. Emitted rows are identical either way until
    an eviction actually fires.
    """
    return _apply_with_state(
        events.groupBy("user_id"), _running_totals_fn(idle_evict_ms),
        OUTPUT_SCHEMA, STATE_SCHEMA, idle_evict_ms,
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: sharded Misra-Gries state across micro-batches
# ---------------------------------------------------------------------------

MG_OUTPUT_SCHEMA = "shard int, tok string, lower long, dsum long, nrows long"
MG_STATE_SCHEMA = (
    "toks array<string>, counts array<long>, dsum long, nrows long"
)


def _mg_update_fn(counters: int, evict_ms: int | None = IDLE_EVICT_MS):
    def update(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            toks, counts, dsum, nrows = state.get
            mg = dict(zip(toks or [], counts or []))
            dsum, nrows = dsum or 0, nrows or 0
        else:
            mg, dsum, nrows = {}, 0, 0
        for pdf in pdf_iter:
            vals = pdf["tok"].dropna()
            nrows += len(vals)
            for item, c in vals.value_counts().items():
                mg[item] = mg.get(item, 0) + int(c)
            excess = len(mg) - counters
            if excess > 0:
                d = sorted(mg.values())[excess - 1]
                dsum += d
                mg = {t: v - d for t, v in mg.items() if v > d}
        state.update((list(mg.keys()), list(mg.values()), dsum, nrows))
        if evict_ms is not None:
            state.setTimeoutDuration(evict_ms)
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(mg),
                "tok": list(mg.keys()),
                "lower": list(mg.values()),
                "dsum": [dsum] * len(mg),
                "nrows": [nrows] * len(mg),
            }
        )

    return update


def streaming_heavy_hitters(
    tokens: DataFrame,
    col: str = "tok",
    counters: int = 64,
    shards: int = 8,
    idle_evict_ms: int | None = None,
) -> DataFrame:
    """Heavy-hitter tracking over an unbounded token stream: tokens are
    consistently hashed (``portable_hash_bucket``, the md5 bucket the
    oracle-checked ``streaming_mg_replay`` replays) onto ``shards``
    independent Misra-Gries states (one shuffle to co-locate a shard's
    tokens; each shard's state is ≤ ``counters`` entries regardless of
    vocabulary), and every
    micro-batch emits each updated shard's current summary with its
    certified error terms.

    Each emission is a cumulative SNAPSHOT of that shard's state (the
    whole stream so far), not a per-batch delta: consumers MUST keep
    only the latest emission per shard, then fold those latest
    summaries across shards with ``mg_merge``/``mg_estimate`` for
    global bounds. Folding multiple emissions of the SAME shard
    double-counts and breaks the certified lower ≤ t bound. Within one
    shard's latest snapshot, a token's true stream count t satisfies
    lower_shard ≤ t ≤ lower_shard + dsum_shard — consistent hashing
    sends all its occurrences to one shard, so per-shard MG semantics
    are exact for it. State is bounded by shards × counters entries;
    ``idle_evict_ms`` as in `running_totals` (default None: drains
    terminate; state is already bounded here, so eviction only
    matters for reclaiming long-idle shards).
    """
    import pyspark.sql.functions as F

    from ..operators.pipeline import portable_hash_bucket

    keyed = tokens.select(
        portable_hash_bucket(F.col(col), shards).cast("int").alias("shard"),
        F.col(col).cast("string").alias("tok"),
    )
    return _apply_with_state(
        keyed.groupBy("shard"), _mg_update_fn(counters, idle_evict_ms),
        MG_OUTPUT_SCHEMA, MG_STATE_SCHEMA, idle_evict_ms,
    )


# ---------------------------------------------------------------------------
# Streaming bottom-k sample: quantile maintenance across micro-batches
# ---------------------------------------------------------------------------

BK_OUTPUT_SCHEMA = "shard int, hkey long, rid long, value double"
BK_STATE_SCHEMA = "hkeys array<long>, rids array<long>, vals array<double>"


def _bk_update_fn(k: int, evict_ms: int | None = IDLE_EVICT_MS):
    def update(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            hkeys, rids, vals = state.get
            rows = list(zip(hkeys or [], rids or [], vals or []))
        else:
            rows = []
        for pdf in pdf_iter:
            batch = pdf.dropna(subset=["hkey", "rid", "value"])
            rows.extend(
                zip(
                    batch["hkey"].astype("int64"),
                    batch["rid"].astype("int64"),
                    batch["value"].astype("float64"),
                )
            )
            rows.sort()
            del rows[k:]
        state.update(
            (
                [int(r[0]) for r in rows],
                [int(r[1]) for r in rows],
                [float(r[2]) for r in rows],
            )
        )
        if evict_ms is not None:
            state.setTimeoutDuration(evict_ms)
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(rows),
                "hkey": [r[0] for r in rows],
                "rid": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }
        )

    return update


def streaming_bottomk_sample(
    rows: DataFrame,
    id_col: str,
    k: int = 128,
    shards: int = 8,
    idle_evict_ms: int | None = None,
) -> DataFrame:
    """Quantile-sketch maintenance over an unbounded stream: rows
    (``id_col``, ``value``) hash onto ``shards`` independent bottom-k
    states (state = k (hash, id, value) triples per shard, independent
    of stream length), and every micro-batch emits each updated shard's
    current sample.

    The union of shard samples is a SUPERSET of the global bottom-k —
    fold emitted fragments with ``operators/sketches.bottomk_merge``
    (re-take the k smallest) to recover EXACTLY the batch
    ``bottomk_sample`` of the whole stream so far: both rank by the
    same md5 prefix of the id (``sketches._sample_hash``), and shards
    come from ``portable_hash_bucket``, so DuckDB replays the draw too.
    Quantiles then come from ``sample_quantiles`` unchanged. The
    streaming triplet (MG heavy hitters, bottom-k quantiles, plus the
    built-in HLL/approx aggregates under windowed aggregation) keeps every
    sketch the batch layer maintains ALSO maintainable on the stream.

    ``id_col`` must be integral: the fixed state/output schemas carry
    the id as a long, and a silent cast of e.g. a string id would NULL
    every row and emit empty samples with no error. Map non-integer
    ids to a long upstream (the batch ``bottomk_sample`` keeps the
    original id column, so it has no such restriction).
    """
    import pyspark.sql.functions as F

    from ..operators.pipeline import portable_hash_bucket
    from ..operators.sketches import _sample_hash

    id_type = {f.name: f.dataType.typeName() for f in rows.schema.fields}.get(id_col)
    if id_type not in {"byte", "short", "integer", "long"}:
        raise TypeError(
            f"streaming_bottomk_sample needs an integral id column, got "
            f"{id_col}: {id_type}; map it to a long first"
        )
    keyed = rows.select(
        portable_hash_bucket(F.col(id_col), shards).cast("int").alias("shard"),
        _sample_hash(id_col).alias("hkey"),
        F.col(id_col).cast("long").alias("rid"),
        F.col("value").cast("double").alias("value"),
    )
    return _apply_with_state(
        keyed.groupBy("shard"), _bk_update_fn(k, idle_evict_ms),
        BK_OUTPUT_SCHEMA, BK_STATE_SCHEMA, idle_evict_ms,
    )
