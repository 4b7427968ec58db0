"""Frequency-sketch screening with exact verification.

`heavy_hitters` finds every item whose corpus frequency is ≥ a
threshold, EXACTLY, without ever shuffling the full item-frequency
table. It is the aggregation-side sibling of the bloom join
(operators/bloom.py): a compact per-partition summary screens
candidates, an exact pass over only the candidates produces the final
answer, and a *measured* error bound proves no true heavy hitter was
screened out — so the result is oracle-verifiable despite the sketch.

Why this matters at 100 TB: `groupBy(token).count()` shuffles one row
per DISTINCT token (web-scale corpora: billions of tokens, the
aggregation state itself spills). Misra-Gries summaries are bounded by
``counters`` rows per partition regardless of vocabulary size, and the
exact pass aggregates only rows matching a broadcast candidate set —
the shuffle is candidate-sized, not vocabulary-sized.

Exactness argument (measured, not assumed): batched Misra-Gries only
ever subtracts from counters during pruning events; ``d_total`` per
partition is the sum of those subtractions, so an item ABSENT from a
partition's summary has true local count ≤ d_total_p. A token missing
from every summary therefore has global count ≤ Σ_p d_total_p. The
operator computes that sum and REFUSES (raises) unless
``threshold > Σ d_total`` — when it returns, the candidate set
provably contains every true heavy hitter, and the exact count pass
removes the false candidates. Misra & Gries 1982; same screening
shape as Spark's own partial-aggregation, taken to bounded memory.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_long_sql


class HeavyHitterBoundError(ValueError):
    """The measured screening error exceeds the requested threshold —
    the candidate set cannot be proven complete. Raise ``counters``."""


def _mg_summaries(col: str, counters: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        d_total = 0
        n_rows = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n_rows += len(vals)
            for item, c in vals.value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            excess = len(counts) - counters
            if excess > 0:
                # prune: subtract the excess-th smallest count from all
                d = sorted(counts.values())[excess - 1]
                d_total += d
                counts = {k: v - d for k, v in counts.items() if v > d}
        out = pd.DataFrame(
            {
                "tok": list(counts.keys()) + [None],
                "lower": list(counts.values()) + [0],
                "dsum": [0] * len(counts) + [d_total],
                "nrows": [0] * len(counts) + [n_rows],
            }
        )
        yield out

    return gen


def heavy_hitters(
    items: DataFrame,
    col: str,
    min_fraction: float,
    counters: int | None = None,
) -> DataFrame:
    """Exact set of items with frequency ≥ ceil(min_fraction · N).

    Returns (``tok``, ``term_count``) — identical to the full
    ``GROUP BY HAVING count >= threshold`` plan, computed with
    bounded-memory screening. ``counters`` defaults to
    ``ceil(2 / min_fraction)``, which keeps the measured bound
    comfortably under the threshold on non-adversarial data; raises
    :class:`HeavyHitterBoundError` when the measured bound cannot
    prove completeness.
    """
    if not 0 < min_fraction < 1:
        raise ValueError("min_fraction must be in (0, 1)")
    if counters is not None and counters <= 0:
        raise ValueError(f"counters must be positive, got {counters}")
    k = counters if counters is not None else math.ceil(2 / min_fraction)
    summaries = (
        items.select(F.col(col).cast("string").alias(col))
        .mapInPandas(_mg_summaries(col, k), schema=SUMMARY_SCHEMA)
        .localCheckpoint()  # summaries are tiny (≤ k+1 rows/partition); both consumers reuse them
    )
    stats = summaries.where(F.col("tok").isNull()).agg(
        F.sum("dsum").alias("d"), F.sum("nrows").alias("n")
    ).head()
    n_total, d_bound = int(stats["n"] or 0), int(stats["d"] or 0)
    threshold = math.ceil(min_fraction * n_total)
    if n_total == 0:
        # empty input: no items, trivially no heavy hitters (the bound
        # check below would otherwise reject threshold 0 <= d 0)
        return (
            items.select(F.col(col).cast("string").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("term_count"))
            .limit(0)
        )
    if threshold <= d_bound:
        raise HeavyHitterBoundError(
            f"screening error bound {d_bound} >= threshold {threshold}; "
            f"increase counters (got {k})"
        )
    candidates = summaries.where(F.col("tok").isNotNull()).select("tok").distinct()
    return (
        items.select(F.col(col).cast("string").alias("tok"))
        .join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .where(F.col("term_count") >= threshold)
    )


# ---------------------------------------------------------------------------
# Mergeable MG summaries — incremental heavy hitters across ingests
# ---------------------------------------------------------------------------

SUMMARY_SCHEMA = "tok string, lower long, dsum long, nrows long"


def mg_summarize(items: DataFrame, col: str, counters: int) -> DataFrame:
    """ONE Misra-Gries summary of ``items[col]`` as a small DataFrame:
    ≤ ``counters`` (tok, lower) rows plus a stats row (tok NULL,
    dsum = total decrement, nrows = items seen).

    This is the PER-INGEST artifact of the incremental heavy-hitters
    pattern: summarize each ingest batch once (its only full scan),
    persist the summary (counters-bounded, trivially small), and fold
    summaries with :func:`mg_merge` — history is never rescanned. MG
    summaries are mergeable with additive error (Agarwal et al.,
    "Mergeable Summaries", PODS'12): any item's true count t satisfies
    lower ≤ t ≤ lower + dsum, with absent items ≤ dsum.
    """
    per_part = (
        items.select(F.col(col).cast("string").alias(col))
        .mapInPandas(_mg_summaries(col, counters), schema=SUMMARY_SCHEMA)
    )
    return _prune_summary(per_part, counters)


def mg_merge(a: DataFrame, b: DataFrame, counters: int) -> DataFrame:
    """Fold two MG summaries into one (same schema, same bound
    semantics; dsum adds across inputs plus any merge-prune)."""
    return _prune_summary(a.unionByName(b), counters)


def _prune_summary(parts: DataFrame, counters: int) -> DataFrame:
    """Combine summary fragments: sum counters per token, then apply
    one MG prune so the result is ≤ ``counters`` rows. The prune
    subtracts the (excess)-th smallest combined count from every
    counter (dropping ≤0) and adds it to the decrement total —
    distributed as one small aggregation + window over ≤ fragments ×
    counters rows, never over item data."""
    cand = (
        parts.where(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.sum("lower").alias("lower"))
    )
    stats = parts.where(F.col("tok").isNull()).agg(
        F.coalesce(F.sum("dsum"), F.lit(0)).alias("dsum"),
        F.coalesce(F.sum("nrows"), F.lit(0)).alias("nrows"),
    )
    from pyspark.sql import Window as W

    ranked = cand.withColumn(
        "__rk", F.row_number().over(W.orderBy(F.col("lower").asc(), F.col("tok").asc()))
    ).withColumn("__n", F.count(F.lit(1)).over(W.partitionBy()))
    # d = the (n - counters)-th smallest count when n > counters, else 0
    d_row = (
        ranked.where(F.col("__n") > counters)
        .where(F.col("__rk") == F.col("__n") - counters)
        .select(F.col("lower").alias("d"))
    )
    d_df = d_row.unionByName(
        ranked.limit(0).select(F.lit(0).cast("long").alias("d"))
    ).agg(F.coalesce(F.max("d"), F.lit(0)).alias("d"))
    kept = (
        cand.crossJoin(F.broadcast(d_df))
        .where(F.col("lower") > F.col("d"))
        .select(
            "tok",
            (F.col("lower") - F.col("d")).alias("lower"),
            F.lit(0).cast("long").alias("dsum"),
            F.lit(0).cast("long").alias("nrows"),
        )
    )
    stats_row = stats.crossJoin(F.broadcast(d_df)).select(
        F.lit(None).cast("string").alias("tok"),
        F.lit(0).cast("long").alias("lower"),
        (F.col("dsum") + F.col("d")).cast("long").alias("dsum"),
        F.col("nrows").cast("long").alias("nrows"),
    )
    return kept.unionByName(stats_row)


def mg_estimate(summary: DataFrame) -> DataFrame:
    """Point estimates with certified bounds from a summary:
    (tok, count_lower, count_upper). Any item absent from the summary
    has true count ≤ the summary's dsum."""
    d = summary.where(F.col("tok").isNull()).select(
        F.col("dsum").alias("__d")
    )
    return (
        summary.where(F.col("tok").isNotNull())
        .crossJoin(F.broadcast(d))
        .select(
            "tok",
            F.col("lower").alias("count_lower"),
            (F.col("lower") + F.col("__d")).alias("count_upper"),
        )
    )


# ---------------------------------------------------------------------------
# Bottom-k sample — the mergeable quantile member of the sketch family
# ---------------------------------------------------------------------------


def _sample_hash(id_col: str):
    """60 bits of md5 of the id's string form — engine-portable, so
    DuckDB replays the same sample row for row."""
    return F.expr(md5_long_sql(f"CAST({id_col} AS STRING)"))


def bottomk_sample(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic uniform row sample of size ≤ k: the rows whose
    hashed ids are globally smallest. Returns (hkey, ``id_col``,
    ``value_col``).

    This is the quantile member of the mergeable-sketch family (HLL →
    distincts, Misra-Gries → heavy hitters): a bottom-k sample is a
    MERGEABLE summary — bottom-k of a union equals bottom-k of the
    concatenated per-ingest bottom-k's (ids are globally unique, the
    hash is deterministic), so per-ingest samples fold with
    :func:`bottomk_merge` and history is never rescanned. Sample
    quantiles then estimate population quantiles with O(1/√k) error.

    Scale shape: ``orderBy(h).limit(k)`` plans as
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, no global sort, no shuffle of non-surviving rows. The md5
    hash makes the sample itself replayable in SQL (the catalog
    query's DuckDB oracle re-derives the identical sample and
    quantiles).
    """
    h = _sample_hash(id_col)
    return (
        df.where(F.col(value_col).isNotNull() & F.col(id_col).isNotNull())
        .select(h.alias("hkey"), F.col(id_col), F.col(value_col))
        .orderBy("hkey", id_col)
        .limit(k)
    )


def bottomk_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Fold two bottom-k samples (same schema): union, re-take the k
    globally smallest. Exactly equals the sample of the combined input
    when ids are disjoint across the inputs."""
    cols = a.columns
    return a.unionByName(b).orderBy(cols[0], cols[1]).limit(k)


def sample_quantiles(
    sample: DataFrame, value_col: str, qs: list[float]) -> DataFrame:
    """One row of DISCRETE quantiles (q_XX columns: the sample value at
    index floor(q·(n−1)) of the sorted sample) plus ``sample_n``.

    Discrete selection, not interpolation: both engines pick the SAME
    sample element, so the result is bit-identical cross-engine — a
    lerp's last-ulp float differences would flip any rounding. Sorting
    k rows in one window partition is bounded by the SKETCH size, never
    by data size.
    """
    from pyspark.sql import Window as W

    ranked = sample.select(
        F.col(value_col),
        F.row_number().over(W.orderBy(value_col)).alias("__rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("__n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("__rn")
                == F.floor(F.lit(q) * (F.col("__n") - 1)).cast("int") + 1,
                F.col(value_col),
            )
        ).alias(f"q_{int(q * 100):02d}")
        for q in qs
    ]
    return ranked.agg(*aggs, F.max("__n").cast("long").alias("sample_n"))


def bottomk_sample_grouped(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str],
    k: int,
) -> DataFrame:
    """Per-group bottom-k samples: for every combination of
    ``group_cols``, the k rows with smallest hashed ids — the grouped
    form of :func:`bottomk_sample`, maintaining a quantile sketch PER
    SEGMENT (per language, per source, per day) in one pass.

    One hash exchange on the group key, then a per-partition rank
    filter; the output is ≤ groups × k rows. Merges exactly like the
    global sample: union per-ingest grouped samples and re-rank (ids
    unique across ingests ⇒ merge equals the sample of the union).
    """
    from pyspark.sql import Window as W

    h = _sample_hash(id_col)
    w = W.partitionBy(*group_cols).orderBy("hkey", id_col)
    return (
        df.where(F.col(value_col).isNotNull() & F.col(id_col).isNotNull())
        .select(*group_cols, h.alias("hkey"), F.col(id_col), F.col(value_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def grouped_sample_quantiles(
    sample: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: list[float],
) -> DataFrame:
    """Discrete quantiles per group from a grouped sample (same
    index-selection contract as :func:`sample_quantiles` — both engines
    pick identical sample elements, no interpolation float risk)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*group_cols).orderBy(value_col)
    ranked = sample.select(
        *group_cols,
        F.col(value_col),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(W.partitionBy(*group_cols)).alias("__n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("__rn")
                == F.floor(F.lit(q) * (F.col("__n") - 1)).cast("int") + 1,
                F.col(value_col),
            )
        ).alias(f"q_{int(q * 100):02d}")
        for q in qs
    ]
    return ranked.groupBy(*group_cols).agg(
        *aggs, F.max("__n").cast("long").alias("sample_n")
    )


# ---------------------------------------------------------------------------
# Sharded MG fold — the streaming micro-batch update rule, batch-replayable
# ---------------------------------------------------------------------------

SHARDED_SUMMARY_SCHEMA = "shard int, tok string, lower long, dsum long, nrows long"


def mg_batch_fragments(items: DataFrame) -> DataFrame:
    """One micro-batch's EXACT per-shard counts in sharded-summary
    form: (shard, tok, count) token rows plus one (shard, NULL, nrows)
    stats row per shard — the fragment :func:`mg_fold_sharded` folds
    into the running state, exactly what one arriving micro-batch
    contributes in streaming/stateful._mg_update_fn."""
    toks = items.select(
        F.col("shard").cast("int").alias("shard"),
        F.col("tok").cast("string").alias("tok"),
    ).where(F.col("tok").isNotNull())
    counts = toks.groupBy("shard", "tok").agg(
        F.count(F.lit(1)).alias("lower"),
        F.lit(0).cast("long").alias("dsum"),
        F.lit(0).cast("long").alias("nrows"),
    )
    stats = toks.groupBy("shard").agg(
        F.lit(None).cast("string").alias("tok"),
        F.lit(0).cast("long").alias("lower"),
        F.lit(0).cast("long").alias("dsum"),
        F.count(F.lit(1)).alias("nrows"),
    )
    return counts.unionByName(stats)


def mg_fold_sharded(parts: DataFrame, counters: int) -> DataFrame:
    """Fold sharded MG summary fragments (running state ∪ one batch's
    fragments): per shard, sum counters per token and apply ONE MG
    prune — subtract the excess-th smallest combined count from every
    counter, drop the ≤0, add it to the shard's decrement total. This
    is PRECISELY the per-micro-batch update rule of
    ``streaming_heavy_hitters`` (streaming/stateful._mg_update_fn:
    value_counts add, then one prune), expressed as deterministic
    DataFrame ops over fragment rows — summary-width data only, never
    item data, so a fold costs counters×shards rows regardless of
    stream length. Same prune rule as the unsharded
    :func:`_prune_summary`; the window partitions by shard."""
    from pyspark.sql import Window as W

    cand = (
        parts.where(F.col("tok").isNotNull())
        .groupBy("shard", "tok")
        .agg(F.sum("lower").alias("lower"))
    )
    stats = (
        parts.where(F.col("tok").isNull())
        .groupBy("shard")
        .agg(
            F.coalesce(F.sum("dsum"), F.lit(0)).cast("long").alias("dsum"),
            F.coalesce(F.sum("nrows"), F.lit(0)).cast("long").alias("nrows"),
        )
    )
    ranked = cand.withColumn(
        "__rk",
        F.row_number().over(
            W.partitionBy("shard").orderBy(
                F.col("lower").asc(), F.col("tok").asc()
            )
        ),
    ).withColumn("__n", F.count(F.lit(1)).over(W.partitionBy("shard")))
    d_per_shard = (
        ranked.where(
            (F.col("__n") > counters)
            & (F.col("__rk") == F.col("__n") - counters)
        )
        .select("shard", F.col("lower").alias("__d"))
    )
    kept = (
        cand.join(F.broadcast(d_per_shard), "shard", "left")
        .withColumn("__d", F.coalesce(F.col("__d"), F.lit(0).cast("long")))
        .where(F.col("lower") > F.col("__d"))
        .select(
            "shard",
            "tok",
            (F.col("lower") - F.col("__d")).cast("long").alias("lower"),
            F.lit(0).cast("long").alias("dsum"),
            F.lit(0).cast("long").alias("nrows"),
        )
    )
    stats_row = (
        stats.join(F.broadcast(d_per_shard), "shard", "left")
        .withColumn("__d", F.coalesce(F.col("__d"), F.lit(0).cast("long")))
        .select(
            "shard",
            F.lit(None).cast("string").alias("tok"),
            F.lit(0).cast("long").alias("lower"),
            (F.col("dsum") + F.col("__d")).cast("long").alias("dsum"),
            F.col("nrows").cast("long").alias("nrows"),
        )
    )
    return kept.unionByName(stats_row)
