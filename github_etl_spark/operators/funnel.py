"""Event-funnel and cohort-retention analysis over the events table
(EXT — the two canonical product-analytics workloads an OLAP engine is
asked for beyond plain windowed aggregation).

- ``funnel_stages``: strictly-ordered conversion funnel (step k counts
  only after step k−1's timestamp). The Spark-first shape is ONE
  shuffle: collect each user's (ts, type) events into a sorted in-row
  array and run the funnel state machine as a pure-JVM ``aggregate``
  fold — no per-step join cascade, no repeated event-table scans. The
  equivalent 3-CTE min-join SQL is what the DuckDB oracle runs, so the
  fold's semantics (strict ``>`` between steps) are value-checked, not
  assumed.
- ``cohort_retention``: users grouped by the ISO week of their first
  cohort event, counted distinct per (cohort week, week offset) of
  later activity — two keyed aggregations and one join.

Per-user event counts are bounded (product-analytics contract: one
user's events fit a row); a user with millions of events would call
for the join-cascade form instead — that trade is the same one
repetition_metrics documents for its zero-shuffle in-row shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Per-user ordered-funnel timestamps: one output row per user who
    emitted at least one step event, with ``t1..tN`` = the time each
    funnel step was first reached IN ORDER (step k requires a step-k
    event strictly after t_{k−1}; unreached steps are NULL) and
    ``funnel_stage`` = the deepest step reached.

    Equal-timestamp events cannot chain (strict ``>``), which makes
    the fold independent of tie order inside the sorted array and
    exactly equal to the per-step ``min(ts) where ts > prev`` SQL
    form the oracle runs.
    """
    n = len(steps)
    if n == 0:
        raise ValueError("empty funnel")
    evs = (
        events.where(F.col("event_type").isin(list(steps)))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"), F.col("event_type").alias("et")
                    )
                )
            ).alias("evs")
        )
    )
    init = F.struct(
        *[F.lit(None).cast("timestamp").alias(f"t{i + 1}") for i in range(n)]
    )

    def step_fn(acc, e):
        fields = []
        for i, s in enumerate(steps):
            prev_ok = (
                F.lit(True)
                if i == 0
                else acc[f"t{i}"].isNotNull() & (e["ts"] > acc[f"t{i}"])
            )
            take = acc[f"t{i + 1}"].isNull() & (e["et"] == s) & prev_ok
            fields.append(
                F.when(take, e["ts"]).otherwise(acc[f"t{i + 1}"]).alias(f"t{i + 1}")
            )
        return F.struct(*fields)

    folded = evs.select("user_id", F.aggregate("evs", init, step_fn).alias("f"))
    stage = F.lit(0)
    for i in range(n):  # deepest non-NULL step wins
        stage = F.when(folded["f"][f"t{i + 1}"].isNotNull(), i + 1).otherwise(stage)
    return folded.select(
        "user_id",
        *[folded["f"][f"t{i + 1}"].alias(f"t{i + 1}") for i in range(n)],
        stage.cast("int").alias("funnel_stage"),
    )


def cohort_retention(
    events: DataFrame,
    cohort_event: str = "signup",
) -> DataFrame:
    """(cohort_week, week_offset, n_active) — classic retention
    triangle: users cohorted by the ISO week of their FIRST
    ``cohort_event``, counted distinct in each subsequent week they
    show any activity (offset 0 = the cohort week itself; activity
    before the cohort event is dropped).

    Shape: one keyed min-aggregation for cohort assignment (output
    bounded by users), one distinct over (user, week) — both with
    map-side partial combine — and a broadcast-joinable cohort table.
    """
    first = (
        events.where(F.col("event_type") == cohort_event)
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .where(F.col("week_offset") >= 0)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
