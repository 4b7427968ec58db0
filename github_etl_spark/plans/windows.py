"""Window functions, sessionization, as-of join, event-time buckets
(SURVEY.md §2.8, §2.9/T5 batch analogs).

The reference's only windowable computation is the earliest-approval agg
(A1); everything here is the IMPLIED generalization, plus the streaming
operators' batch-equivalent forms so they are DuckDB-checkable (the real
Structured Streaming versions live in github_etl_spark/streaming/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.rounding import round_det
from ..operators.asof import asof_join
from ..tables import load_tables
from .registry import query


@query(
    "w1_row_number_topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      FROM lineitem
    )
    WHERE rn <= 2
    """,
    headline=True,
)
def w1_row_number_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: top-k per group via ranking window ("latest review per PR" is
    this shape — the window form of A1). Deterministic tiebreak on
    l_linenumber."""
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        t["lineitem"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "w2_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_id) OVER w AS prev_event_id,
           lead(event_id) OVER w AS next_event_id,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: analytic lag/lead over an event stream, with inter-event gap
    in epoch microseconds (timezone-proof integer arithmetic)."""
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # The events parquet reads as TIMESTAMP_NTZ; unix_micros requires
    # TIMESTAMP (ltz). The session timezone is pinned UTC (session.py),
    # so the NTZ→LTZ cast reinterprets the wall-clock as the identical
    # instant and the microsecond arithmetic is exact.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return t["events"].select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    )


@query(
    "w3_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           -- outer CAST matters: DuckDB's window SUM(BIGINT) yields
           -- HUGEINT, which pandas renders as float64 and diverges
           -- from Spark's int64 on a dtype-sensitive value hash
           -- l_extendedprice tiebreak: the synthetic lineitem has
           -- duplicate (orderkey, linenumber) keys, and rows that tie
           -- on (shipdate, orderkey, linenumber) with DIFFERENT prices
           -- make the prefix-sum assignment engine-dependent; tying on
           -- the summed value itself makes the output multiset
           -- order-invariant
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_revenue_cents
    FROM lineitem
    """,
)
def w3_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: frame-spec running aggregate; total order inside each
    partition (shipdate, orderkey, linenumber, extendedprice) fixes
    WHICH rows each prefix covers, and summing exact integer CENTS
    makes the values engine-independent — double summation is
    order-AND-algorithm sensitive (DuckDB window-sums via segment
    trees, Spark sequentially; their last-ulp disagreements flip cent
    rounding on long partitions — observed at sf0.1, invisible at
    sf0.01). The extendedprice tiebreak matters too: synthetic
    lineitem duplicates (orderkey, linenumber), and a tie across the
    first three keys with different prices leaves the prefix-sum
    assignment engine-dependent; breaking the tie on the summed value
    itself makes the output multiset deterministic."""
    t = load_tables(spark, sf_dir)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return t["lineitem"].select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(cents).over(w).alias("running_revenue_cents"),
    )


@query(
    "w4_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch analog: sessionization with a 30-minute inactivity gap —
    lag + gap-flag + prefix-sum (the standard batch form of
    session_window; the streaming form is tested in tests/test_streaming)."""
    t = load_tables(spark, sf_dir)
    order_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-safe: cast to TIMESTAMP under the pinned-UTC session (see
    # w2_lag_lead) before unix_micros, which rejects TIMESTAMP_NTZ.
    ts_ltz = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_ltz) - F.unix_micros(F.lag(ts_ltz).over(order_w))
    marked = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    # event_id tiebreak: a ROWS-frame prefix sum over tied timestamps is
    # otherwise order-unspecified → nondeterministic session splits.
    run_w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sessions = marked.withColumn("session_id", F.sum("is_new").over(run_w))
    return sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "w5_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           dense_rank()   OVER w AS drank,
           ntile(4)       OVER w AS quartile,
           -- outer CASTs: DuckDB window doubles render as float64 either
           -- way, but rounding keeps last-ulp divergence out of the hash
           (floor(percent_rank() OVER w * 10000 + 0.5) / 10000) AS pct_rank,
           (floor(cume_dist()    OVER w * 10000 + 0.5) / 10000) AS cdist,
           first_value(o_orderkey) OVER w AS first_in_grp
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def w5_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 breadth: the full ranking family — dense_rank, ntile,
    percent_rank, cume_dist, first_value — over one deterministic
    window (totalprice desc, orderkey tiebreak). Complements w1's
    row_number top-k with the analytics a BI layer actually issues."""
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(w).alias("quartile"),
        round_det(F.percent_rank().over(w), 4).alias("pct_rank"),
        round_det(F.cume_dist().over(w), 4).alias("cdist"),
        F.first("o_orderkey").over(w).alias("first_in_grp"),
    )


@query(
    "t5_tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           (floor((SUM(value)) * 100 + 0.5) / 100) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def t5_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch analog: tumbling event-time window aggregation. The
    streaming form (readStream + withWatermark + window()) produces the
    same rows — asserted in tests/test_streaming.py."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            round_det(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "j5_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j5_asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join (Spark lacks a native one — composed from a union +
    ordered window in operators/asof.py; oracle is DuckDB's native ASOF).

    For each purchase, the most recent click at-or-before it by the same
    user.
    """
    t = load_tables(spark, sf_dir)
    purchases = t["events"].filter(F.col("event_type") == "purchase")
    clicks = t["events"].filter(F.col("event_type") == "click")
    joined = asof_join(
        left=purchases.select("event_id", "user_id", "ts"),
        right=clicks.select("user_id", "ts"),
        on="user_id",
        left_time="ts",
        right_time="ts",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("right_ts").alias("last_click_ts"),
    )


@query(
    "t5_sliding_window_agg",
    headline=True,
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS w0
      FROM events
    ),
    expanded AS (
      SELECT event_type, unnest(list_value(w0, w0 - 1800)) AS wstart
      FROM base
    )
    SELECT make_timestamp(wstart * 1000000) AS window_start,
           event_type,
           count(*) AS n_events
    FROM expanded
    GROUP BY 1, 2
    """,
)
def t5_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch analog: sliding 1h windows every 30min — each event
    lands in exactly duration/slide = 2 windows (Spark's Expand
    operator; the oracle unnests the same two window starts)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events"
        )
    )


@query(
    "t5_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t5_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch analog: `session_window(ts, gap)` — sessions close after
    30min inactivity; Spark defines session_end = last event + gap (the
    oracle reproduces sessions via the lag/cumsum idiom, w4's shape)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "j5_full_outer_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, count(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    purchases AS (
      SELECT user_id, count(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.n_clicks AS n_clicks,
           p.n_purchases AS n_purchases
    FROM clicks c FULL OUTER JOIN purchases p ON c.user_id = p.user_id
    """,
)
def j5_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: full outer — users with clicks but no purchases and vice
    versa both survive with NULLs on the missing side."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    return (
        clicks.withColumnRenamed("user_id", "c_user")
        .join(
            purchases.withColumnRenamed("user_id", "p_user"),
            F.col("c_user") == F.col("p_user"),
            "full_outer",
        )
        .select(
            F.coalesce("c_user", "p_user").alias("user_id"),
            "n_clicks",
            "n_purchases",
        )
    )


_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2200-01-01 00:00:00' AS valid_to,
         TRUE AS is_current
  FROM customer
),
upd AS (
  SELECT DISTINCT o_custkey AS c_custkey, o_orderstatus AS segment,
         CAST(o_orderdate AS TIMESTAMP) AS ts
  FROM orders WHERE o_orderkey % 7 = 0
  UNION
  SELECT DISTINCT o.o_custkey, c.c_mktsegment,
         CAST(o.o_orderdate AS TIMESTAMP)
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderkey % 11 = 0
),
ordered AS (
  SELECT c_custkey, segment, ts AS valid_from,
         ROW_NUMBER() OVER w AS rn,
         LAG(segment) OVER w AS lag_seg
  FROM upd
  WINDOW w AS (PARTITION BY c_custkey ORDER BY ts, segment)
),
cur AS (
  SELECT c_custkey, segment AS cur_seg, TRUE AS has_cur
  FROM dim WHERE is_current
),
survivors AS (
  SELECT o.c_custkey, o.segment, o.valid_from
  FROM ordered o LEFT JOIN cur USING (c_custkey)
  WHERE NOT (
    (o.rn > 1 OR COALESCE(cur.has_cur, FALSE))
    AND o.segment IS NOT DISTINCT FROM
        (CASE WHEN o.rn > 1 THEN o.lag_seg ELSE cur.cur_seg END)
  )
),
versions AS (
  SELECT c_custkey, segment, valid_from,
         COALESCE(LEAD(valid_from) OVER w2,
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to
  FROM survivors
  WINDOW w2 AS (PARTITION BY c_custkey ORDER BY valid_from, segment)
),
first_new AS (
  SELECT c_custkey, MIN(valid_from) AS nf FROM versions GROUP BY c_custkey
),
closed AS (
  SELECT d.c_custkey, d.segment, d.valid_from, f.nf AS valid_to,
         FALSE AS is_current
  FROM dim d JOIN first_new f USING (c_custkey)
  WHERE d.is_current
),
untouched AS (
  SELECT d.c_custkey, d.segment, d.valid_from, d.valid_to, d.is_current
  FROM dim d
  WHERE d.is_current
    AND d.c_custkey NOT IN (SELECT c_custkey FROM first_new)
)
SELECT * FROM untouched
UNION ALL SELECT * FROM closed
UNION ALL
SELECT c_custkey, segment, valid_from, valid_to,
       valid_to = TIMESTAMP '2200-01-01 00:00:00' AS is_current
FROM versions
"""


@query("scd2_merge", oracle=_SCD2_ORACLE, headline=True)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/scd.scd2_apply) — the MERGE INTO
    emulation on plain parquet: close changed current rows, append
    ordered new versions, drop no-op updates, pass untouched keys
    through. The oracle replays the same algorithm in SQL."""
    from ..operators.scd import scd2_apply

    t = load_tables(spark, sf_dir)
    dim = t["customer"].select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit("2200-01-01 00:00:00").cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        t["orders"]
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderstatus").alias("segment"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
    )
    noops = (
        t["orders"]
        .filter(F.col("o_orderkey") % 11 == 0)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
    )
    updates = changes.unionByName(noops).distinct()
    return scd2_apply(dim, updates, "c_custkey", ["segment"])


_AS_OF_TS = "1995-06-01 00:00:00"


@query(
    "scd2_point_in_time",
    headline=True,
    oracle=f"""
    WITH merged AS ({_SCD2_ORACLE})
    SELECT c_custkey, segment, valid_from, valid_to
    FROM merged
    WHERE valid_from <= TIMESTAMP '{_AS_OF_TS}'
      AND valid_to   >  TIMESTAMP '{_AS_OF_TS}'
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 dimension (operators/scd.scd2_as_of):
    the one version per key valid at the probe timestamp — the query a
    mart runs to reconstruct any historical day from the merged
    history. Built on the scd2_merge output, so the oracle reuses the
    same merge CTE filtered to the interval covering the probe."""
    from ..operators.scd import scd2_as_of

    merged = scd2_merge(spark, sf_dir)
    return scd2_as_of(merged, _AS_OF_TS).select(
        "c_custkey", "segment", "valid_from", "valid_to"
    )


@query(
    "snapshot_cdc_diff",
    headline=True,
    oracle="""
    WITH old AS (
      SELECT c_custkey, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 5 <> 0
    ),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS segment
      FROM customer WHERE c_custkey % 11 <> 3
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.segment AS old_segment,
           n.segment AS new_segment
    FROM old o FULL OUTER JOIN new n USING (c_custkey)
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.segment IS DISTINCT FROM n.segment
    """,
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two full snapshots (operators/scd.snapshot_diff):
    the reference's warehouse stores whole per-(repo, date) snapshots;
    this derives the insert/update/delete feed an incremental consumer
    wants. Old = customers minus every 5th key; new = every 7th key's
    segment rewritten, every (11k+3)th key dropped."""
    from ..operators.scd import snapshot_diff

    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    old = cust.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    new = cust.filter(F.col("c_custkey") % 11 != 3).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    return snapshot_diff(old, new, "c_custkey", ["segment"])


@query(
    "funnel_conversion",
    headline=True,
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
      SELECT user_id, min(ts) AS t1 FROM base
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT b.user_id, min(b.ts) AS t2
      FROM base b JOIN s1 USING (user_id)
      WHERE b.event_type = 'click' AND b.ts > s1.t1
      GROUP BY b.user_id
    ),
    s3 AS (
      SELECT b.user_id, min(b.ts) AS t3
      FROM base b JOIN s2 USING (user_id)
      WHERE b.event_type = 'purchase' AND b.ts > s2.t2
      GROUP BY b.user_id
    ),
    users AS (SELECT DISTINCT user_id FROM base)
    SELECT u.user_id, s1.t1, s2.t2, s3.t3,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     WHEN s1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM users u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: strictly-ordered conversion funnel view → click → purchase
    (operators/funnel.funnel_stages). Spark-first shape: ONE shuffle —
    per-user sorted event array + pure-JVM state-machine fold — where
    the SQL form (what the oracle runs) is a 3-CTE min-join cascade
    re-scanning the event table per step; value equality between the
    two shapes is exactly what the driver hash checks."""
    from ..operators.funnel import funnel_stages

    t = load_tables(spark, sf_dir)
    return funnel_stages(t["events"], ["view", "click", "purchase"])


@query(
    "cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    offs AS (
      SELECT a.user_id, f.cohort_week,
             CAST((CAST(a.week AS DATE) - CAST(f.cohort_week AS DATE)) / 7
                  AS INTEGER) AS week_offset
      FROM active a JOIN first f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM offs WHERE week_offset >= 0
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: weekly cohort-retention triangle
    (operators/funnel.cohort_retention): users cohorted by the ISO
    week of first signup, counted distinct per activity-week offset.
    Two keyed aggregations (user-bounded and (user,week)-distinct)
    plus one join — every aggregate partial-combined map-side."""
    from ..operators.funnel import cohort_retention

    t = load_tables(spark, sf_dir)
    return cohort_retention(t["events"], "signup")


@query(
    "event_transition_matrix",
    headline=True,
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS from_event
      FROM events
    )
    SELECT from_event, event_type AS to_event,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ordered WHERE from_event IS NOT NULL
    GROUP BY from_event, event_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: event-to-event transition matrix (the path-analysis /
    Markov-chain primitive that complements the funnel and retention
    queries): adjacent event pairs per user in (ts, event_id) order —
    the id tiebreak makes the sequence total, so both engines see the
    SAME neighbor for simultaneous events — aggregated to transition
    and distinct-user counts. One user-keyed window shuffle + one
    pair-keyed aggregation with map-side combine."""
    t = load_tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = t["events"].select(
        "user_id",
        F.col("event_type").alias("to_event"),
        F.lag("event_type").over(w).alias("from_event"),
    )
    return (
        ordered.where(F.col("from_event").isNotNull())
        .groupBy("from_event", "to_event")
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "metric_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             (floor((SUM(value)) * 100 + 0.5) / 100) AS daily_value
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    stats AS (
      SELECT event_type, day, daily_value,
             avg(daily_value) OVER (PARTITION BY event_type) AS mu,
             stddev_samp(daily_value) OVER (PARTITION BY event_type) AS sigma
      FROM daily
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, daily_value,
           (floor(((daily_value - mu) / sigma) * 10000 + 0.5) / 10000)
             AS zscore,
           abs((daily_value - mu) / sigma) > 2.0 AS is_anomaly
    FROM stats WHERE sigma > 0
    """,
)
def metric_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT: time-series anomaly flagging — each event type's daily
    value z-scored against that type's own distribution (the
    monitoring-table pattern: one keyed daily rollup, one
    per-type window for the moments, flag |z| > 2). The rollup is
    partial-aggregated; the window partitions by type (days per type
    is bounded), never globally. Daily sums rounded before the moments
    so both engines aggregate identical inputs."""
    t = load_tables(spark, sf_dir)
    daily = t["events"].groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(round_det(F.sum("value"), 2).alias("daily_value"))
    w = W.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "daily_value",
        F.avg("daily_value").over(w).alias("mu"),
        F.stddev_samp("daily_value").over(w).alias("sigma"),
    )
    z = (F.col("daily_value") - F.col("mu")) / F.col("sigma")
    return stats.where(F.col("sigma") > 0).select(
        "event_type",
        "day",
        "daily_value",
        round_det(z, 4).alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@query(
    "w6_rolling_interval_sum",
    headline=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           (floor(SUM(o_totalprice) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
            ) * 100 + 0.5) / 100) AS rolling_7d_price,
           COUNT(*) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
            ) AS rolling_7d_orders
    FROM orders
    """,
)
def w6_rolling_interval_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval rolling window (RANGE frame): trailing-7-day spend
    and order count per customer. The RANGE frame is tie-correct — all
    orders sharing a timestamp are frame peers, so the result is
    deterministic under any sort-order tie-break (unlike a ROWS frame,
    which this catalog uses only with a unique total order).

    Scale: one hash exchange on o_custkey, then an in-partition sort;
    the frame evaluator is a sliding two-pointer over each partition —
    no per-row rescans, no Python. Skewed customers are bounded by the
    per-key order count, not corpus size."""
    t = load_tables(spark, sf_dir)
    # Parquet TIMESTAMP_NTZ → session-TZ timestamp (UTC session) before
    # unix_seconds; the RANGE frame then runs on integer epoch seconds.
    epoch_s = F.unix_seconds(F.col("o_orderdate").cast("timestamp"))
    w = W.partitionBy("o_custkey").orderBy(epoch_s).rangeBetween(-7 * 86400, 0)
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        round_det(F.sum("o_totalprice").over(w), 2).alias("rolling_7d_price"),
        F.count(F.lit(1)).over(w).alias("rolling_7d_orders"),
    )


@query(
    "ts_gap_fill_ffill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             (floor(SUM(value) * 100 + 0.5) / 100) AS hourly_value
      FROM events WHERE value > 200 GROUP BY 1, 2
    ),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
    grid AS (
      SELECT k.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hr
      FROM (SELECT DISTINCT event_type FROM hourly) k CROSS JOIN bounds b
    )
    SELECT g.event_type, g.hr,
           h.hourly_value,
           last_value(h.hourly_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           (h.hourly_value IS NULL) AS is_gap
    FROM grid g
    LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    """,
)
def ts_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify a sparse hourly aggregate onto a
    complete per-key hour grid and forward-fill the holes — the
    resample/ffill step every metrics pipeline runs before charting or
    anomaly scoring.

    Scale shape: the grid is keys × hours built by an in-row
    ``sequence`` explode from a BROADCAST 1-row bounds aggregate (no
    driver round-trip for the bounds, no grid materialization on the
    driver); the fill is one ``last(ignorenulls)`` running window per
    key — Spark evaluates it in a single pass over each key's sorted
    partition, and the partition is bounded by the grid length, not the
    event count."""
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .where(F.col("value") > 200)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(round_det(F.sum("value"), 2).alias("hourly_value"))
    )
    bounds = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    filled = grid.join(hourly, ["event_type", "hr"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return filled.select(
        "event_type",
        "hr",
        "hourly_value",
        F.last("hourly_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("hourly_value").isNull().alias("is_gap"),
    )


@query(
    "user_growth_accumulation",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS hr FROM events GROUP BY 1
    ),
    hourly AS (SELECT hr, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY 1)
    SELECT hr, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM hourly
    """,
)
def user_growth_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct growth curve (hourly new + cumulative users)
    WITHOUT a distinct-over-expanding-window: first-seen hour per user
    (one keyed agg), hourly new-user counts (second agg, bucket-sized
    output), then a running sum over buckets. The naive
    count(DISTINCT) OVER (ORDER BY hr) form re-scans every prefix;
    this shape is two map-side-combined aggregations plus a window
    whose single partition is bounded by the number of TIME BUCKETS —
    the only correct way to compute retention-style growth at corpus
    scale."""
    t = load_tables(spark, sf_dir)
    first_seen = (
        t["events"]
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("hour", "ts")).alias("hr"))
    )
    hourly = first_seen.groupBy("hr").agg(F.count(F.lit(1)).alias("new_users"))
    w = W.orderBy("hr").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hourly.select(
        "hr",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )
