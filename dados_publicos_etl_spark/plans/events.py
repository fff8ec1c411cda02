"""Batch event analytics over the ``events`` table (north-star
extension; complements streaming/windows.py which covers the same
table's event-time streaming semantics).

Everything is one window pass or one aggregation — patterns that
survive 100 TB because the only shuffle is on ``user_id`` (high
cardinality, naturally balanced) and every window is evaluated
sort-once within the partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import epoch_micros
from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query

_GAP_MIN = 30


@query(
    "sessionize_gaps",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL {_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS INT) AS session_seq,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
             AS duration_micros
    FROM sess
    GROUP BY user_id, session_seq
    """,
    description="Gap-based sessionization (lag + cumulative-sum "
    "session ids, 30-min gap): the window-function formulation that "
    "assigns stable session sequence numbers, complementing "
    "F.session_window aggregation.  One shuffle on user_id.",
)
def sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    gap_us = _GAP_MIN * 60 * 1_000_000
    flagged = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(wrun).cast("int").alias("session_seq"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(
            "timestampdiff(MICROSECOND, min(ts), max(ts))"
        ).cast("long").alias("duration_micros"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicked_after_view,
           CAST(SUM(CASE WHEN t_buy > t_click AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchased_after_click
    FROM stages
    """,
    description="Funnel analysis view->click->purchase: per-user "
    "first-touch per stage (one conditional-min agg), then ordered "
    "conversion counts.  Two aggs, one shuffle each.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    return stages.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("n_viewed"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).cast("long").alias("n_clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_purchased_after_click"),
    )


@query(
    "window_navigation",
    oracle="""
    SELECT event_id, user_id,
           ROUND(LAG(value) OVER w, 2) AS prev_value,
           ROUND(LEAD(value) OVER w, 2) AS next_value,
           ROUND(FIRST_VALUE(value) OVER w, 2) AS first_value,
           ROUND(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 2) AS last_good_value,
           ROUND(NTH_VALUE(value, 2) OVER w, 2) AS second_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
    description="Navigation window functions: lag/lead/first/nth plus "
    "last_value(IGNORE NULLS) carrying the latest non-error value "
    "forward (gap-fill idiom).  One window pass, one shuffle.",
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(wl), 2).alias("prev_value"),
        F.round(F.lead("value").over(wl), 2).alias("next_value"),
        F.round(F.first("value").over(w), 2).alias("first_value"),
        F.round(F.last(good, ignorenulls=True).over(w), 2).alias(
            "last_good_value"
        ),
        F.round(F.nth_value("value", 2).over(w), 2).alias("second_value"),
    )


@query(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(NTILE(4) OVER w AS INT) AS balance_quartile,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    description="Distribution window functions (ntile / percent_rank "
    "/ cume_dist) ranking customers by balance within nation.",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS trailing_30m_value
    FROM events
    """,
    description="RANGE window frame over event time: per-user "
    "trailing 30-minute sum (value-based frame, not row-based - "
    "peers at the same ts aggregate together, so the result is "
    "order-deterministic without a tie-break).  Integer-cents sum "
    "keeps it engine-exact.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_events_rf")
    # interval RANGE frames are SQL-only surface (the DataFrame
    # rangeBetween takes numeric offsets); same Catalyst window node.
    return spark.sql(
        """
        SELECT event_id, user_id,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100.0 AS trailing_30m_value
        FROM _events_rf
        """
    )


@query(
    "time_spine_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(epoch(MIN(ts)) / 600) AS BIGINT) AS b0,
             CAST(floor(epoch(MAX(ts)) / 600) AS BIGINT) AS b1
      FROM events
    ), spine AS (
      SELECT event_type,
             unnest(range(b0, b1 + 1)) AS bucket
      FROM bounds, (SELECT DISTINCT event_type FROM events)
    ), actual AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT s.event_type,
           strftime(TIMESTAMP '1970-01-01 00:00:00'
                    + INTERVAL 1 SECOND * (s.bucket * 600),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN actual a
      ON s.event_type = a.event_type AND s.bucket = a.bucket
    """,
    description="Time-spine zero fill: dense 10-minute buckets per "
    "event_type built with sequence()+explode (a generated spine, no "
    "data shuffle to build it), left-joined against actual counts so "
    "silent gaps become explicit zeros - the standard reporting/"
    "monitoring densification.",
)
def time_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # NTZ-safe bucketing: epoch arithmetic against a fixed NTZ anchor
    # (unix_micros needs LTZ and would shift with session timezone).
    bucket = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 600"
    )
    bounds = ev.agg(
        F.min(bucket).alias("b0"), F.max(bucket).alias("b1")
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket"),
        )
    )
    actual = ev.select("event_type", bucket.alias("bucket")).groupBy(
        "event_type", "bucket"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(actual, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.date_format(
                F.expr(
                    "timestampadd(SECOND, bucket * 600, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


_EWMA_ALPHA = 0.3


@query(
    "ewma_user_value",
    oracle=f"""
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS v
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(v) AS BIGINT) AS n_events,
           ROUND(list_reduce(v, (acc, x) ->
                 {_EWMA_ALPHA} * x + {1 - _EWMA_ALPHA} * acc), 4) AS ewma
    FROM s
    """,
    description=f"Order-dependent EWMA (alpha={_EWMA_ALPHA}) over each "
    "user's event series: collect_list sorted by (ts, event_id), then "
    "a JVM-side aggregate() fold — the sequential-recurrence pattern "
    "window frames can't express.",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user series.

    EWMA is a sequential recurrence (each step depends on the previous
    accumulator), which no window frame expresses.  The Spark-first
    form: one shuffle to group each user's series, ``array_sort`` on
    (ts, event_id) structs for deterministic order, then a Catalyst
    ``aggregate`` lambda fold — all JVM-side, no Python.  Per-user
    series fit comfortably in memory at any corpus scale (state is
    one array per user, same bound as any sessionization); for
    unbounded series the streaming form is
    ``applyInPandasWithState`` (streaming/stateful.py).

    ewma_0 = v_0; ewma_i = alpha * v_i + (1 - alpha) * ewma_{{i-1}}.
    """
    ev = read_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq")
    )
    a, b = _EWMA_ALPHA, 1 - _EWMA_ALPHA
    return (
        seq.withColumn("v", F.expr("transform(seq, s -> s.value)"))
        .select(
            "user_id",
            F.size("v").cast("long").alias("n_events"),
            F.round(
                F.expr(
                    "aggregate(slice(v, 2, size(v) - 1), "
                    "element_at(v, 1), "
                    f"(acc, x) -> {a}D * x + {b}D * acc)"
                ),
                4,
            ).alias("ewma"),
        )
    )


@query(
    "window_fill_forward",
    oracle="""
    WITH sparse AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS ffill_value,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
             AS first_purchase_value
    FROM sparse
    """,
    description="IGNORE NULLS window navigation: forward-fill the "
    "last purchase value onto every event (sparse-signal gap fill) "
    "plus first non-null per partition.  One shuffle on user_id, one "
    "sort, both windows share the partitioning.",
)
def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill via last(..., ignorenulls=True).

    The time-series gap-fill: carry the most recent non-null
    observation forward within each key.  Both window frames reuse
    the same (user_id, ts) sort, so Catalyst plans ONE exchange and
    ONE sort for the pair.  At 100 TB this scales as any user-keyed
    window: high-cardinality partition key, bounded per-user state.
    """
    ev = read_table(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "v"
        ),
    )
    wff = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return sparse.select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(wff).alias("ffill_value"),
        F.first("v", ignorenulls=True)
        .over(wall)
        .alias("first_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Bucketized interval join — the big-big range-join pattern
# ---------------------------------------------------------------------------

_IVL_BUCKET_SECS = 3600


def _epoch_secs(col: str):
    # NTZ-safe epoch seconds (unix_* need LTZ)
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    )


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str,
    lo_col: str,
    hi_col: str,
    bucket_secs: int = _IVL_BUCKET_SECS,
) -> DataFrame:
    """Point-in-interval join as an EQUI join, for when BOTH sides are
    too big to broadcast.

    A raw ``p.ts BETWEEN i.lo AND i.hi`` theta join plans as a
    nested-loop / cartesian once neither side fits in a broadcast —
    the classic range-join scale cliff.  Quantizing time into fixed
    buckets turns it into: point -> its ONE bucket; interval ->
    exploded to the buckets it overlaps (``sequence``); equi-join on
    the bucket key (shuffle-hash/SMJ, partition-parallel); exact
    BETWEEN filter re-applied.  Each (point, interval) pair meets in
    exactly one bucket — the point's — so no dedup step is needed.
    Candidate volume is |points| x avg concurrent intervals per
    bucket; pick ``bucket_secs`` ~ median interval length so interval
    replication stays O(1) per row.
    """
    pb = points.withColumn(
        "_bkt", F.floor(_epoch_secs(t_col) / bucket_secs).cast("long")
    )
    ib = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(_epoch_secs(lo_col) / bucket_secs).cast("long"),
                F.floor(_epoch_secs(hi_col) / bucket_secs).cast("long"),
            )
        ),
    )
    return (
        pb.join(ib, "_bkt")
        .filter(
            (F.col(t_col) >= F.col(lo_col))
            & (F.col(t_col) <= F.col(hi_col))
        )
        .drop("_bkt")
    )


@query(
    "interval_bucket_join",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL {_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_seq, MIN(ts) AS lo, MAX(ts) AS hi
      FROM sess GROUP BY user_id, session_seq
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_concurrent
    FROM purchases p JOIN sessions s
      ON p.ts >= s.lo AND p.ts <= s.hi AND s.user_id <> p.user_id
    GROUP BY p.event_id, p.user_id
    """,
    description="Big-big interval join via time-bucket equi-join: each "
    "purchase counts OTHER users' gap-sessions covering its "
    "timestamp.  Points map to one bucket, intervals explode to "
    "their overlapping buckets, the join is a hash join on the "
    "bucket key (never nested-loop) with the exact BETWEEN "
    "re-filter — the O(n) range-join shape when neither side "
    "broadcasts.",
)
def interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    gap_us = _GAP_MIN * 60 * 1_000_000
    sess = (
        ev.select(
            "user_id", "ts", "event_id",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(
                F.col("prev_ts").isNull()
                | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > gap_us),
                1,
            )
            .otherwise(0)
            .alias("new_session"),
        )
        .select(
            "user_id",
            "ts",
            F.sum("new_session").over(wrun).alias("session_seq"),
        )
    )
    sessions = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(F.col("user_id").alias("s_user_id"), "lo", "hi")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = point_in_interval_join(purchases, sessions, "ts", "lo", "hi")
    return (
        joined.filter(F.col("s_user_id") != F.col("user_id"))
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_concurrent"))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT o_custkey,
             date_trunc('month', o_orderdate) AS m
      FROM orders
    ),
    firsts AS (
      SELECT o_custkey, MIN(m) AS cohort FROM activity GROUP BY o_custkey
    ),
    offsets AS (
      SELECT f.cohort, datediff('month', f.cohort, a.m) AS month_offset,
             a.o_custkey
      FROM activity a JOIN firsts f ON a.o_custkey = f.o_custkey
    ),
    counts AS (
      SELECT cohort, month_offset,
             COUNT(DISTINCT o_custkey) AS n_active
      FROM offsets GROUP BY cohort, month_offset
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort_month,
           CAST(c.month_offset AS INT) AS month_offset,
           CAST(c.n_active AS BIGINT) AS n_active,
           ROUND(c.n_active / CAST(s.n_active AS DOUBLE), 4) AS retention
    FROM counts c
    JOIN counts s ON s.cohort = c.cohort AND s.month_offset = 0
    """,
    description="Retention cohort analysis: customers bucketed by "
    "first-order month, per-cohort active share at each month offset "
    "— two hash aggregates over the distinct (customer, month) "
    "activity table plus a broadcast join of cohort sizes.  The "
    "activity distinct is the only shuffle that scales with data; "
    "cohort x offset output is bounded by the calendar, not the "
    "corpus.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    activity = orders.select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    firsts = activity.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    offsets = activity.join(firsts, "o_custkey").select(
        "cohort",
        F.months_between("m", "cohort").cast("int").alias("month_offset"),
        "o_custkey",
    )
    counts = offsets.groupBy("cohort", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_active")
    )
    sizes = counts.filter(F.col("month_offset") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "month_offset",
            "n_active",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 4
            ).alias("retention"),
        )
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                           ) - epoch_us(ts) AS BIGINT) AS dt_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS twap
    FROM stepped WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
    description="Time-weighted average (the TWAP/time_weight "
    "operator of time-series stores): each observation holds until "
    "the user's next event, so the mean weights each value by its "
    "holding duration — last-observation-carried-forward integral "
    "over irregular samples.  One window pass (lead) + one "
    "aggregate; a plain AVG over-weights bursts of rapid events.",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        F.expr(
            "timestampdiff(MICROSECOND, ts, "
            "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))"
        ).cast("long").alias("dt_us"),
    )
    return (
        stepped.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4
            ).alias("twap"),
        )
    )


@query(
    "activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), anchored AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INT) AS anchor
      FROM days
    ), islands AS (
      SELECT user_id, anchor,
             MIN(d) AS island_start, CAST(COUNT(*) AS INT) AS island_days
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(island_days) AS INT) AS longest_island,
           strftime(MIN(island_start), '%Y-%m-%d') AS first_island_start
    FROM islands GROUP BY user_id
    """,
    description="Gaps-and-islands: maximal runs of CONSECUTIVE active "
    "days per user via the classic date-minus-row_number anchor "
    "(consecutive days share one anchor; no self-join, no recursion) "
    "— streak/churn analysis as two window-free aggregates around "
    "one window pass.",
)
def activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    anchored = days.select(
        "user_id",
        "d",
        F.expr(
            "date_add(d, -CAST(ROW_NUMBER() OVER "
            "(PARTITION BY user_id ORDER BY d) AS INT))"
        ).alias("anchor"),
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.min("d").alias("island_start"),
        F.count(F.lit(1)).cast("int").alias("island_days"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("island_days").alias("longest_island"),
        F.date_format(F.min("island_start"), "yyyy-MM-dd").alias(
            "first_island_start"
        ),
    )


@query(
    "concurrent_events_peak",
    oracle="""
    WITH deltas AS (
      SELECT event_type, ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 10 MINUTE, -1 FROM events
    ), swept AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM deltas
    )
    SELECT event_type,
           CAST(MAX(live) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM swept GROUP BY event_type
    """,
    description="Peak concurrency via the sweep line: each event "
    "opens a 10-minute interval; +1/-1 deltas sorted by time (ends "
    "BEFORE starts at a boundary — half-open intervals, delta ASC "
    "tie-break) and a running sum give instantaneous concurrency; "
    "MAX per type is the peak.  O(n log n) with NO interval "
    "self-join — the overlap-counting shape that scales where "
    "pairwise overlap joins explode.",
)
def concurrent_events_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    closes = ev.select(
        "event_type",
        F.expr("ts + INTERVAL 10 MINUTE").alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = opens.unionByName(closes)
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    swept = deltas.select(
        "event_type", F.sum("delta").over(w).alias("live")
    )
    return swept.groupBy("event_type").agg(
        F.max("live").cast("long").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


@query(
    "event_sequence_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LENGTH(s) AS INT) AS n_events,
           CAST(len(regexp_extract_all(s, 'v[^p]*cp')) AS INT)
             AS n_vcp_runs,
           regexp_matches(s, 'v.*c.*p') AS has_funnel
    FROM seq
    """,
    description="Sequence-pattern matching over event streams "
    "(MATCH_RECOGNIZE emulation): each user's ordered event types "
    "collapse to a symbol string (one grouped ordered string-agg), "
    "then regular expressions detect temporal patterns — here "
    "view->click->purchase funnels and non-overlapping "
    "view-then-click-then-purchase runs without an intervening "
    "purchase.  Regex over the symbol string expresses "
    "variable-length temporal patterns that window functions "
    "cannot; state per user is one string, the classic sequence-"
    "mining trick.",
)
def event_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id").alias("ord"),
            F.substring("event_type", 1, 1).alias("sym"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.expr("transform(array_sort(collect_list(struct(ord, sym))), x -> x.sym)")
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("int").alias("n_events"),
        F.size(F.expr("regexp_extract_all(s, 'v[^p]*cp', 0)"))
        .cast("int")
        .alias("n_vcp_runs"),
        F.expr("s RLIKE 'v.*c.*p'").alias("has_funnel"),
    )


@query(
    "geo_proximity_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS STRING)
                    || ':lat'), 1, 6) AS BIGINT) % 1000 AS DOUBLE)
               / 1000.0 AS x,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS STRING)
                    || ':lon'), 1, 6) AS BIGINT) % 1000 AS DOUBLE)
               / 1000.0 AS y
      FROM customer
    ), cells AS (
      SELECT id, x, y,
             CAST(floor(x / 0.02) AS INT) AS cx,
             CAST(floor(y / 0.02) AS INT) AS cy
      FROM pts
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y), 8) AS dist_sq
    FROM cells a JOIN cells b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
     AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= 0.02 * 0.02
    """,
    description="Spatial proximity join via grid blocking: points "
    "(deterministic hash-synthesized coordinates) bucket into cells "
    "of the query radius; candidate pairs come ONLY from the 3x3 "
    "neighborhood (grid guarantees no pair within radius is missed), "
    "exact planar distance refilters.  The canonical spatial-join "
    "shape — candidate volume ~ density x n, never the O(n^2) cross "
    "join a raw distance predicate would plan.  Planar squared "
    "distance keeps the oracle bit-exact (no libm sin/cos "
    "divergence).",
)
def geo_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    # engine-portable hash: md5 hex -> int on BOTH sides (Spark conv,
    # DuckDB '0x' cast) — hash()/xxhash differ across engines
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (
            hex_long(
                F.md5(
                    F.concat(F.col("c_custkey").cast("string"), F.lit(":lat"))
                ),
                6,
            )
            % 1000
        ).cast("double").alias("xi"),
        (
            hex_long(
                F.md5(
                    F.concat(F.col("c_custkey").cast("string"), F.lit(":lon"))
                ),
                6,
            )
            % 1000
        ).cast("double").alias("yi"),
    ).select(
        "id",
        (F.col("xi") / 1000.0).alias("x"),
        (F.col("yi") / 1000.0).alias("y"),
    )
    cells = pts.select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / 0.02).cast("int").alias("cx"),
        F.floor(F.col("y") / 0.02).cast("int").alias("cy"),
    )
    # EQUI-join formulation: side a explodes into its 3x3 neighbor
    # cells, side b keeps its home cell — each in-radius pair matches
    # on exactly ONE (cx, cy) key (b's home cell), so the join is a
    # hash/sort-merge EQUI-join on the cell key with no dedup needed.
    # A raw BETWEEN condition on cell ids plans a
    # BroadcastNestedLoopJoin — O(n^2) comparisons, the exact thing
    # grid blocking exists to avoid (plan-pinned in test_plans).
    a = cells.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("id_a", "xa", "ya", "cell.cx", "cell.cy")
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    dsq = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("id_a") < F.col("id_b")) & (dsq <= 0.02 * 0.02))
        .select(
            "id_a",
            "id_b",
            F.round(dsq, 8).alias("dist_sq"),
        )
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH m AS (
      SELECT user_id, AVG(value) AS mu FROM events GROUP BY user_id
    ), pre AS (
      SELECT e.user_id, e.ts, e.event_id,
             SUM(e.value - m.mu) OVER (PARTITION BY e.user_id
                                       ORDER BY e.ts, e.event_id
                                       ROWS UNBOUNDED PRECEDING) AS p
      FROM events e JOIN m ON e.user_id = m.user_id
    ), s AS (
      SELECT user_id,
             p - LEAST(0.0, MIN(p) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)) AS slack
      FROM pre
    )
    SELECT user_id,
           ROUND(MAX(slack), 4) AS cusum_max,
           MAX(slack) > 400 AS shifted
    FROM s GROUP BY user_id
    """,
    description="CUSUM change-point statistic per user series: the "
    "reset-at-zero recursion s_i = max(0, s_{i-1} + (x_i - mu)) has "
    "the closed form s_i = prefix_i - min(prefix_<=i, 0), so the "
    "whole detector is TWO window passes (running sum + running min) "
    "— no sequential fold, no UDF — plus the per-user mean joined "
    "back.  max(s) over the series is the drift statistic a "
    "monitoring pipeline thresholds.",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    mu = ev.groupBy("user_id").agg(F.avg("value").alias("mu"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pre = ev.join(F.broadcast(mu), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value") - F.col("mu")).over(w).alias("p"),
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # running min over p-order equals min over the time-prefix only
    # because min is order-insensitive within the frame; use the
    # time-ordered frame for exact prefix-min semantics:
    wt = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = pre.select(
        "user_id",
        (
            F.col("p")
            - F.least(F.lit(0.0), F.min("p").over(wt))
        ).alias("slack"),
    )
    return s.groupBy("user_id").agg(
        F.round(F.max("slack"), 4).alias("cusum_max"),
        (F.max("slack") > 400).alias("shifted"),
    )


@query(
    "touch_attribution",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch,
             CASE WHEN event_type IN ('click', 'view')
                  THEN ts END AS touch_ts
      FROM events
    ), carried AS (
      SELECT user_id, ts, event_id, event_type, value,
             LAST_VALUE(touch IGNORE NULLS) OVER w AS last_touch,
             LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS last_touch_ts
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT COALESCE(CASE WHEN ts - last_touch_ts <= INTERVAL 1 DAY
                         THEN last_touch END, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
            / 100.0) AS attributed_value
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY channel
    """,
    description="Last-touch attribution: each purchase credits the "
    "user's most recent click/view within a 1-day lookback (older "
    "or absent touches fall to 'direct').  The as-of union+window "
    "shape — one shuffle on user_id, LAST_VALUE IGNORE NULLS carries "
    "the touch forward, no per-conversion lookup join — with "
    "cents-exact revenue attribution per channel.",
)
def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.functions.numeric import money_sum

    ev = read_table(spark, sf_dir, "events")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ).alias("touch"),
        F.when(
            F.col("event_type").isin("click", "view"), F.col("ts")
        ).alias("touch_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = flagged.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    channel = F.coalesce(
        F.when(
            F.expr("ts - last_touch_ts <= INTERVAL 1 DAY"),
            F.col("last_touch"),
        ),
        F.lit("direct"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            money_sum("value").alias("attributed_value"),
        )
    )


@query(
    "conversion_lag_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type IN ('click', 'view')
                  THEN event_type END AS touch,
             CASE WHEN event_type IN ('click', 'view')
                  THEN ts END AS touch_ts
      FROM events
    ), carried AS (
      SELECT user_id, ts, event_type,
             LAST_VALUE(touch IGNORE NULLS) OVER w AS last_touch,
             LAST_VALUE(touch_ts IGNORE NULLS) OVER w AS last_touch_ts
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), lags AS (
      SELECT last_touch AS channel,
             CAST(epoch_us(ts) - epoch_us(last_touch_ts) AS BIGINT)
               / 1000000.0 AS lag_s
      FROM carried
      WHERE event_type = 'purchase' AND last_touch_ts IS NOT NULL
        AND ts - last_touch_ts <= INTERVAL 1 DAY
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(lag_s, 0.5), 2) AS p50_lag_s,
           ROUND(quantile_cont(lag_s, 0.9), 2) AS p90_lag_s,
           ROUND(MAX(lag_s), 2) AS max_lag_s
    FROM lags GROUP BY channel
    """,
    description="Conversion-lag distribution: for every attributed "
    "purchase, the time since its last touch, summarized as exact "
    "p50/p90/max per channel — the 'how long does a click take to "
    "convert' latency curve that sizes attribution lookback windows "
    "honestly.  Same single user-ordered window pass as "
    "touch_attribution plus one sort-based percentile aggregate.",
)
def conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ).alias("touch"),
        F.when(
            F.col("event_type").isin("click", "view"), F.col("ts")
        ).alias("touch_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = flagged.select(
        "ts",
        "event_type",
        F.last("touch", ignorenulls=True).over(w).alias("channel"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    lags = carried.filter(
        (F.col("event_type") == "purchase")
        & F.col("last_touch_ts").isNotNull()
        & F.expr("ts - last_touch_ts <= INTERVAL 1 DAY")
    ).select(
        "channel",
        (
            F.expr("timestampdiff(MICROSECOND, last_touch_ts, ts)")
            / 1_000_000.0
        ).alias("lag_s"),
    )
    return lags.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("lag_s", F.lit(0.5)), 2).alias("p50_lag_s"),
        F.round(F.percentile("lag_s", F.lit(0.9)), 2).alias("p90_lag_s"),
        F.round(F.max("lag_s"), 2).alias("max_lag_s"),
    )


# ---------------------------------------------------------------------------
# Exact distinct count over a sliding window (trailing 7 days)
# ---------------------------------------------------------------------------


@query(
    "sliding_distinct_users",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
      SELECT DISTINCT day FROM pairs
    ), contrib AS (
      SELECT DISTINCT d.day AS day, p.user_id
      FROM days d JOIN pairs p
        ON p.day <= d.day AND p.day >= d.day - 6
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS active_users_7d
    FROM contrib GROUP BY day
    """,
    description="Exact trailing-7-day distinct active users per day — "
    "the rolling COUNT(DISTINCT) that SQL window frames cannot "
    "express (DISTINCT is illegal in a frame) and approximate "
    "sketches only estimate.  Scale shape: the corpus first "
    "collapses to distinct (day, user) pairs (one shuffle, output "
    "bounded by days x users, tiny vs raw events), then each pair "
    "EXPLODES into the <=7 target days it can serve "
    "(F.sequence - a narrow map, no nested-loop range join), a "
    "semi-join prunes target days that never occur, and one final "
    "distinct+count per day.  Every step is a hash shuffle on "
    "bounded keys; contrast with the BNLJ a day BETWEEN d-6 AND d "
    "range join would plan.  The DAU/WAU family at 100 TB.",
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = pairs.select("day").distinct()
    contrib = (
        pairs.withColumn(
            "day",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), 6)
                )
            ),
        )
        .join(days, "day", "left_semi")
        .distinct()
    )
    return contrib.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users_7d")
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "active_users_7d",
    )


# ---------------------------------------------------------------------------
# KL divergence of each user's event mix vs the global mix
# ---------------------------------------------------------------------------


@query(
    "kl_event_mix_divergence",
    oracle="""
    WITH per_user AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ), user_tot AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_u
      FROM per_user GROUP BY user_id
    ), gmix AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS g
      FROM events GROUP BY event_type
    ), glob_tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_g FROM events
    )
    SELECT u.user_id, t.n_u AS n_events,
           ROUND(SUM((CAST(u.c AS DOUBLE) / t.n_u)
                     * LN((CAST(u.c AS DOUBLE) / t.n_u)
                          / (CAST(g.g AS DOUBLE) / gt.n_g))), 6)
             AS kl_bits_nat
    FROM per_user u
    JOIN user_tot t ON u.user_id = t.user_id
    JOIN gmix g ON u.event_type = g.event_type
    CROSS JOIN glob_tot gt
    GROUP BY u.user_id, t.n_u
    """,
    description="Per-user KL divergence of the event-type mix vs the "
    "global mix — the behavioral-anomaly screen (bots and scrapers "
    "sit far from the population distribution).  Both distributions "
    "come from integer count aggregates; the global mix is a "
    "|event_types|-row broadcast, the per-user sum ranges over at "
    "most |event_types| terms (order-robust under round(6)), and "
    "every p is a ratio of exact int64 counts — one user-keyed "
    "shuffle total.  KL(user || global) in nats; 0 = "
    "population-typical.",
)
def kl_event_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    user_tot = per_user.groupBy("user_id").agg(
        F.sum("c").alias("n_u")
    )
    glob = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("g"))
    n_g = ev.count()
    p_u = F.col("c").cast("double") / F.col("n_u")
    p_g = F.col("g").cast("double") / F.lit(n_g)
    return (
        per_user.join(user_tot, "user_id")
        .join(F.broadcast(glob), "event_type")
        .groupBy("user_id", "n_u")
        .agg(F.round(F.sum(p_u * F.log(p_u / p_g)), 6).alias("kl_bits_nat"))
        .select(
            "user_id", F.col("n_u").alias("n_events"), "kl_bits_nat"
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve over user lifetimes
# ---------------------------------------------------------------------------


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH life AS (
      SELECT user_id,
             CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                  // 3600000000 AS BIGINT) AS lifetime_h
      FROM events GROUP BY user_id
    ), steps AS (
      SELECT lifetime_h, CAST(COUNT(*) AS BIGINT) AS d_i
      FROM life GROUP BY lifetime_h
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM life
    ), risk AS (
      SELECT lifetime_h, d_i,
             tot.n - COALESCE(SUM(d_i) OVER (ORDER BY lifetime_h
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS n_at_risk
      FROM steps CROSS JOIN tot
    )
    SELECT lifetime_h, n_at_risk, d_i AS d_events,
           ROUND(EXP(SUM(LN(1.0 - CAST(d_i AS DOUBLE) / n_at_risk))
                     OVER (ORDER BY lifetime_h
                           ROWS UNBOUNDED PRECEDING)), 6) AS survival
    FROM risk
    WHERE n_at_risk > d_i
    """,
    description="Kaplan-Meier survival curve over user LIFETIMES "
    "(hours between first and last observed event): the retention "
    "curve with correct at-risk accounting, S(d) = prod(1 - "
    "d_i/n_i).  The corpus collapses to one row per user (min/max "
    "ts in one agg), then to one row per distinct lifetime length — "
    "so the windowed part (at-risk counts by prefix-sum, the "
    "product as exp-sum-ln in lifetime order) runs on a "
    "calendar-bounded table, never the event log; every d_i/n_i is "
    "a ratio of exact int64 counts and the cumulative product is "
    "an ordered prefix over identical doubles on both engines.  "
    "The terminal step (everyone remaining exits, S=0) is excluded "
    "as right-censored.",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.floor(
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
            / 3_600_000_000
        )
        .cast("long")
        .alias("lifetime_h")
    )
    steps = life.groupBy("lifetime_h").agg(
        F.count(F.lit(1)).alias("d_i")
    )
    n = life.count()
    w_prev = (
        W.orderBy("lifetime_h")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = W.orderBy("lifetime_h").rowsBetween(
        W.unboundedPreceding, 0
    )
    risk = steps.withColumn(
        "n_at_risk",
        F.lit(n) - F.coalesce(F.sum("d_i").over(w_prev), F.lit(0)),
    )
    return (
        risk.withColumn(
            "survival",
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            1.0
                            - F.col("d_i").cast("double")
                            / F.col("n_at_risk")
                        )
                    ).over(w_run)
                ),
                6,
            ),
        )
        .filter(F.col("n_at_risk") > F.col("d_i"))
        .select(
            "lifetime_h",
            "n_at_risk",
            F.col("d_i").alias("d_events"),
            "survival",
        )
    )


@query(
    "holt_linear_smoothing",
    oracle="""
    WITH RECURSIVE series AS MATERIALIZED (
      SELECT nk, ROW_NUMBER() OVER (PARTITION BY nk ORDER BY wk) AS idx,
             wk, y
      FROM (
        SELECT c_nationkey AS nk, date_trunc('week', o_orderdate) AS wk,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS DOUBLE) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
      )
    ), s AS (
      SELECT nk, idx, wk, y, y AS level, CAST(0 AS DOUBLE) AS trend
      FROM series WHERE idx = 1
      UNION ALL
      SELECT se.nk, se.idx, se.wk, se.y,
             0.5*se.y + 0.5*(s.level + s.trend) AS level,
             0.5*((0.5*se.y + 0.5*(s.level + s.trend)) - s.level)
               + 0.5*s.trend AS trend
      FROM s JOIN series se ON se.nk = s.nk AND se.idx = s.idx + 1
    )
    SELECT CAST(nk AS BIGINT) AS nation_key, CAST(idx AS BIGINT) AS idx,
           STRFTIME(wk, '%Y-%m-%d') AS week, y AS y_cents,
           level, trend, level + trend AS forecast_next
    FROM s
    """,
    description="Holt double-exponential smoothing (alpha=beta=1/2) of "
    "weekly revenue per nation: level+trend recurrence computed "
    "sequentially inside one Arrow batch per nation (applyInPandas), "
    "bit-identical to the oracle's recursive CTE because both run the "
    "same IEEE-754 expression order on cents-exact inputs — the "
    "sequential recurrence window frames cannot express (EWMA's "
    "closed form does not extend to the coupled trend term).",
)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series sequential recurrence via grouped-map Pandas UDF.

    Spark-first shape: the heavy part — collapsing the fact table to
    (nation, week) revenue — is one partial-aggregated groupBy; the
    genuinely-sequential Holt recurrence then runs per nation inside
    a single Arrow batch (25 small series), the correct use of
    applyInPandas: Python touches |nations| x |weeks| rows, never the
    fact table.  State per series is two doubles, so a 100 TB fact
    table changes only the aggregate stage.  l_t = a*y_t +
    (1-a)(l_{t-1}+b_{t-1}), b_t = b*(l_t-l_{t-1}) + (1-b)*b_{t-1}
    with a = b = 1/2: the expression tree matches the oracle's
    recursive CTE token-for-token, so float64 results are BITWISE
    equal (proven 0-mismatch on 13k rows during design), not merely
    round-close.
    """
    import pandas as pd

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    series = (
        read_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nation_key"),
            F.date_format(
                F.date_trunc("week", F.col("o_orderdate")).cast("date"),
                "yyyy-MM-dd",
            ).alias("week"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("week").reset_index(drop=True)
        y = pdf["cents"].astype("float64").to_numpy()
        level = [0.0] * len(y)
        trend = [0.0] * len(y)
        lv = tr = 0.0
        for i, yi in enumerate(y):
            if i == 0:
                lv, tr = float(yi), 0.0
            else:
                # token-identical to the oracle's recursive member
                lv_new = 0.5 * yi + 0.5 * (lv + tr)
                tr = 0.5 * (lv_new - lv) + 0.5 * tr
                lv = lv_new
            level[i], trend[i] = lv, tr
        return pd.DataFrame(
            {
                "nation_key": pdf["nation_key"],
                "idx": range(1, len(y) + 1),
                "week": pdf["week"],
                "y_cents": y,
                "level": level,
                "trend": trend,
                "forecast_next": [a + b for a, b in zip(level, trend)],
            }
        )

    return series.groupBy("nation_key").applyInPandas(
        smooth,
        schema="nation_key long, idx long, week string, y_cents double, "
        "level double, trend double, forecast_next double",
    )


@query(
    "forecast_backtest_naive",
    oracle="""
    WITH series AS (
      SELECT c_nationkey AS nk,
             date_trunc('week', o_orderdate) AS wk,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), lagged AS (
      SELECT nk, y,
             LAG(y, 1) OVER (PARTITION BY nk ORDER BY wk) AS f_naive,
             LAG(y, 4) OVER (PARTITION BY nk ORDER BY wk) AS f_seasonal
      FROM series
    ), stacked AS (
      SELECT nk, 'naive' AS method, y, f_naive AS f
      FROM lagged WHERE f_naive IS NOT NULL
      UNION ALL
      SELECT nk, 'seasonal_naive' AS method, y, f_seasonal AS f
      FROM lagged WHERE f_seasonal IS NOT NULL
    )
    SELECT CAST(nk AS BIGINT) AS nation_key, method,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(ABS(f - y)) AS DOUBLE) / COUNT(*) / 100.0 AS mae_usd,
           ROUND(AVG(2.0 * ABS(f - y) / (ABS(f) + ABS(y))), 9) AS smape
    FROM stacked GROUP BY 1, 2
    """,
    description="Forecast backtest of the two standard baselines "
    "(naive = last week, seasonal-naive = 4 weeks back) on weekly "
    "revenue per nation: two LAG frames over ONE sorted window pass, "
    "per-(nation, method) MAE from exact integer cents and sMAPE — "
    "the evaluation harness any forecasting operator (Holt, EWMA) "
    "must beat; no model state, one shuffle.",
)
def forecast_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-forecast evaluation as pure window algebra.

    Scale shape: the fact table collapses to |nations| x |weeks|
    rows in one partial-aggregated groupBy; both baselines come from
    the same (nation-partitioned, week-ordered) window sort, so
    Catalyst plans ONE exchange + sort for the two LAGs; errors
    aggregate from exact integer cents (|f - y| stays int64), with
    doubles only in the final normalized metrics — identical IEEE
    order on both engines.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    series = (
        read_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("y")
        )
    )
    w = W.partitionBy("nk").orderBy("wk")
    lagged = series.select(
        "nk",
        "y",
        F.lag("y", 1).over(w).alias("f_naive"),
        F.lag("y", 4).over(w).alias("f_seasonal"),
    )
    stacked = lagged.filter(F.col("f_naive").isNotNull()).select(
        "nk", F.lit("naive").alias("method"), "y", F.col("f_naive").alias("f")
    ).unionAll(
        lagged.filter(F.col("f_seasonal").isNotNull()).select(
            "nk",
            F.lit("seasonal_naive").alias("method"),
            "y",
            F.col("f_seasonal").alias("f"),
        )
    )
    return stacked.groupBy(
        F.col("nk").cast("long").alias("nation_key"), "method"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        # NO round here: the numerator is an exact integer, so the
        # two IEEE divisions are correctly-rounded with identical
        # operands on both engines — bit-identical by construction.
        # (ROUND(double, 9) is NOT: Spark rounds the exact binary
        # expansion via BigDecimal, DuckDB multiplies by 1e9 first,
        # and the two disagree by 1 ulp on real inputs — measured at
        # sf0.01.)
        (
            F.sum(F.abs(F.col("f") - F.col("y"))).cast("double")
            / F.count(F.lit(1))
            / 100.0
        ).alias("mae_usd"),
        F.round(
            F.avg(
                2.0
                * F.abs(F.col("f") - F.col("y"))
                / (F.abs("f") + F.abs("y"))
            ),
            9,
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value curve
# ---------------------------------------------------------------------------


@query(
    "cohort_ltv",
    oracle="""
    WITH first AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ), sized AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM first GROUP BY 1
    ), rev AS (
      SELECT f.cohort,
             (year(o.o_orderdate) - year(f.cohort)) * 12
             + (month(o.o_orderdate) - month(f.cohort)) AS age_months,
             SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS rev_c
      FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT strftime(r.cohort, '%Y-%m') AS cohort_month,
           CAST(r.age_months AS INT) AS age_months,
           s.cohort_users,
           CAST(SUM(r.rev_c) OVER (PARTITION BY r.cohort
                    ORDER BY r.age_months) AS DOUBLE)
             / 100.0 / s.cohort_users AS cum_ltv_per_user
    FROM rev r JOIN sized s ON r.cohort = s.cohort
    """,
    description="Cohort lifetime-value curve: customers cohorted by "
    "first-order month, revenue bucketed by integer cohort age "
    "(exact year*12+month arithmetic — no fractional months_between "
    "drift), cumulative cents per cohort divided by cohort size — "
    "the LTV payback table that prices acquisition.  Scale shape: "
    "the fact table collapses to |cohorts| x |ages| rows in one "
    "partial-aggregated pass after a broadcast of the per-customer "
    "first-order table keyed on the customer (the one genuine "
    "shuffle); the cumulative window runs over the tiny cohort-age "
    "grid.  Completes the retention family (retention_cohorts "
    "counts WHO returns; this prices WHAT they spend).",
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    # NOTE min-then-trunc == trunc-then-min (trunc is monotone), but
    # the oracle writes MIN(trunc(...)); mirror semantics are equal.
    sized = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    f = first.select(
        F.col("o_custkey").alias("f_cust"), F.col("cohort")
    )
    rev = (
        orders.join(f, orders.o_custkey == f.f_cust)
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("age_months"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("rev_c")
        )
    )
    wcum = W.partitionBy("cohort").orderBy("age_months")
    return (
        rev.join(sized, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.col("age_months").cast("int").alias("age_months"),
            F.col("cohort_users").cast("long").alias("cohort_users"),
            # no ROUND: exact-cents numerator -> the bare IEEE
            # division chain is bit-identical cross-engine, while
            # ROUND(double, k) differs by 1 ulp between engines
            # (same fix as forecast_backtest_naive)
            (
                F.sum("rev_c").over(wcum).cast("double")
                / 100.0
                / F.col("cohort_users")
            ).alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# Date-spine densification (zero-fill)
# ---------------------------------------------------------------------------


@query(
    "date_spine_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', MIN(o_orderdate)) AS lo,
             date_trunc('day', MAX(o_orderdate)) AS hi
      FROM orders
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    ), daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1
    )
    SELECT strftime(date_trunc('week', s.day), '%Y-%m-%d') AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN d.rev_c IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active_days,
           (CAST(SUM(COALESCE(d.rev_c, 0)) AS DOUBLE) / 100.0) AS revenue
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    GROUP BY 1
    """,
    description="Date-spine densification (zero-fill): a generated "
    "day spine from the corpus's min to max date LEFT-joins the "
    "daily revenue so silent days EXIST as zero rows, then rolls up "
    "per Monday-start week with day/active-day counts — the "
    "densification step every calendar report and every time-series "
    "model input needs (a groupBy alone silently skips empty "
    "periods, which breaks lag/window features downstream).  "
    "Spark-first: the spine is sequence() + explode off a 1-row "
    "bounds aggregate (no driver loop, no recursive CTE), the join "
    "broadcasts the fact-side DAILY aggregate (|days| rows), and "
    "the fact table itself is touched exactly once.  Calendar-grain "
    "sibling of time_spine_zero_fill (10-minute event buckets): this "
    "one densifies the DAY grain and rolls up to weeks with "
    "active-day counts.",
)
def date_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("d_day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "rev_c"
        )
    )
    return (
        spine.join(F.broadcast(daily), spine.day == daily.d_day, "left")
        .groupBy(
            F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd")
            .alias("week_start")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(
                F.when(F.col("rev_c").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_active_days"),
            (F.sum(F.coalesce("rev_c", F.lit(0))).cast("double") / 100.0).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Top journey paths (3-step sequence mining)
# ---------------------------------------------------------------------------


@query(
    "top_paths_3step",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
    description="Top user-journey paths: sliding 3-step event-type "
    "sequences per user (two LEADs over ONE user-ordered window "
    "pass — Catalyst plans a single exchange+sort for both), counted "
    "globally with distinct-user support, TakeOrdered top-20 — the "
    "path-mining report behind funnel design, generalizing the "
    "Markov transition matrix from pairs to trigram journeys.  "
    "State is |event_types|^3 at most, constant in corpus size.",
)
def top_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Week-over-week active-user overlap
# ---------------------------------------------------------------------------


@query(
    "weekly_active_overlap",
    oracle="""
    WITH active AS (
      SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
    ), sizes AS (
      SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_active FROM active GROUP BY 1
    ), shared AS (
      SELECT a.wk AS wk, CAST(COUNT(*) AS BIGINT) AS n_retained
      FROM active a
      JOIN active b ON b.user_id = a.user_id
                   AND b.wk = a.wk - INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT strftime(s.wk, '%Y-%m-%d') AS week_start,
           s.n_active,
           COALESCE(sh.n_retained, 0) AS n_retained_from_prev,
           CAST(COALESCE(sh.n_retained, 0) AS DOUBLE) / s.n_active
             AS retained_share
    FROM sizes s LEFT JOIN shared sh ON s.wk = sh.wk
    """,
    description="Week-over-week active-user overlap: per week, how "
    "many active users were ALSO active the previous week and the "
    "retained share — the rolling-retention pulse metric "
    "(retention_cohorts tracks cohorts forever; this tracks adjacent-"
    "week stickiness).  Spark-first: one distinct over (week, user) "
    "— the only data-wide shuffle — then a self-equi-join on "
    "(user, week-7d) whose fan-out is bounded by 1 row per user-week "
    "pair; counts partial-aggregate.  The retained share keeps the "
    "bare IEEE division from exact counts (no cross-engine ROUND).",
)
def weekly_active_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    active = ev.select(
        F.date_trunc("week", F.col("ts")).alias("wk"), "user_id"
    ).distinct()
    sizes = active.groupBy("wk").agg(F.count(F.lit(1)).alias("n_active"))
    b = active.select(
        F.col("user_id").alias("b_user"), F.col("wk").alias("b_wk")
    )
    shared = (
        active.join(
            b,
            (F.col("b_user") == F.col("user_id"))
            & (F.col("b_wk") == F.expr("wk - INTERVAL 7 DAY")),
        )
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return (
        sizes.join(shared, "wk", "left")
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            F.col("n_active").cast("long").alias("n_active"),
            F.coalesce("n_retained", F.lit(0))
            .cast("long")
            .alias("n_retained_from_prev"),
            (
                F.coalesce("n_retained", F.lit(0)).cast("double")
                / F.col("n_active")
            ).alias("retained_share"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-union coverage (sweep-line covered time)
# ---------------------------------------------------------------------------

_IUC_WIN_US = 600_000_000  # each event opens a 10-minute activity interval


@query(
    "interval_union_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_IUC_WIN_US} AS e
      FROM events
    ), b AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS d FROM iv
    ), sweep AS (
      SELECT user_id, t,
             SUM(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS running,
             LEAD(t) OVER (PARTITION BY user_id ORDER BY t, d DESC)
               AS nxt
      FROM b
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN running > 0 THEN nxt - t ELSE 0 END)
                AS BIGINT) AS covered_us,
           CAST((SELECT COUNT(*) FROM iv i WHERE i.user_id = sweep.user_id)
                AS BIGINT) AS n_intervals
    FROM sweep
    WHERE nxt IS NOT NULL
    GROUP BY user_id
    ORDER BY covered_us DESC, user_id
    LIMIT 20
    """,
    description="Interval-union coverage by sweep-line: each event "
    "opens a 10-minute activity interval; per user, the UNION length "
    "of those overlapping intervals (total genuinely-active time, "
    "the engagement denominator double-counting naive sums inflate). "
    " The classic +1/-1 boundary sweep — one user-keyed window sort "
    "gives the running open-interval count and each boundary's gap "
    "to the next; covered time = sum of gaps where the count is "
    "positive.  +1 boundaries sort before -1 at equal timestamps, "
    "so half-open [s, e) intervals that touch merge seamlessly.  "
    "All integer microseconds; one shuffle on user_id; sibling of "
    "concurrent_events_peak (same sweep, peak vs measure).",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    us = epoch_micros("ts")
    iv = ev.select("user_id", us.alias("s"), (us + _IUC_WIN_US).alias("e"))
    b = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = W.partitionBy("user_id").orderBy("t", F.desc("d"))
    sweep = b.select(
        "user_id",
        "t",
        F.sum("d").over(w.rowsBetween(W.unboundedPreceding, 0)).alias(
            "running"
        ),
        F.lead("t").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cov = sweep.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("running") > 0, F.col("nxt") - F.col("t")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("covered_us")
    )
    niv = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals")
    )
    return (
        cov.join(niv, "user_id")
        .orderBy(F.desc("covered_us"), "user_id")
        .limit(20)
    )
