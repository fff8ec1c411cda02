"""Time-series analytics over the calendar-bounded daily/event
tables: seasonal decomposition, linear gap interpolation, resetting
counters, time-decay aggregates, correlation matrices, rolling exact
medians, bidirectional nearest-event joins, autocorrelation, and
rolling-MAD anomaly flags.

Split out of plans/mining.py in round 7 (same discipline: every
query oracle-checked, fact tables collapse to calendar-bounded
intermediates before any window runs, floats are single divisions of
exact integer/DECIMAL moments rounded identically on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import (
    epoch_micros,
    money_sum,
    money_sum_sql,
)
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query

# ---------------------------------------------------------------------------
# Classical seasonal decomposition (trend + day-of-week + residual)
# ---------------------------------------------------------------------------


@query(
    "seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), windowed AS (
      SELECT event_type, day, n,
             SUM(n) OVER w AS sum7, COUNT(*) OVER w AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detrended AS (
      SELECT event_type, day, n,
             CASE WHEN cnt7 = 7 THEN sum7 END AS sum7,
             CASE WHEN cnt7 = 7 THEN 7 * n - sum7 END AS det7,
             isodow(day) AS dow
      FROM windowed
    ), seasonal AS (
      SELECT event_type, dow,
             CAST(SUM(det7) AS DOUBLE) / (7.0 * COUNT(det7)) AS s
      FROM detrended WHERE det7 IS NOT NULL
      GROUP BY event_type, dow
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           d.n,
           ROUND(d.sum7 / 7.0, 4) AS trend,
           ROUND(s.s, 4) AS seasonal,
           ROUND(d.n - d.sum7 / 7.0 - s.s, 4) AS residual
    FROM detrended d JOIN seasonal s
      ON s.event_type = d.event_type AND s.dow = d.dow
    WHERE d.sum7 IS NOT NULL
    """,
    description="Classical additive seasonal decomposition of the "
    "daily event series per type: trend = centered 7-day moving "
    "average, seasonal = mean day-of-week deviation from trend, "
    "residual = remainder.  Engine-exactness trick: the detrended "
    "series is kept as the INTEGER 7*n - sum7 so the seasonal means "
    "are order-independent integer sums divided once — no floating "
    "accumulation can diverge between Spark's partial aggregation "
    "and the oracle's scan.  Two window passes + one broadcast join; "
    "at 100 TB the daily aggregate is tiny regardless of event "
    "volume (days x types rows).",
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    windowed = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("sum7_raw"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
    )
    full = F.col("cnt7") == 7
    detrended = windowed.select(
        "event_type",
        "day",
        "n",
        F.when(full, F.col("sum7_raw")).alias("sum7"),
        F.when(full, 7 * F.col("n") - F.col("sum7_raw")).alias("det7"),
        (F.weekday("day") + 1).alias("dow"),
    )
    seasonal = (
        detrended.filter(F.col("det7").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            (
                F.sum("det7").cast("double")
                / (7.0 * F.count("det7"))
            ).alias("s")
        )
    )
    return (
        detrended.filter(F.col("sum7").isNotNull())
        .join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.round(F.col("sum7") / 7.0, 4).alias("trend"),
            F.round(F.col("s"), 4).alias("seasonal"),
            F.round(
                F.col("n") - F.col("sum7") / 7.0 - F.col("s"), 4
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# Linear interpolation between sparse anchors
# ---------------------------------------------------------------------------


@query(
    "time_interpolate_linear",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS us,
             CASE WHEN event_id % 5 = 0 THEN value END AS a_val,
             CASE WHEN event_id % 5 = 0 THEN epoch_us(ts) END AS a_us
      FROM events
    ), spanned AS (
      SELECT event_id, user_id, us,
             last_value(a_val IGNORE NULLS) OVER wp AS prev_val,
             last_value(a_us  IGNORE NULLS) OVER wp AS prev_us,
             first_value(a_val IGNORE NULLS) OVER wn AS next_val,
             first_value(a_us  IGNORE NULLS) OVER wn AS next_us
      FROM base
      WINDOW
        wp AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           ROUND(CASE
             WHEN prev_us IS NULL THEN next_val
             WHEN next_us IS NULL THEN prev_val
             WHEN next_us = prev_us THEN prev_val
             ELSE prev_val + (next_val - prev_val)
                  * ((us - prev_us) / CAST(next_us - prev_us AS DOUBLE))
           END, 4) AS value_interp
    FROM spanned
    WHERE prev_us IS NOT NULL OR next_us IS NOT NULL
    """,
    description="Linear interpolation between sparse anchor "
    "observations (every 5th event is a deterministic 'sensor "
    "reading'; the rest get time-weighted values between the "
    "bracketing anchors, edge rows clamp to the nearest anchor) — "
    "the gap-fill a feature-store backfill needs beyond "
    "window_fill_forward's step function.  TWO window passes (last "
    "non-null backward, first non-null forward) — no self-join, no "
    "per-row anchor lookup; interpolation arithmetic is identical "
    "IEEE ops on both engines so results hash-match exactly.",
)
def time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    us = epoch_micros("ts")
    anchor = F.col("event_id") % 5 == 0
    base = ev.select(
        "event_id",
        "user_id",
        us.alias("us"),
        F.when(anchor, F.col("value")).alias("a_val"),
        F.when(anchor, us).alias("a_us"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    spanned = base.select(
        "event_id",
        "user_id",
        "us",
        F.last("a_val", ignorenulls=True).over(wp).alias("prev_val"),
        F.last("a_us", ignorenulls=True).over(wp).alias("prev_us"),
        F.first("a_val", ignorenulls=True).over(wn).alias("next_val"),
        F.first("a_us", ignorenulls=True).over(wn).alias("next_us"),
    )
    frac = (F.col("us") - F.col("prev_us")) / (
        F.col("next_us") - F.col("prev_us")
    ).cast("double")
    interp = (
        F.when(F.col("prev_us").isNull(), F.col("next_val"))
        .when(F.col("next_us").isNull(), F.col("prev_val"))
        .when(F.col("next_us") == F.col("prev_us"), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val")) * frac
        )
    )
    return spanned.filter(
        F.col("prev_us").isNotNull() | F.col("next_us").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.round(interp, 4).alias("value_interp"),
    )


# ---------------------------------------------------------------------------
# Counter since last marker event
# ---------------------------------------------------------------------------


@query(
    "events_since_marker",
    oracle="""
    WITH marked AS (
      SELECT event_id, user_id, event_type,
             SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS epoch,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN epoch = 0 THEN -1
                ELSE rn - MIN(rn) OVER (PARTITION BY user_id, epoch)
                END AS BIGINT) AS events_since_signup
    FROM marked
    """,
    description="Resetting counter — events since the user's last "
    "'signup' marker (-1 before any marker): the conditional "
    "running sum assigns a monotone epoch id per marker, and the "
    "position within the epoch is rn - min(rn) — two window passes "
    "over the same user partition, no self-join, no per-row marker "
    "lookup.  The counter-with-reset recurrence (retries since "
    "success, actions since login) that naive implementations "
    "solve with a correlated subquery per row.",
)
def events_since_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "event_id",
        "user_id",
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        )
        .over(w)
        .alias("epoch"),
        F.row_number().over(wo).alias("rn"),
    )
    we = W.partitionBy("user_id", "epoch")
    return marked.select(
        "event_id",
        "user_id",
        F.when(F.col("epoch") == 0, F.lit(-1))
        .otherwise(F.col("rn") - F.min("rn").over(we))
        .cast("long")
        .alias("events_since_signup"),
    )


# ---------------------------------------------------------------------------
# Time-decay weighted revenue
# ---------------------------------------------------------------------------


@query(
    "time_decay_weighted_revenue",
    oracle="""
    WITH terms AS (
      SELECT o_orderpriority,
             CAST(ROUND(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                        * exp(-date_diff('day', CAST(o_orderdate AS DATE),
                                         DATE '2002-01-01') / 365.0),
                        0) AS BIGINT) AS term_cents
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(SUM(term_cents) AS DOUBLE) / 100.0 AS decayed_revenue
    FROM terms GROUP BY o_orderpriority
    """,
    description="Exponential time-decay weighted revenue per priority "
    "(half-life ~253 days): each order's cents scaled by "
    "exp(-age/365) and ROUNDED TO INTEGER CENTS PER ROW before "
    "summation, so the aggregate is an order-independent bigint sum "
    "— the recency-weighted KPI (customer value decay, trending "
    "revenue) computed in one pass with no float-accumulation "
    "drift on any engine or partitioning.",
)
def time_decay_weighted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    age_days = F.datediff(
        F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
    )
    term = F.round(
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        * F.exp(-age_days / F.lit(365.0)),
        0,
    ).cast("long")
    return (
        orders.select("o_orderpriority", term.alias("term_cents"))
        .groupBy("o_orderpriority")
        .agg(
            (F.sum("term_cents").cast("double") / 100.0).alias(
                "decayed_revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Correlation matrix between daily series
# ---------------------------------------------------------------------------


@query(
    "correlation_matrix_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), paired AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS x, b.n AS y
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
    ), moments AS (
      SELECT type_a, type_b,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM paired GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))), 6)
             AS pearson_r
    FROM moments
    """,
    description="Pearson correlation matrix between the daily volume "
    "series of every event-type pair: the corpus collapses to a "
    "(days x types) table first, pairs align on day with a "
    "type_a < type_b self-join, and r comes from EXACT integer "
    "moment sums (sum, sum-of-squares, cross-product) divided once "
    "— mergeable partials, no float accumulation, engine-identical.  "
    "The metric-correlation screen (which signals co-move?) whose "
    "cost is independent of event volume after the first aggregate.",
)
def correlation_matrix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("x"),
        F.col("b.n").alias("y"),
    )
    m = paired.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        "type_a",
        "type_b",
        "n_days",
        F.round(num / den, 6).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Rolling median (exact aggregate-as-window over a sliding frame)
# ---------------------------------------------------------------------------


@query(
    "rolling_median",
    oracle="""
    SELECT event_id,
           ROUND(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS med7
    FROM events
    """,
    description="Rolling EXACT median over a 7-observation sliding "
    "frame per user — the robust smoother (resistant to the spikes "
    "a moving average chases): Spark's percentile aggregate runs as "
    "a WINDOW function over a ROWS frame, matched against DuckDB's "
    "quantile_cont with identical linear interpolation, proving the "
    "exact-median-in-frame semantics across engines.  One window "
    "shuffle on user_id; each frame holds <= 7 values so the "
    "per-row sort is O(1).",
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "round(percentile(value, 0.5) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS med7",
    )


# ---------------------------------------------------------------------------
# Bidirectional nearest-event join
# ---------------------------------------------------------------------------


@query(
    "nearest_event_join",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
             CASE WHEN event_type = 'click' THEN event_id END AS c_id,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS c_us
      FROM events WHERE event_type IN ('purchase', 'click')
    ), spanned AS (
      SELECT event_id, user_id, event_type, us,
             last_value(c_id IGNORE NULLS) OVER wp AS prev_id,
             last_value(c_us IGNORE NULLS) OVER wp AS prev_us,
             first_value(c_id IGNORE NULLS) OVER wn AS next_id,
             first_value(c_us IGNORE NULLS) OVER wn AS next_us
      FROM base
      WINDOW
        wp AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wn AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(CASE
             WHEN prev_us IS NULL THEN next_id
             WHEN next_us IS NULL THEN prev_id
             WHEN us - prev_us <= next_us - us THEN prev_id
             ELSE next_id END AS BIGINT) AS nearest_click_id,
           CAST(CASE
             WHEN prev_us IS NULL THEN next_us - us
             WHEN next_us IS NULL THEN us - prev_us
             WHEN us - prev_us <= next_us - us THEN us - prev_us
             ELSE next_us - us END AS BIGINT) AS gap_us
    FROM spanned
    WHERE event_type = 'purchase'
      AND (prev_us IS NOT NULL OR next_us IS NOT NULL)
    """,
    description="Bidirectional nearest-event join: each purchase "
    "matched to the user's temporally CLOSEST click — before or "
    "after, ties to the earlier one — completing the as-of family "
    "(asof_join_events is backward-only).  Same union+window shape: "
    "one shuffle on user_id, a backward and a forward IGNORE NULLS "
    "window carry the candidate from each side, a row-local CASE "
    "picks the closer — no per-purchase lookup join, no interval "
    "product.  The microsecond arithmetic is integer, so the "
    "choice is engine-exact.",
)
def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    us = epoch_micros("ts")
    click = F.col("event_type") == "click"
    base = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        F.when(click, F.col("event_id")).alias("c_id"),
        F.when(click, us).alias("c_us"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    s = base.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.last("c_id", ignorenulls=True).over(wp).alias("prev_id"),
        F.last("c_us", ignorenulls=True).over(wp).alias("prev_us"),
        F.first("c_id", ignorenulls=True).over(wn).alias("next_id"),
        F.first("c_us", ignorenulls=True).over(wn).alias("next_us"),
    )
    prev_closer = (F.col("us") - F.col("prev_us")) <= (
        F.col("next_us") - F.col("us")
    )
    pick_id = (
        F.when(F.col("prev_us").isNull(), F.col("next_id"))
        .when(F.col("next_us").isNull(), F.col("prev_id"))
        .when(prev_closer, F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    pick_gap = (
        F.when(F.col("prev_us").isNull(), F.col("next_us") - F.col("us"))
        .when(F.col("next_us").isNull(), F.col("us") - F.col("prev_us"))
        .when(prev_closer, F.col("us") - F.col("prev_us"))
        .otherwise(F.col("next_us") - F.col("us"))
    )
    return s.filter(
        (F.col("event_type") == "purchase")
        & (F.col("prev_us").isNotNull() | F.col("next_us").isNotNull())
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        pick_id.cast("long").alias("nearest_click_id"),
        pick_gap.cast("long").alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "acf_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), lags AS (
      SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(lag)
    ), paired AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag
    ), moments AS (
      SELECT lag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy,
             SUM(x * y) AS sxy
      FROM paired GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS acf
    FROM moments
    """,
    description="Autocorrelation function (lags 1-7) of the daily "
    "revenue series in correlation form — the seasonality detector "
    "behind 'is there a weekly cycle?'.  Calendar-lag pairs come "
    "from a distributed EQUI-join (b.day = a.day + k after a 7-row "
    "lag-dimension explode), not a single-partition LAG window and "
    "not a range join, so the pairing shuffles on date keys and "
    "survives gaps in the calendar.  Moments are exact fixed-point: "
    "cents as decimal(38,0) in Spark / HUGEINT in DuckDB, so "
    "sum-of-products never sees float accumulation and never "
    "overflows int64 even at sf100-scale daily revenue; one double "
    "division at the end, rounded on both engines.",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("decimal(18,0)")
        .alias("x")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.alias("a").crossJoin(F.broadcast(lags)).select(
        F.expr("date_add(a.day, lag)").alias("target_day"),
        "lag",
        F.col("a.x").alias("x"),
    )
    b = daily.select(
        F.col("day").alias("b_day"), F.col("x").alias("y")
    )
    paired = a.join(b, F.col("target_day") == F.col("b_day")).select(
        "lag", "x", "y"
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Rolling-MAD robust anomaly detection
# ---------------------------------------------------------------------------

_MAD_HALF = 7   # centered 15-day window
_MAD_K = 3.0    # flag |x - med| > K * MAD


@query(
    "rolling_mad_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1
    ), contrib AS (
      SELECT day + o * INTERVAL 1 DAY AS center, rev_c
      FROM daily, UNNEST(generate_series(-{_MAD_HALF}, {_MAD_HALF})) AS u(o)
    ), win AS (
      SELECT center, list_sort(list(rev_c)) AS vs
      FROM contrib GROUP BY center
    ), med AS (
      SELECT center, vs, len(vs) AS n,
             (vs[(len(vs) + 1) // 2] + vs[len(vs) // 2 + 1]) / 2.0 AS med
      FROM win
    ), stats AS (
      SELECT center, med, n,
             (SELECT (ds[(n + 1) // 2] + ds[n // 2 + 1]) / 2.0
              FROM (SELECT list_sort(list_transform(vs,
                      v -> abs(v - med))) AS ds)) AS mad
      FROM med
    )
    SELECT d.day, (CAST(d.rev_c AS DOUBLE) / 100.0) AS revenue,
           s.med / 100.0 AS med_revenue,
           s.mad / 100.0 AS mad_revenue,
           CAST(s.n AS INT) AS n_window,
           abs(d.rev_c - s.med) > {_MAD_K} * s.mad AS is_anomaly
    FROM daily d JOIN stats s ON d.day = s.center
    """,
    description="Rolling-MAD anomaly detection on daily revenue — "
    "the robust monitoring detector (median/MAD shrug off the very "
    "outliers a mean/sigma z-score chases): each day's revenue is "
    "compared against the exact median and median-absolute-deviation "
    f"of its centered {2 * _MAD_HALF + 1}-day window, flagged past "
    f"{_MAD_K}x MAD.  Spark-first shape: the fact table collapses to "
    "the day series in one partial-aggregated groupBy; the window is "
    "an OFFSET EXPLODE on that tiny series (the sliding-distinct "
    "trick — never a per-row subquery), one groupBy(center) builds "
    "the sorted window array, and median/MAD are exact element "
    "arithmetic on integer cents (interpolated medians land on .5 "
    "halves, exactly representable — bit-identical cross-engine, no "
    "float summation anywhere).",
)
def rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "rev_c"
        )
    )
    offs = F.sequence(F.lit(-_MAD_HALF), F.lit(_MAD_HALF))
    contrib = daily.select(
        F.explode(offs).alias("o"), "day", "rev_c"
    ).select(
        F.expr("timestampadd(DAY, o, day)").alias("center"), "rev_c"
    )
    win = contrib.groupBy("center").agg(
        F.sort_array(F.collect_list("rev_c")).alias("vs")
    )
    n = F.size("vs")
    med = (
        F.element_at("vs", ((n + 1) / 2).cast("int"))
        + F.element_at("vs", (n / 2).cast("int") + 1)
    ) / 2.0
    stats = win.select("center", n.alias("n"), med.alias("med"), "vs")
    ds = F.sort_array(
        F.transform(F.col("vs"), lambda v: F.abs(v - F.col("med")))
    )
    stats = stats.select(
        "center",
        "n",
        "med",
        (
            (
                F.element_at(ds, ((F.col("n") + 1) / 2).cast("int"))
                + F.element_at(ds, (F.col("n") / 2).cast("int") + 1)
            )
            / 2.0
        ).alias("mad"),
    )
    return daily.join(stats, daily.day == stats.center).select(
        "day",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (F.col("med") / 100.0).alias("med_revenue"),
        (F.col("mad") / 100.0).alias("mad_revenue"),
        F.col("n").cast("int").alias("n_window"),
        (F.abs(F.col("rev_c") - F.col("med")) > _MAD_K * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


