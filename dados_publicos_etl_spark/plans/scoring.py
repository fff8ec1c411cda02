"""Business scoring / retail analytics: WOE & information value,
A/B z-scores, decile lift, RFM segmentation, Gini concentration,
Pareto revenue curves, largest-remainder proration, and FIFO lot
allocation.

Split out of plans/mining.py in round 7 (same discipline: every
query oracle-checked, global rankings ride the range-partitioned
machinery in operators/ranking.py — never a SinglePartition window —
and money stays in exact integer cents until one final division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import money_sum, money_sum_sql
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query

# ---------------------------------------------------------------------------
# Weight-of-evidence / information value
# ---------------------------------------------------------------------------


@query(
    "woe_information_value",
    oracle="""
    WITH binned AS (
      SELECT CAST(floor(l_discount * 100 + 0.5) AS INT) AS bucket,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem
    ), per_bucket AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(bad) AS BIGINT) AS n_bad,
             CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good
      FROM binned GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(n_bad) AS DOUBLE) AS tot_bad,
             CAST(SUM(n_good) AS DOUBLE) AS tot_good
      FROM per_bucket
    )
    SELECT bucket, n, n_bad,
           ROUND(ln(((n_good + 0.5) / tot_good)
                    / ((n_bad + 0.5) / tot_bad)), 6) AS woe,
           ROUND(((n_good + 0.5) / tot_good - (n_bad + 0.5) / tot_bad)
                 * ln(((n_good + 0.5) / tot_good)
                      / ((n_bad + 0.5) / tot_bad)), 6) AS iv_contrib
    FROM per_bucket CROSS JOIN tot
    """,
    description="Weight-of-evidence / information-value scoring "
    "(credit-risk feature screening): discount binned to integer "
    "percents, per-bin WOE = ln(good share / bad share) against the "
    "returned-flag label with 0.5 Laplace smoothing, IV contribution "
    "per bin.  One conditional aggregate + a broadcast scalar join — "
    "output is bins, not rows, at any corpus size.  The supervised "
    "binning signal feature pipelines compute before model training.",
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    binned = li.select(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("int").alias("bucket"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    per_bucket = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bad").alias("n_bad"),
        (F.count(F.lit(1)) - F.sum("bad")).alias("n_good"),
    )
    tot = per_bucket.agg(
        F.sum("n_bad").cast("double").alias("tot_bad"),
        F.sum("n_good").cast("double").alias("tot_good"),
    )
    good_share = (F.col("n_good") + 0.5) / F.col("tot_good")
    bad_share = (F.col("n_bad") + 0.5) / F.col("tot_bad")
    woe = F.log(good_share / bad_share)
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "n_bad",
        F.round(woe, 6).alias("woe"),
        F.round((good_share - bad_share) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# Largest-remainder proration (exact integer allocation)
# ---------------------------------------------------------------------------


@query(
    "proration_largest_remainder",
    oracle="""
    WITH cents AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS ext_cents,
             CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS tot_cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), shares AS (
      SELECT l_orderkey, l_linenumber, tot_cents,
             SUM(ext_cents) OVER (PARTITION BY l_orderkey) AS denom,
             tot_cents * ext_cents AS share_num
      FROM cents
    ), floored AS (
      SELECT l_orderkey, l_linenumber, tot_cents,
             share_num // denom AS fl,
             share_num % denom AS rem,
             SUM(share_num // denom) OVER (PARTITION BY l_orderkey)
               AS sum_fl,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY share_num % denom DESC,
                                         l_linenumber) AS rnk
      FROM shares
    )
    SELECT l_orderkey, l_linenumber,
           CAST(fl + CASE WHEN rnk <= tot_cents - sum_fl THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM floored
    """,
    description="Largest-remainder proration: each order's total "
    "spread over its line items proportionally to extended price, "
    "in EXACT integer cents that provably sum back to the order "
    "total (floor the integer shares, hand the leftover cents to "
    "the largest fractional remainders, deterministic tie-break) — "
    "the financial allocation primitive where naive rounding leaks "
    "cents.  Every step is bigint arithmetic (shares as "
    "tot*ext div/mod sum) so no float ordering can flip an "
    "allocation on any engine; two window passes over the order "
    "partition, no joins beyond the fact-dim lookup.",
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cents = li.join(
        orders.select("o_orderkey", "o_totalprice"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("ext_cents"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("tot_cents"),
    )
    worder = Window.partitionBy("l_orderkey")
    shares = cents.select(
        "l_orderkey",
        "l_linenumber",
        "tot_cents",
        F.sum("ext_cents").over(worder).alias("denom"),
        (F.col("tot_cents") * F.col("ext_cents")).alias("share_num"),
    )
    floored = shares.select(
        "l_orderkey",
        "l_linenumber",
        "tot_cents",
        F.expr("share_num div denom").alias("fl"),
        (F.col("share_num") % F.col("denom")).alias("rem"),
    )
    floored = floored.select(
        "*",
        F.sum("fl").over(worder).alias("sum_fl"),
        F.row_number()
        .over(
            Window.partitionBy("l_orderkey").orderBy(
                F.desc("rem"), "l_linenumber"
            )
        )
        .alias("rnk"),
    )
    return floored.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("fl")
            + F.when(
                F.col("rnk") <= F.col("tot_cents") - F.col("sum_fl"), 1
            ).otherwise(0)
        ).alias("alloc_cents"),
    )


# ---------------------------------------------------------------------------
# A/B test z-scores (deterministic assignment, exact moment sums)
# ---------------------------------------------------------------------------


@query(
    "ab_test_zscore",
    oracle="""
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN substr(md5(CAST(user_id AS STRING) || ':ab'), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS variant,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v_cents
      FROM events
    ), moments AS (
      SELECT event_type, variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v_cents) AS BIGINT) AS s1,
             CAST(SUM(v_cents * v_cents) AS BIGINT) AS s2
      FROM assigned GROUP BY event_type, variant
    ), wide AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s1 / (100.0 * a.n) AS mean_a,
             b.s1 / (100.0 * b.n) AS mean_b,
             (a.s2 / 10000.0 - a.n * (a.s1 / (100.0 * a.n))
                              * (a.s1 / (100.0 * a.n))) / (a.n - 1) AS var_a,
             (b.s2 / 10000.0 - b.n * (b.s1 / (100.0 * b.n))
                              * (b.s1 / (100.0 * b.n))) / (b.n - 1) AS var_b
      FROM (SELECT * FROM moments WHERE variant = 'A') a
      JOIN (SELECT * FROM moments WHERE variant = 'B') b
        ON b.event_type = a.event_type
    )
    SELECT event_type, n_a, n_b,
           ROUND(mean_a - mean_b, 4) AS mean_diff,
           ROUND((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4)
             AS z_score
    FROM wide
    """,
    description="Two-sample A/B z-test per metric: users "
    "deterministically split 50/50 by md5 bucket (reproducible on "
    "any engine — the experiment-assignment hash every platform "
    "uses), per-variant moments as EXACT integer cent sums (count / "
    "sum / sum-of-squares are mergeable partials, so the test "
    "statistic comes from one aggregation pass and no float "
    "accumulation order can move it), Welch z = diff / "
    "sqrt(va/na + vb/nb).  The experimentation-platform readout as "
    "one narrow map + one partial-aggregated shuffle.",
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    assigned = ev.select(
        "event_type",
        F.when(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
                1,
                1,
            )
            < "8",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_cents"),
    )
    moments = assigned.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_cents").alias("s1"),
        F.sum(F.col("v_cents") * F.col("v_cents")).alias("s2"),
    )
    a = moments.filter(F.col("variant") == "A").alias("a")
    b = moments.filter(F.col("variant") == "B").alias("b")

    def mean(side):
        return F.col(f"{side}.s1") / (100.0 * F.col(f"{side}.n"))

    def var(side):
        return (
            F.col(f"{side}.s2") / 10000.0
            - F.col(f"{side}.n") * mean(side) * mean(side)
        ) / (F.col(f"{side}.n") - 1)

    z = (mean("a") - mean("b")) / F.sqrt(
        var("a") / F.col("a.n") + var("b") / F.col("b.n")
    )
    return a.join(b, F.col("b.event_type") == F.col("a.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(mean("a") - mean("b"), 4).alias("mean_diff"),
        F.round(z, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Gini concentration per group
# ---------------------------------------------------------------------------


@query(
    "gini_concentration",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x,
             o_orderkey
      FROM orders
    ), ranked AS (
      SELECT o_orderpriority, x,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY x, o_orderkey) AS i
      FROM cents
    ), sums AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND((2.0 * six - (n + 1.0) * sx) / (CAST(n AS DOUBLE) * sx), 6)
             AS gini
    FROM sums
    """,
    description="Gini concentration coefficient of order value per "
    "priority class — the revenue-concentration / inequality metric "
    "(how much of the spend sits in the biggest orders): values as "
    "exact integer cents, ascending rank per group (deterministic "
    "tie-break), G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) from "
    "TWO integer sums — one window pass + one aggregate, no "
    "pairwise |x_i - x_j| join (the naive O(n^2) Gini formula).",
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("x"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("x", "o_orderkey")
    ranked = cents.select(
        "o_orderpriority", "x", F.row_number().over(w).alias("i")
    )
    sums = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    gini = (2.0 * F.col("six") - (F.col("n") + 1.0) * F.col("sx")) / (
        F.col("n").cast("double") * F.col("sx")
    )
    return sums.select(
        "o_orderpriority", "n", F.round(gini, 6).alias("gini")
    )


# ---------------------------------------------------------------------------
# Decile lift table (model-evaluation ranking diagnostic)
# ---------------------------------------------------------------------------


@query(
    "decile_lift_table",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad,
             NTILE(10) OVER (ORDER BY l_discount DESC,
                             l_orderkey, l_linenumber,
                             CASE WHEN l_returnflag = 'R' THEN 1
                                  ELSE 0 END) AS decile
      FROM lineitem
    ), per_decile AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(bad) AS BIGINT) AS n_bad
      FROM scored GROUP BY decile
    ), tot AS (
      SELECT CAST(SUM(n_bad) AS DOUBLE) / SUM(n) AS base_rate
      FROM per_decile
    )
    SELECT decile, n, n_bad,
           ROUND(n_bad / CAST(n AS DOUBLE), 6) AS bad_rate,
           ROUND((n_bad / CAST(n AS DOUBLE)) / t.base_rate, 4) AS lift,
           ROUND(SUM(n_bad) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / (t.base_rate * SUM(n) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                 4) AS cum_lift
    FROM per_decile CROSS JOIN tot t
    """,
    description="Decile lift table — the standard ranking diagnostic "
    "for a scoring model (here: discount as the score, returned-flag "
    "as the outcome): rows ranked into score deciles (deterministic "
    "NTILE tie-break), per-decile capture rate vs the base rate, "
    "plus cumulative lift down the ranking.  Exact integer counts "
    "throughout; the cumulative windows run over the 10-row decile "
    "table.  The fact-scale ranking is the range-partitioned "
    "global row_number (operators/ranking.py) — NO SinglePartition "
    "NTILE window; tile membership is row-local arithmetic on the "
    "rank, reproducing NTILE's piecewise sizes exactly.  Pairs with "
    "woe_information_value as the model-evaluation half of "
    "supervised feature screening.",
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.ranking import (
        ntile_expr,
        ranked_by_range,
    )

    li = read_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    # and tie groups can mix bad flags — append `bad` to the NTILE
    # order (mirrored in the oracle) so any rows still tied are
    # interchangeable w.r.t. the per-decile counts, making the
    # ranking engine-permutation-proof even when a decile boundary
    # lands inside a tie group.
    bad = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    scored = li.select(
        bad.alias("bad"), "l_discount", "l_orderkey", "l_linenumber"
    )
    # Range-partitioned global rank instead of a SinglePartition
    # NTILE window: every partition ranks independently, the only
    # global step is the P-row offset scan (see operators/ranking.py).
    ranked, n_rows, _ = ranked_by_range(
        scored,
        [F.desc("l_discount"), "l_orderkey", "l_linenumber", "bad"],
    )
    tiled = ranked.select("bad", ntile_expr("rn", n_rows, 10).alias("decile"))
    per_decile = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("bad").alias("n_bad")
    )
    tot = per_decile.agg(
        (F.sum("n_bad").cast("double") / F.sum("n")).alias("base_rate")
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_decile.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "n_bad",
        F.round(F.col("n_bad") / F.col("n").cast("double"), 6).alias(
            "bad_rate"
        ),
        F.round(
            (F.col("n_bad") / F.col("n").cast("double"))
            / F.col("base_rate"),
            4,
        ).alias("lift"),
        F.round(
            F.sum("n_bad").over(wcum)
            / (F.col("base_rate") * F.sum("n").over(wcum)),
            4,
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# FIFO lot allocation as a running-sum interval join
# ---------------------------------------------------------------------------


@query(
    "fifo_lot_allocation",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             SUM(CAST(l_quantity AS BIGINT)) OVER w
               - CAST(l_quantity AS BIGINT) AS s_lo,
             SUM(CAST(l_quantity AS BIGINT)) OVER w AS s_hi
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      WINDOW w AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING)
    ), demand AS (
      SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             SUM(CAST(l_quantity AS BIGINT)) OVER w
               - CAST(l_quantity AS BIGINT) AS d_lo,
             SUM(CAST(l_quantity AS BIGINT)) OVER w AS d_hi
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      WINDOW w AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT d.l_partkey AS partkey,
           d.l_orderkey AS demand_orderkey,
           d.l_linenumber AS demand_linenumber,
           s.l_orderkey AS supply_orderkey,
           s.l_linenumber AS supply_linenumber,
           CAST(LEAST(d.d_hi, s.s_hi) - GREATEST(d.d_lo, s.s_lo)
                AS BIGINT) AS matched_qty
    FROM demand d JOIN supply s
      ON d.l_partkey = s.l_partkey
     AND d.d_lo < s.s_hi AND s.s_lo < d.d_hi
    """,
    description="FIFO lot allocation (1996 shipments per part are "
    "supply lots, 1997-Q1 shipments are demands): the allocation "
    "that ERP systems run as a per-row cursor loop, recast as pure "
    "set algebra — running sums per part turn lots and demands into "
    "half-open integer intervals on the part's cumulative-quantity "
    "axis, and FIFO matching IS interval overlap: equi-join on "
    "partkey + two inequality post-filters, matched_qty = "
    "least(hi)-greatest(lo).  Two window passes + one partkey-"
    "partitioned join; no loop, no state, arbitrarily parallel over "
    "parts at 100 TB.  Demand beyond remaining supply simply finds "
    "no overlapping lot — short allocations fall out for free.",
)
def fifo_lot_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")

    def intervals(df: DataFrame, lo: str, hi: str) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        qty = F.col("l_quantity").cast("long")
        run = F.sum(qty).over(w)
        return df.select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            (run - qty).alias(lo),
            run.alias(hi),
        )

    supply = intervals(
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        ),
        "s_lo",
        "s_hi",
    )
    demand = intervals(
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        ),
        "d_lo",
        "d_hi",
    )
    d, s = demand.alias("d"), supply.alias("s")
    return d.join(
        s,
        (F.col("d.l_partkey") == F.col("s.l_partkey"))
        & (F.col("d.d_lo") < F.col("s.s_hi"))
        & (F.col("s.s_lo") < F.col("d.d_hi")),
    ).select(
        F.col("d.l_partkey").alias("partkey"),
        F.col("d.l_orderkey").alias("demand_orderkey"),
        F.col("d.l_linenumber").alias("demand_linenumber"),
        F.col("s.l_orderkey").alias("supply_orderkey"),
        F.col("s.l_linenumber").alias("supply_linenumber"),
        (
            F.least(F.col("d.d_hi"), F.col("s.s_hi"))
            - F.greatest(F.col("d.d_lo"), F.col("s.s_lo"))
        ).alias("matched_qty"),
    )


# ---------------------------------------------------------------------------
# RFM quintile segmentation (customer-base marketing analytics)
# ---------------------------------------------------------------------------


@query(
    "rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS freq,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS monetary_c
      FROM orders GROUP BY 1
    ), q AS (
      SELECT custkey, monetary_c,
             NTILE(5) OVER (ORDER BY last_order DESC, custkey) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, custkey) AS f_q,
             NTILE(5) OVER (ORDER BY monetary_c DESC, custkey) AS m_q
      FROM base
    )
    SELECT r_q AS r_quintile, f_q AS f_quintile, m_q AS m_quintile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           (CAST(SUM(monetary_c) AS DOUBLE) / 100.0) AS sum_monetary
    FROM q GROUP BY 1, 2, 3
    """,
    description="RFM quintile segmentation — the classic customer-"
    "value grid: per-customer recency / frequency / monetary "
    "aggregates (one partial-aggregated groupBy over the fact "
    "table), each dimension ranked into quintiles, then the "
    "125-cell (R,F,M) segment table with counts and revenue.  All "
    "three quintile assignments ride the range-partitioned global "
    "rank + exact NTILE arithmetic (operators/ranking.py) — the "
    "customer base grows with the business, so no SinglePartition "
    "NTILE window anywhere (replaces the earlier rfm_segments, whose "
    "three global NTILEs were exactly the single-partition flaw the "
    "r5 verdict flagged on decile_lift_table).  Deterministic "
    "tie-breaks on custkey make the ranking engine-permutation-"
    "proof.",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.ranking import (
        ntile_expr,
        ranked_by_range,
    )

    orders = read_table(spark, sf_dir, "orders")
    # r12 reshape: ONE ranking pass for all three dimensions.  The
    # previous shape CHAINED three ranked_by_range calls, so ranking
    # k's range-bounds sampling pass and shuffle re-executed ranking
    # k-1's whole window+join subtree, and each range exchange
    # carried the full accumulating row — measured 26 jobs / 3.5 s
    # at sf0.1.  Now the base MELTS into (custkey, dim, keyv,
    # monetary_c) — each dimension's sort key cast to one long
    # (unix_date is a monotone bijection on dates, so per-dimension
    # order is unchanged) — and a SINGLE ranked_by_range over
    # (dim, keyv DESC, custkey) ranks all three dimensions at once:
    # within dimension d the global ranks occupy ((d-1)*n, d*n], so
    # rank-within-dimension is rn - (d-1)*n, pure row-local
    # arithmetic.  One sample pass, one materialized layout, one
    # offsets collect, and one custkey re-group instead of three of
    # each.  The quintile values are EXACTLY the previous ones (same
    # per-dimension total order, same exact-NTILE arithmetic).
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_c"
        ),
    )
    melted = base.select(
        "custkey",
        "monetary_c",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("dim"),
                    # strictly-monotone lossless long encoding of the
                    # TIMESTAMP_NTZ: epoch micros assembled from
                    # FIELD extraction (wall date/hour/minute/exact
                    # decimal seconds) — session-timezone-INDEPENDENT
                    # (an NTZ→LTZ cast would shift with the vanilla
                    # driver session's zone and is non-injective
                    # across historical DST transitions)
                    (
                        F.unix_date(F.col("last_order").cast("date"))
                        .cast("long")
                        * F.lit(86_400_000_000)
                        + F.hour("last_order").cast("long")
                        * F.lit(3_600_000_000)
                        + F.minute("last_order").cast("long")
                        * F.lit(60_000_000)
                        + (
                            F.expr("extract(SECOND FROM last_order)")
                            * 1_000_000
                        ).cast("long")
                    ).alias("keyv"),
                ),
                F.struct(
                    F.lit(2).alias("dim"),
                    F.col("freq").cast("long").alias("keyv"),
                ),
                F.struct(
                    F.lit(3).alias("dim"),
                    F.col("monetary_c").cast("long").alias("keyv"),
                ),
            )
        ).alias("dk"),
    ).select("custkey", "monetary_c", "dk.dim", "dk.keyv")
    ranked, total, _ = ranked_by_range(
        melted, ["dim", F.desc("keyv"), "custkey"]
    )
    n = total // 3
    tiled = ranked.withColumn(
        "rn_in_dim",
        F.col("rn") - (F.col("dim") - 1).cast("long") * F.lit(int(n)),
    ).select(
        "custkey",
        "monetary_c",
        "dim",
        ntile_expr("rn_in_dim", n, 5).alias("tile"),
    )
    q = tiled.groupBy("custkey").agg(
        F.max(F.when(F.col("dim") == 1, F.col("tile"))).alias("r_quintile"),
        F.max(F.when(F.col("dim") == 2, F.col("tile"))).alias("f_quintile"),
        F.max(F.when(F.col("dim") == 3, F.col("tile"))).alias("m_quintile"),
        F.max("monetary_c").alias("monetary_c"),
    )
    return q.groupBy("r_quintile", "f_quintile", "m_quintile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("monetary_c").cast("double") / 100.0).alias("sum_monetary"),
    )


# ---------------------------------------------------------------------------
# Pareto revenue concentration curve (global prefix sum, no global window)
# ---------------------------------------------------------------------------

_PARETO_PCTS = (1, 5, 10, 25, 50)


@query(
    "pareto_revenue_curve",
    oracle=f"""
    WITH ranked AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER w AS rn,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM orders
      WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM ranked
    )
    SELECT pct,
           CAST(r.rn AS BIGINT) AS n_orders,
           CAST(r.cum AS DOUBLE) / t.s AS revenue_share
    FROM tot t,
         UNNEST([{', '.join(str(p) for p in _PARETO_PCTS)}]) AS u(pct)
    JOIN ranked r ON r.rn = (t.n * pct + 99) // 100
    ORDER BY pct
    """,
    description="Pareto revenue-concentration curve: the share of "
    "total revenue carried by the top 1/5/10/25/50% of orders — the "
    "'do 20% of orders make 80% of revenue?' readout.  The global "
    "rank AND the global running revenue both come from "
    "ranked_by_range (operators/ranking.py): per-range-"
    "partition local cumsum + broadcast per-partition value offsets "
    "— the scalable form of SUM() OVER (ORDER BY ...), whose naive "
    "plan funnels the whole fact table through one task.  Exact "
    "integer cents throughout; the share is a bare IEEE division of "
    "exact totals.  Plan-pinned SinglePartition-free.",
)
def pareto_revenue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    ranked, n, (s,) = ranked_by_range(
        orders, [F.desc("o_totalprice"), "o_orderkey"], ["cents"]
    )
    # one output row PER pct even when two pcts land on the same rank
    # (small n): a broadcast (pct, target-rank) dimension joined on rn,
    # mirroring the oracle's UNNEST-then-JOIN — never a dict keyed by
    # rank, which collapses colliding pcts to one row
    pcts = spark.createDataFrame(
        [(p, (n * p + 99) // 100) for p in _PARETO_PCTS],
        "pct int, __rn_t bigint",
    )
    return (
        ranked.join(
            F.broadcast(pcts), F.col("rn") == F.col("__rn_t"), "inner"
        )
        .select(
            "pct",
            F.col("rn").cast("long").alias("n_orders"),
            (F.col("cum_cents").cast("double") / float(s)).alias(
                "revenue_share"
            ),
        )
        .orderBy("pct")
    )
