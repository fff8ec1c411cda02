"""Third statistics wave (round 7): the hypothesis-testing and
model-audit operators that complete the §2.B evaluation families —
Mann-Whitney U (rank-sum drift test over the range-partitioned rank
machinery), McNemar's paired-filter agreement test, and the NB score
reliability (confidence-vs-accuracy calibration) table.

Same discipline as plans/stats2.py: every query oracle-checked at
birth, fact tables collapse to BOUNDED intermediates (value tie
groups, deciles, 2x2 discordance cells) before any window runs, the
one data-scale ordered scan rides operators/ranking.py (never a
SinglePartition window), and every float is a single division of
exact integers rounded identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import leading_zero_rank
from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.operators.ranking import (
    ntile_expr,
    ranked_by_range,
)
from dados_publicos_etl_spark.plans.registry import QUERIES, query
from dados_publicos_etl_spark.session import machine_sized_shuffle

# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (tie-corrected, no SinglePartition)
# ---------------------------------------------------------------------------

_MW_A = "1-URGENT"
_MW_B = "5-LOW"


@query(
    "mann_whitney_u",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS val,
             o_orderpriority AS pr
      FROM orders WHERE o_orderpriority IN ('{_MW_A}', '{_MW_B}')
    ), ties AS (
      SELECT val,
             CAST(SUM(CASE WHEN pr = '{_MW_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN pr = '{_MW_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM cents GROUP BY val
    ), sizes AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2
      FROM ties
    ), cum AS (
      SELECT c1, (c1 + c2) AS t,
             SUM(c1 + c2) OVER (ORDER BY val) AS cumt
      FROM ties
    ), stats AS (
      SELECT CAST(SUM(c1 * (2 * cumt - t + 1)) AS BIGINT) AS r2a,
             CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
               AS tie3
      FROM cum
    )
    SELECT s.n1, s.n2,
           CAST(st.r2a - s.n1 * (s.n1 + 1) AS BIGINT) AS u2a,
           ROUND(
             (CAST(st.r2a - s.n1 * (s.n1 + 1) AS DOUBLE) - s.n1 * s.n2)
             / (2 * sqrt(
                 (CAST(s.n1 AS DOUBLE) * s.n2 / 12.0)
                 * ((s.n1 + s.n2 + 1)
                    - CAST(st.tie3 AS DOUBLE)
                      / (CAST(s.n1 + s.n2 AS DOUBLE)
                         * (s.n1 + s.n2 - 1))))),
             6) AS z
    FROM stats st CROSS JOIN sizes s
    """,
    description="Mann-Whitney U rank-sum test between the order-value "
    f"distributions of '{_MW_A}' and '{_MW_B}' orders — the "
    "nonparametric location test completing the hypothesis-testing "
    "family (KS tests the whole ECDF shape; MWU tests stochastic "
    "dominance, the question 'did values shift?' a drift monitor "
    "actually asks).  Scale shape: the facts collapse to the value "
    "TIE-GROUP table in one hash aggregate; doubled midranks come "
    "from the running tie count (r2 = 2*below + t + 1, integer-exact "
    "on both engines), and the one data-scale ordered scan — the "
    "cumulative tie count over values — rides ranked_by_range "
    "(range partitions + broadcast offsets, NO SinglePartition "
    "window).  The tie-corrected normal approximation "
    "z = (U - n1n2/2) / sqrt(n1n2/12 ((N+1) - sum(t^3-t)/(N(N-1)))) "
    "is one double expression over exact integer moments (tie cubes "
    "accumulate as DECIMAL(38,0)/HUGEINT — the Cramer discipline), "
    "rounded identically.  Output: exact doubled rank statistic "
    "2*U_a and z.",
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.filter(
        F.col("o_orderpriority").isin(_MW_A, _MW_B)
    ).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("val"),
        F.col("o_orderpriority").alias("pr"),
    )
    ties = cents.groupBy("val").agg(
        F.sum(F.when(F.col("pr") == _MW_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("pr") == _MW_B, 1).otherwise(0)).alias("c2"),
    )
    n1, n2 = ties.agg(F.sum("c1"), F.sum("c2")).first()
    if n1 is None:  # no order of either priority: the oracle's NULL row
        return spark.createDataFrame(
            [(None,) * 4], "n1 int, n2 int, u2a long, z double"
        )
    pooled = ties.withColumn("t", F.col("c1") + F.col("c2"))
    cum, _, _ = ranked_by_range(pooled, [F.col("val")], ["t"])
    stats = cum.agg(
        F.sum(
            F.col("c1") * (2 * F.col("cum_t") - F.col("t") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie3"),
    )
    nn = n1 + n2
    u2a = F.col("r2a") - F.lit(n1 * (n1 + 1))
    var_u = (F.lit(float(n1) * n2 / 12.0)) * (
        F.lit(float(nn + 1))
        - F.col("tie3").cast("double") / F.lit(float(nn) * (nn - 1))
    )
    return stats.select(
        F.lit(n1).alias("n1"),
        F.lit(n2).alias("n2"),
        u2a.cast("long").alias("u2a"),
        F.round(
            (u2a.cast("double") - F.lit(float(n1) * n2))
            / (2 * F.sqrt(var_u)),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# McNemar's test: do two corpus quality filters disagree systematically?
# ---------------------------------------------------------------------------

_MC_LEN_MIN = 150  # chars: the cheap length gate
_MC_W_LO, _MC_W_HI = 20, 90  # words: the Gopher word-count rule


@query(
    "mcnemar_filter_agreement",
    oracle=rf"""
    WITH flags AS (
      SELECT doc_id,
             (n_chars >= {_MC_LEN_MIN}) AS f_len,
             (len(string_split_regex(lower(text), '\s+'))
                BETWEEN {_MC_W_LO} AND {_MC_W_HI}) AS f_words
      FROM documents
    ), cells AS (
      SELECT
        CAST(SUM(CASE WHEN f_len AND f_words THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both_pass,
        CAST(SUM(CASE WHEN NOT f_len AND NOT f_words THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both_fail,
        CAST(SUM(CASE WHEN f_len AND NOT f_words THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN NOT f_len AND f_words THEN 1 ELSE 0 END)
             AS BIGINT) AS c
      FROM flags
    )
    SELECT n_both_pass, n_both_fail, b, c,
           ROUND(CASE WHEN b + c = 0 THEN 0.0
                 ELSE CAST((b - c) * (b - c) AS DOUBLE) / (b + c) END,
                 6) AS mcnemar_chi2
    FROM cells
    """,
    description="McNemar's test between two PAIRED corpus quality "
    "filters (the char-length gate vs the Gopher word-count rule) on "
    "the same documents — the statistic that answers 'do these two "
    "filters disagree SYSTEMATICALLY, or just randomly?' before one "
    "replaces the other in a pipeline.  Chi-square tests need "
    "independent samples; filters applied to the SAME rows are "
    "paired, and only the discordant cells carry signal: "
    "chi2 = (b-c)^2/(b+c) over the filter-disagreement counts.  One "
    "conditional aggregate produces the whole 2x2 table (the Cohen's "
    "kappa shape) — exact integers, one division, no shuffle beyond "
    "the scalar merge.  Completes the classifier-evaluation family "
    "with the paired-comparison member (AUC ranks one model, "
    "P/R/F1 scores one model, kappa measures agreement strength, "
    "McNemar decides if a disagreement is significant).",
)
def mcnemar_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    flags = docs.select(
        (F.col("n_chars") >= _MC_LEN_MIN).alias("f_len"),
        F.size(tokens("text")).between(_MC_W_LO, _MC_W_HI).alias("f_words"),
    )
    cells = flags.agg(
        F.sum(
            F.when(F.col("f_len") & F.col("f_words"), 1).otherwise(0)
        ).alias("n_both_pass"),
        F.sum(
            F.when(~F.col("f_len") & ~F.col("f_words"), 1).otherwise(0)
        ).alias("n_both_fail"),
        F.sum(
            F.when(F.col("f_len") & ~F.col("f_words"), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(~F.col("f_len") & F.col("f_words"), 1).otherwise(0)
        ).alias("c"),
    )
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
            "double"
        )
        / (F.col("b") + F.col("c"))
    )
    return cells.select(
        F.col("n_both_pass").cast("long").alias("n_both_pass"),
        F.col("n_both_fail").cast("long").alias("n_both_fail"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# NB score reliability: confidence-vs-accuracy calibration by decile
# ---------------------------------------------------------------------------


def _nb_reliability_oracle() -> str:
    nb = QUERIES["nb_classifier_train_score"].oracle
    return f"""
    WITH preds AS ({nb}),
    tiled AS (
      SELECT CAST(correct AS INT) AS ok,
             CAST(score AS DECIMAL(38,4)) AS sc,
             NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM preds
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ok) AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(ok) AS DOUBLE) / COUNT(*), 6) AS accuracy,
           ROUND(CAST(SUM(sc) AS DOUBLE) / COUNT(*), 4) AS mean_score
    FROM tiled GROUP BY decile ORDER BY decile
    """


@query(
    "nb_score_reliability",
    oracle=_nb_reliability_oracle(),
    description="Score-reliability (confidence-vs-accuracy) table for "
    "the Naive Bayes classifier: held-out predictions bucket into 10 "
    "score deciles and each decile reports its empirical accuracy "
    "next to its mean winning score — the model-card calibration "
    "readout ('is the model MORE accurate where it is MORE "
    "confident?') that isotonic_calibration consumes and "
    "decile_lift_table mirrors for targeting.  Scale shape: the only "
    "data-scale work is the already-oracle-checked NB scoring "
    "pipeline; the decile assignment rides the range-partitioned "
    "global rank + exact-NTILE arithmetic (operators/ranking.py — NO "
    "SinglePartition window), and per-decile means are exact: scores "
    "are 4-dp-rounded, so their DECIMAL(38,4) sum has no float "
    "accumulation order to drift, divided once and rounded "
    "identically on both engines.",
)
def nb_score_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.classify import (
        nb_classifier_train_score,
    )

    preds = nb_classifier_train_score(spark, sf_dir).select(
        "doc_id",
        F.col("correct").cast("int").alias("ok"),
        "score",
    )
    ranked, n, _ = ranked_by_range(
        preds, [F.desc("score"), F.col("doc_id")]
    )
    tiled = ranked.withColumn("decile", ntile_expr("rn", n, 10))
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("n_correct"),
            F.round(
                F.sum("ok").cast("double") / F.count(F.lit(1)), 6
            ).alias("accuracy"),
            F.round(
                F.sum(F.col("score").cast("decimal(38,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_score"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# HLL set algebra: distinct-overlap estimate by inclusion-exclusion
# ---------------------------------------------------------------------------

_HI_M = 64          # registers (p = 6); alpha_64 = 0.709 (HLL paper)
_HI_ALPHA = 0.709
_HI_A = "1-URGENT"
_HI_B = "5-LOW"


def _hll_est_sql(denom: str, zeros: str) -> str:
    """DuckDB/Spark-shared estimator text over exact integer inputs:
    raw HLL with the small-range linear-counting correction."""
    raw = (
        f"({_HI_ALPHA} * {_HI_M} * {_HI_M} * 33554432.0 / {denom})"
    )  # 2^25 = 33554432; denom = sum 2^(25-r) exact int
    lc = f"({_HI_M} * ln(CAST({_HI_M} AS DOUBLE) / {zeros}))"
    return (
        f"CASE WHEN {zeros} > 0 AND {raw} <= {2.5 * _HI_M} "
        f"THEN {lc} ELSE {raw} END"
    )


@query(
    "hll_intersection",
    oracle=f"""
    WITH flagged AS (
      SELECT md5(CAST(o_custkey AS VARCHAR)) AS h,
             o_custkey AS k,
             (o_orderpriority = '{_HI_A}') AS in_a,
             (o_orderpriority = '{_HI_B}') AS in_b
      FROM orders
      WHERE o_orderpriority IN ('{_HI_A}', '{_HI_B}')
    ), exact AS (
      SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both
      FROM (SELECT k, bool_or(in_a) AS a, bool_or(in_b) AS b
            FROM flagged GROUP BY k)
    ), ranks AS (
      SELECT in_a, in_b,
             CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % {_HI_M}
               AS bucket,
             CASE WHEN CAST(('0x' || substr(h, 3, 6)) AS BIGINT) = 0
                  THEN 25
                  ELSE 25 - length(bin(CAST(('0x' || substr(h, 3, 6))
                                            AS BIGINT))) END AS r
      FROM flagged
    ), regs AS (
      SELECT s.b AS bucket,
             COALESCE(MAX(CASE WHEN in_a THEN r END), 0) AS r_a,
             COALESCE(MAX(CASE WHEN in_b THEN r END), 0) AS r_b,
             COALESCE(MAX(r), 0) AS r_u
      FROM (SELECT unnest(range({_HI_M})) AS b) s
      LEFT JOIN ranks ON ranks.bucket = s.b
      GROUP BY s.b
    ), sums AS (
      SELECT CAST(SUM(1 << (25 - r_a)) AS BIGINT) AS d_a,
             CAST(SUM(1 << (25 - r_b)) AS BIGINT) AS d_b,
             CAST(SUM(1 << (25 - r_u)) AS BIGINT) AS d_u,
             CAST(SUM(CASE WHEN r_a = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS z_a,
             CAST(SUM(CASE WHEN r_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS z_b,
             CAST(SUM(CASE WHEN r_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS z_u
      FROM regs
    )
    SELECT e.n_a AS n_exact_a, e.n_b AS n_exact_b,
           e.n_both AS n_exact_both,
           ROUND({_hll_est_sql('d_a', 'z_a')}, 4) AS est_a,
           ROUND({_hll_est_sql('d_b', 'z_b')}, 4) AS est_b,
           ROUND({_hll_est_sql('d_u', 'z_u')}, 4) AS est_union,
           ROUND({_hll_est_sql('d_a', 'z_a')}
                 + {_hll_est_sql('d_b', 'z_b')}
                 - {_hll_est_sql('d_u', 'z_u')}, 4) AS est_intersection
    FROM sums CROSS JOIN exact e
    """,
    description="HLL set algebra: the distinct-customer OVERLAP of "
    f"two order segments ('{_HI_A}' vs '{_HI_B}') estimated by "
    "inclusion-exclusion over three PORTABLE HyperLogLogs (per-set "
    "registers + their GREATEST-merge union — the only set "
    "operation HLL supports natively), reported NEXT TO the exact "
    "answer (the minhash_calibration discipline: the sketch-trust "
    "audit ships with the sketch).  Everything up to the final "
    "estimates is exact integer arithmetic both engines share: "
    "md5-derived buckets/ranks (the hll_portable_registers "
    "construction), and the harmonic denominator sum(2^-r) scaled "
    "by 2^25 so it accumulates as an exact int64 — NO float "
    "accumulation order anywhere; the estimate is one double "
    "expression per set (with the standard linear-counting "
    "small-range branch, chosen from exact integers so both engines "
    "take the same branch).  Scale: one narrow map + one "
    f"{_HI_M}-row register aggregate per set — the union register "
    "table is what a 100 TB pipeline PERSISTS per segment, making "
    "any pairwise overlap query a 64-row merge, no rescan.",
)
def hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    flagged = orders.filter(
        F.col("o_orderpriority").isin(_HI_A, _HI_B)
    ).select(
        F.md5(F.col("o_custkey").cast("string")).alias("h"),
        F.col("o_custkey").alias("k"),
        (F.col("o_orderpriority") == _HI_A).alias("in_a"),
        (F.col("o_orderpriority") == _HI_B).alias("in_b"),
    )
    per_cust = flagged.groupBy("k").agg(
        F.max(F.col("in_a").cast("int")).alias("a"),
        F.max(F.col("in_b").cast("int")).alias("b"),
    )
    exact = per_cust.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
    )
    ranks = flagged.select(
        "in_a",
        "in_b",
        (hex_long("h", 2) % _HI_M).alias("bucket"),
        leading_zero_rank(hex_long("h", 6, start=3), 25)
        .cast("long")
        .alias("r"),
    )
    spine = spark.range(_HI_M).select(F.col("id").alias("bucket"))
    regs = (
        spine.join(ranks, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("in_a"), F.col("r"))), F.lit(0)
            ).alias("r_a"),
            F.coalesce(
                F.max(F.when(F.col("in_b"), F.col("r"))), F.lit(0)
            ).alias("r_b"),
            F.coalesce(F.max("r"), F.lit(0)).alias("r_u"),
        )
    )
    sums = regs.agg(
        F.sum(F.expr("shiftleft(1L, int(25 - r_a))")).alias("d_a"),
        F.sum(F.expr("shiftleft(1L, int(25 - r_b))")).alias("d_b"),
        F.sum(F.expr("shiftleft(1L, int(25 - r_u))")).alias("d_u"),
        F.sum((F.col("r_a") == 0).cast("int")).alias("z_a"),
        F.sum((F.col("r_b") == 0).cast("int")).alias("z_b"),
        F.sum((F.col("r_u") == 0).cast("int")).alias("z_u"),
    )

    def est(denom: str, zeros: str):
        raw = F.lit(_HI_ALPHA * _HI_M * _HI_M * 33554432.0) / F.col(denom)
        lc = F.lit(float(_HI_M)) * F.log(
            F.lit(float(_HI_M)) / F.col(zeros)
        )
        return F.when(
            (F.col(zeros) > 0) & (raw <= F.lit(2.5 * _HI_M)), lc
        ).otherwise(raw)

    return sums.crossJoin(F.broadcast(exact)).select(
        F.col("n_a").alias("n_exact_a"),
        F.col("n_b").alias("n_exact_b"),
        F.col("n_both").alias("n_exact_both"),
        F.round(est("d_a", "z_a"), 4).alias("est_a"),
        F.round(est("d_b", "z_b"), 4).alias("est_b"),
        F.round(est("d_u", "z_u"), 4).alias("est_union"),
        F.round(
            est("d_a", "z_a") + est("d_b", "z_b") - est("d_u", "z_u"), 4
        ).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation of two daily series (calendar-bounded window)
# ---------------------------------------------------------------------------

_RC_W = 7  # trailing window, days (rows, over the dense daily table)


@query(
    "rolling_corr_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY day
    ), rolled AS (
      SELECT day,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS HUGEINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS syy,
             CAST(SUM(x * CAST(y AS HUGEINT)) OVER w AS HUGEINT) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN {_RC_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_7d
    FROM rolled
    WHERE n = {_RC_W}
      AND (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) > 0
      AND (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy) > 0
    """,
    description=f"Rolling {_RC_W}-day Pearson correlation between the "
    "daily order count and daily revenue series — the time-LOCAL "
    "association monitor (correlation_matrix_daily is global; drift "
    "shows up as the rolling value decoupling).  The fact table "
    "collapses to the calendar-bounded daily aggregate in one "
    "partial-aggregated pass; the rolling moments are exact-integer "
    "window sums over that ~2.4k-row table (y-moments as "
    "DECIMAL/HUGEINT — daily revenue cents squared exceeds int64, "
    "the Cramer discipline), and each day's correlation is one "
    "double expression over its exact window moments, rounded "
    "identically.  Degenerate windows (zero variance or short head) "
    "are excluded by exact integer predicates, so both engines drop "
    "the same rows.  The unpartitioned window is calendar-bounded — "
    "allowlisted in the catalog-wide SinglePartition sweep like the "
    "Kaplan-Meier event-time table.",
)
def rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(_RC_W - 1), 0)
    yd = F.col("y").cast("decimal(38,0)")
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(yd).over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(yd * yd).over(w).alias("syy"),
        F.sum(F.col("x") * yd).over(w).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        n_d * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        n_d * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    varx = F.col("n").cast("decimal(38,0)") * F.col("sxx") - F.col(
        "sx"
    ).cast("decimal(38,0)") * F.col("sx")
    vary = F.col("n").cast("decimal(38,0)") * F.col("syy") - F.col(
        "sy"
    ) * F.col("sy")
    return (
        rolled.filter(
            (F.col("n") == _RC_W) & (varx > 0) & (vary > 0)
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("n").cast("long").alias("n"),
            F.round(num / den, 6).alias("corr_7d"),
        )
    )


# ---------------------------------------------------------------------------
# Harmonic centrality (3-hop, exact sixths) over the co-purchase graph
# ---------------------------------------------------------------------------


def _harmonic_oracle() -> str:
    from dados_publicos_etl_spark.plans.mining import _EDGES_SQL

    return f"""
    WITH {_EDGES_SQL},
    und AS MATERIALIZED (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges
    ), d1 AS MATERIALIZED (
      SELECT u, v FROM und
    ), d2 AS MATERIALIZED (
      SELECT DISTINCT a.u, b.v
      FROM d1 a JOIN und b ON a.v = b.u
      WHERE a.u <> b.v
        AND NOT EXISTS (SELECT 1 FROM d1 x
                        WHERE x.u = a.u AND x.v = b.v)
    ), d3 AS MATERIALIZED (
      SELECT DISTINCT a.u, b.v
      FROM d2 a JOIN und b ON a.v = b.u
      WHERE a.u <> b.v
        AND NOT EXISTS (SELECT 1 FROM d1 x
                        WHERE x.u = a.u AND x.v = b.v)
        AND NOT EXISTS (SELECT 1 FROM d2 x
                        WHERE x.u = a.u AND x.v = b.v)
    ), contrib AS (
      SELECT u, 6 AS w FROM d1
      UNION ALL SELECT u, 3 FROM d2
      UNION ALL SELECT u, 2 FROM d3
    )
    SELECT u AS node,
           CAST(SUM(w) AS BIGINT) AS harmonic_sixths,
           ROUND(CAST(SUM(w) AS DOUBLE) / 6.0, 4) AS harmonic_3hop
    FROM contrib GROUP BY u
    """


@query(
    "harmonic_centrality_3hop",
    oracle=_harmonic_oracle(),
    description="Harmonic centrality truncated at 3 hops over the "
    "undirected co-purchase graph: sum of 1/d(u,v) for v within "
    "distance 3 — the reachability-weighted influence score that, "
    "unlike closeness, is well-defined on disconnected graphs and "
    "truncates naturally for distributed evaluation (global "
    "closeness needs full APSP; bounded-hop harmonic needs "
    "exactly h frontier joins — the PageRank-family trade every "
    "graph system makes at scale).  Distance sets are computed as "
    "three successive frontier joins with NOT-EXISTS de-duplication "
    "against closer levels (BFS level sets, the n_hop_reachability "
    "recurrence), and the score accumulates in EXACT SIXTHS "
    "(6/d for d = 1,2,3 -> 6,3,2), so the sum is an exact integer "
    "on both engines and the single final division is cosmetic.  "
    "Level joins are datasource-cut on the bounded edge table.",
)
@machine_sized_shuffle
def harmonic_centrality_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.plans.mining import _co_edges

    edges = _co_edges(spark, sf_dir)
    und = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint()
    )
    d1 = und
    # anti-join de-dup against closer levels (the NOT EXISTS shape)
    hop = (
        d1.alias("a")
        .join(und.alias("b"), F.col("a.v") == F.col("b.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    d2 = hop.join(d1, ["u", "v"], "left_anti").localCheckpoint()
    hop3 = (
        d2.alias("a")
        .join(und.alias("b"), F.col("a.v") == F.col("b.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    d3 = (
        hop3.join(d1, ["u", "v"], "left_anti")
        .join(d2, ["u", "v"], "left_anti")
        .localCheckpoint()
    )
    contrib = (
        d1.select("u", F.lit(6).alias("w"))
        .unionAll(d2.select("u", F.lit(3).alias("w")))
        .unionAll(d3.select("u", F.lit(2).alias("w")))
    )
    return contrib.groupBy(F.col("u").alias("node")).agg(
        F.sum("w").cast("long").alias("harmonic_sixths"),
        F.round(F.sum("w").cast("double") / 6.0, 4).alias(
            "harmonic_3hop"
        ),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the one-vs-rest class mean tests
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.05
_BH_INV_SQRT_2PI = 0.3989422804014327
# Abramowitz & Stegun 26.2.17 upper-tail polynomial (|err| < 7.5e-8)
_BH_T_C = 0.2316419
_BH_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)


def _bh_qtail_sql(x: str) -> str:
    """Shared SQL text: upper-tail normal probability Q(x), x >= 0."""
    b1, b2, b3, b4, b5 = _BH_B
    t = f"(1.0 / (1.0 + {_BH_T_C} * {x}))"
    poly = (
        f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * "
        f"({b4} + {t} * {b5})))))"
    )
    return f"(exp(-({x}) * ({x}) / 2.0) * {_BH_INV_SQRT_2PI} * {poly})"


@query(
    "bh_fdr_correction",
    oracle=f"""
    WITH cls AS (
      SELECT o_orderpriority AS cls,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS s,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                      * CAST(ROUND(o_totalprice * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS ss
      FROM orders GROUP BY cls
    ), tot AS (
      SELECT cls, n, s, ss,
             SUM(n) OVER () AS nn,
             SUM(s) OVER () AS st,
             SUM(ss) OVER () AS sst
      FROM cls
    ), z AS (
      SELECT cls, n,
             abs(
               (CAST(s AS DOUBLE) / n
                - CAST(st - s AS DOUBLE) / (nn - n))
               / sqrt(
                   (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (n - 1.0)) / n
                 + (CAST(nn - n AS DOUBLE) * CAST(sst - ss AS DOUBLE)
                    - CAST(st - s AS DOUBLE) * CAST(st - s AS DOUBLE))
                   / (CAST(nn - n AS DOUBLE) * (nn - n - 1.0))
                   / (nn - n))
             ) AS az
      FROM tot
    ), p AS (
      SELECT cls, n, az,
             ROUND(2.0 * {_bh_qtail_sql('az')}, 8) AS pval
      FROM z
    ), ranked AS (
      SELECT cls, n, az, pval,
             ROW_NUMBER() OVER (ORDER BY pval, cls) AS rk,
             COUNT(*) OVER () AS m
      FROM p
    ), kstar AS (
      SELECT COALESCE(MAX(CASE WHEN pval <= rk * {_BH_ALPHA} / m
                               THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT r.cls,
           r.n,
           ROUND(r.az, 4) AS abs_z,
           r.pval,
           CAST(r.rk AS INT) AS p_rank,
           ROUND(r.rk * {_BH_ALPHA} / r.m, 8) AS bh_cutoff,
           (r.rk <= (SELECT k FROM kstar)) AS reject
    FROM ranked r
    """,
    description="Benjamini-Hochberg FDR correction over the "
    "one-vs-rest Welch z-tests of class mean order value (one test "
    "per priority class) — the multiple-testing discipline every "
    "metrics platform needs once it runs a BATTERY of tests instead "
    "of one: control the expected false-discovery share at "
    f"alpha={_BH_ALPHA} by rejecting the smallest k p-values with "
    "p_(k) <= k*alpha/m.  Engine-exactness: moments accumulate as "
    "exact integers (cents / HUGEINT-DECIMAL squares); each z is "
    "one double expression of them; the p-value uses the "
    "Abramowitz-Stegun 26.2.17 tail polynomial (fixed literal "
    "coefficients — the SAME arithmetic expression text on both "
    "engines, no erf dependency) and is ROUNDED to 8 dp BEFORE the "
    "BH comparisons, so both engines make identical reject "
    "decisions.  All windows run over the |classes|-row table "
    "(group-bounded, allowlisted).",
)
def bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cls = orders.groupBy(
        F.col("o_orderpriority").alias("cls")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("decimal(38,0)").alias("s"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("ss"),
    )
    wall = Window.partitionBy()
    tot = cls.select(
        "cls",
        "n",
        "s",
        "ss",
        F.sum("n").over(wall).alias("nn"),
        F.sum("s").over(wall).alias("st"),
        F.sum("ss").over(wall).alias("sst"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    n2 = (F.col("nn") - n).cast("double")
    s2 = (F.col("st") - s).cast("double")
    ss2 = (F.col("sst") - ss).cast("double")
    nd, sd, ssd = n.cast("double"), s.cast("double"), ss.cast("double")
    var1_over_n1 = (nd * ssd - sd * sd) / (nd * (nd - 1.0)) / nd
    var2_over_n2 = (n2 * ss2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2
    az = F.abs(
        (sd / nd - s2 / n2) / F.sqrt(var1_over_n1 + var2_over_n2)
    )
    p = tot.select("cls", "n", az.alias("az")).selectExpr(
        "cls",
        "n",
        "az",
        f"ROUND(2.0 * {_bh_qtail_sql('az')}, 8) AS pval",
    )
    wrank = Window.orderBy("pval", "cls")
    ranked = p.select(
        "cls",
        "n",
        "az",
        "pval",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    kstar = ranked.withColumn(
        "k",
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval")
                    <= F.col("rk") * _BH_ALPHA / F.col("m"),
                    F.col("rk"),
                )
            ).over(wall),
            F.lit(0),
        ),
    )
    return kstar.select(
        "cls",
        F.col("n").cast("long").alias("n"),
        F.round("az", 4).alias("abs_z"),
        "pval",
        F.col("rk").cast("int").alias("p_rank"),
        F.round(F.col("rk") * _BH_ALPHA / F.col("m"), 8).alias(
            "bh_cutoff"
        ),
        (F.col("rk") <= F.col("k")).alias("reject"),
    )
