"""Data-quality and change-detection operators (north-star extension:
a pipeline feeding a 100 TB warehouse needs mechanical answers to
"did this load change what I think it changed?" and "does this table
satisfy its contract?").

- **snapshot_diff** — CDC-style table diff: classify every key as
  added / removed / changed / unchanged between two snapshots with
  ONE full-outer join on the key (no per-column subqueries, no
  driver-side comparison).  At scale both sides shuffle once on the
  join key; with both snapshots bucketed on the key the exchange
  disappears entirely.
- **dq_report** — declarative constraint report (deequ-style):
  completeness / range / set-membership / uniqueness / referential
  integrity, each evaluated as ONE conditional aggregation over a
  single scan of the table (not one scan per rule); FK checks are an
  anti-join.  Output is one row per constraint with the violation
  count, so the report is itself a small DataFrame a pipeline can
  gate on.

The reference audits only file/row counts per layer
(/root/reference/src/monitoring/monitor.py:70-121); these operators
are the engine's content-level upgrade of that monitoring surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Classify rows between two snapshots of the same table.

    Returns (key, change_type) for every key in either snapshot;
    ``change_type in ('added','removed','changed','unchanged')``.
    One full-outer join on the key; per-column null-safe comparison
    (``eqNullSafe``) so NULL -> value transitions count as changes.
    """
    o = old.select(key, *compare_cols).alias("o")
    n = new.select(key, *compare_cols).alias("n")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    return (
        o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
        .select(
            F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
            F.when(F.col(f"o.{key}").isNull(), "added")
            .when(F.col(f"n.{key}").isNull(), "removed")
            .when(same, "unchanged")
            .otherwise("changed")
            .alias("change_type"),
        )
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN ROUND(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                 AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM old o
    FULL OUTER JOIN (SELECT o_orderkey, o_totalprice, o_orderstatus
                     FROM orders) n
      ON o.o_orderkey = n.o_orderkey
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
               THEN 'unchanged'
               ELSE 'changed' END <> 'unchanged'
    """,
    description="CDC table diff: synthetic old snapshot (drop keys "
    "%7=0, perturb price on %5=0) vs current orders; one full-outer "
    "join classifies added/removed/changed (null-safe compare).",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    # deterministic synthetic "previous load": some rows missing,
    # some prices perturbed — derived from the key so the oracle can
    # reproduce it exactly.
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    new = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    return snapshot_diff(
        old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    ).filter(F.col("change_type") != "unchanged")


def check_rules(
    df: DataFrame, rules: dict[str, Column], total_alias: str = "n_rows"
) -> DataFrame:
    """Evaluate named boolean rules in ONE aggregation pass.

    ``rules`` maps rule name -> Column that is true when the ROW
    VIOLATES the rule.  Returns one row per rule:
    (rule, n_violations, n_rows, passed).  All rules fuse into a
    single conditional aggregation, so N rules still cost one scan.
    """
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
        for name, cond in rules.items()
    ]
    row = df.agg(F.count(F.lit(1)).cast("long").alias(total_alias), *aggs)
    stacked = row.selectExpr(
        total_alias,
        "stack({n}, {pairs}) AS (rule, n_violations)".format(
            n=len(rules),
            pairs=", ".join(f"'{name}', {name}" for name in rules),
        ),
    )
    return stacked.select(
        "rule",
        "n_violations",
        F.col(total_alias).alias("n_rows"),
        (F.col("n_violations") == 0).alias("passed"),
    )


@query(
    "dq_report",
    oracle="""
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS q_null,
             CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS q_range,
             CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                           THEN 1 ELSE 0 END) AS BIGINT) AS flag_enum,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc_range
      FROM lineitem
    ), dup AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS pk_dupes
      FROM (SELECT COUNT(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
    ), orphan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS fk_orphans
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'quantity_not_null' AS rule, q_null AS n_violations,
           n_rows, q_null = 0 AS passed FROM base
    UNION ALL
    SELECT 'quantity_in_1_50', q_range, n_rows, q_range = 0 FROM base
    UNION ALL
    SELECT 'returnflag_enum', flag_enum, n_rows, flag_enum = 0 FROM base
    UNION ALL
    SELECT 'discount_in_0_1', disc_range, n_rows, disc_range = 0 FROM base
    UNION ALL
    SELECT 'pk_unique_orderkey_linenumber', pk_dupes, n_rows,
           pk_dupes = 0 FROM dup, base
    UNION ALL
    SELECT 'fk_lineitem_orders', fk_orphans, n_rows, fk_orphans = 0
    FROM orphan, base
    """,
    description="Declarative data-quality report: completeness, "
    "range, enum, PK-uniqueness and FK-referential rules over "
    "lineitem — scalar rules fused into ONE scan, uniqueness one "
    "agg, FK one anti-join; one row per constraint.",
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    scalar = check_rules(
        li,
        {
            "quantity_not_null": F.col("l_quantity").isNull(),
            "quantity_in_1_50": (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50),
            "returnflag_enum": ~F.col("l_returnflag").isin("A", "N", "R"),
            "discount_in_0_1": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
        },
    )
    n_rows = F.broadcast(li.agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    pk_dupes = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations")
        )
        .select(F.lit("pk_unique_orderkey_linenumber").alias("rule"),
                "n_violations")
    )
    fk_orphans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("fk_lineitem_orders").alias("rule"),
                "n_violations")
    )
    table_rules = (
        pk_dupes.unionByName(fk_orphans)
        # n_rows is a 1-row scalar side: broadcast explicitly so the
        # plan pins BroadcastNestedLoopJoin regardless of stats
        .crossJoin(F.broadcast(n_rows))
        .select(
            "rule",
            "n_violations",
            "n_rows",
            (F.col("n_violations") == 0).alias("passed"),
        )
    )
    return scalar.unionByName(table_rules)


@query(
    "iqr_outliers",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o.o_totalprice
                              > b.q3 + 1.5 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN o.o_totalprice
                              < b.q1 - 1.5 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           ROUND(b.q1, 4) AS q1, ROUND(b.q3, 4) AS q3
    FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
    GROUP BY o.o_orderpriority, b.q1, b.q3
    """,
    description="Tukey-fence outlier detection per group: exact "
    "group quartiles, then the kilobyte fence table broadcast back "
    "onto the scan to count values beyond Q3+1.5*IQR / Q1-1.5*IQR — "
    "the standard anomaly screen for heavy-tailed metrics; swap "
    "exact quantiles for approx_percentile at 100 TB and nothing "
    "else changes.",
)
def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    fences = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        orders.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("o_totalprice") > F.col("q3") + 1.5 * iqr, 1
                ).otherwise(0)
            ).alias("n_high"),
            F.sum(
                F.when(
                    F.col("o_totalprice") < F.col("q1") - 1.5 * iqr, 1
                ).otherwise(0)
            ).alias("n_low"),
        )
        .select(
            "o_orderpriority",
            "n",
            "n_high",
            "n_low",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
        )
    )


@query(
    "psi_drift",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                  THEN 'ref' ELSE 'cur' END AS half,
             CAST(floor(o_totalprice / 50000) AS INT) AS bucket
      FROM orders
    ),
    counts AS (
      SELECT bucket,
             SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM labeled GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
             CAST(SUM(n_cur) AS DOUBLE) AS t_cur
      FROM counts
    )
    SELECT bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(((n_cur + 1) / (t_cur + 1) - (n_ref + 1) / (t_ref + 1))
                 * ln(((n_cur + 1) / (t_cur + 1))
                      / ((n_ref + 1) / (t_ref + 1))) * 1000, 4)
             AS psi_x1000
    FROM counts CROSS JOIN tot
    """,
    description="Population-stability-index drift monitor: order "
    "totals bucketed on fixed 50k edges (fixed edges, not "
    "quantiles — engine-portable and comparable across runs), "
    "pre-1997 orders as the reference distribution vs the rest, "
    "add-one-smoothed per-bucket PSI contribution.  One conditional "
    "aggregate over the scan + a scalar total — the standard "
    "serving-vs-training drift gate at any scale; sum(psi_x1000) "
    "over buckets is the headline PSI.",
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    labeled = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"),
            "ref",
        )
        .otherwise("cur")
        .alias("half"),
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket"),
    )
    counts = labeled.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + 1)
    p_ref = (F.col("n_ref") + 1) / (F.col("t_ref") + 1)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * 1000, 4).alias(
            "psi_x1000"
        ),
    )


@query(
    "table_profile",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
           ROUND(MIN(o_totalprice), 4) AS min_num,
           ROUND(MAX(o_totalprice), 4) AS max_num,
           NULL AS min_str, NULL AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           ROUND(MIN(o_custkey), 4), ROUND(MAX(o_custkey), 4),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
    description="ANALYZE-style column profiling: per-column row/"
    "non-null/exact-distinct counts and min/max, computed for ALL "
    "profiled columns in ONE scan (a single multi-aggregate job "
    "unpivoted to a row per column — never a scan per column; the "
    "oracle's UNION form is the semantic spec, not the plan).  The "
    "profile feeds CBO statistics, DQ baselines and drift "
    "comparisons.",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    num_cols = ["o_totalprice", "o_custkey"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    for c in num_cols:
        aggs += [
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__mn"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__mx"),
        ]
    for c in str_cols:
        aggs += [F.min(c).alias(f"{c}__smn"), F.max(c).alias(f"{c}__smx")]
    one = orders.agg(*aggs)
    rows = []
    for c in num_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_num"),
                F.col(f"{c}__mx").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in str_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__smn").alias("min_str"),
                F.col(f"{c}__smx").alias("max_str"),
            )
        )
    return one.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# Join-relationship cardinality audit
# ---------------------------------------------------------------------------


@query(
    "join_cardinality_audit",
    oracle="""
    WITH l AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ), r AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_custkey
    ), j AS (
      SELECT COALESCE(l.k, r.k) AS k,
             COALESCE(l.n, 0) AS ln, COALESCE(r.n, 0) AS rn
      FROM l FULL OUTER JOIN r ON l.k = r.k
    )
    SELECT 'orders->customer' AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN ln > 0 AND rn = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_keys,
           CAST(SUM(CASE WHEN ln = 0 AND rn > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS childless_keys,
           CAST(MAX(ln) AS BIGINT) AS max_left_fanout,
           CAST(MAX(rn) AS BIGINT) AS max_right_fanout,
           (MAX(rn) <= 1) AS right_is_unique,
           CASE WHEN MAX(ln) <= 1 AND MAX(rn) <= 1 THEN '1:1'
                WHEN MAX(rn) <= 1 THEN 'N:1'
                WHEN MAX(ln) <= 1 THEN '1:N'
                ELSE 'M:N' END AS relationship
    FROM j
    """,
    description="Join-relationship cardinality audit (the contract "
    "check behind every star-schema join): per-key fanout profiles "
    "of both sides (two key-only aggregates — the only data-wide "
    "work), one full-outer join of the PROFILES (|keys| rows, never "
    "the fact tables), then orphan/childless counts, max fanout per "
    "side, and the inferred relationship class (1:1 / N:1 / 1:N / "
    "M:N).  A fact-to-dim join that silently turns M:N (duplicate "
    "dim keys) is the classic row-explosion incident; this audit is "
    "the cheap pre-join guard that catches it at 100 TB for the "
    "cost of two GROUP BYs.",
)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    l = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ln")
    )
    r = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("rn")
    )
    j = (
        l.join(r, "k", "full_outer")
        .select(
            F.coalesce("ln", F.lit(0)).alias("ln"),
            F.coalesce("rn", F.lit(0)).alias("rn"),
        )
    )
    return j.agg(
        F.lit("orders->customer").alias("relation"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when((F.col("ln") > 0) & (F.col("rn") == 0), 1).otherwise(0))
        .cast("long")
        .alias("orphan_keys"),
        F.sum(F.when((F.col("ln") == 0) & (F.col("rn") > 0), 1).otherwise(0))
        .cast("long")
        .alias("childless_keys"),
        F.max("ln").cast("long").alias("max_left_fanout"),
        F.max("rn").cast("long").alias("max_right_fanout"),
        (F.max("rn") <= 1).alias("right_is_unique"),
        F.when((F.max("ln") <= 1) & (F.max("rn") <= 1), "1:1")
        .when(F.max("rn") <= 1, "N:1")
        .when(F.max("ln") <= 1, "1:N")
        .otherwise("M:N")
        .alias("relationship"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery audit
# ---------------------------------------------------------------------------

# Candidate FDs to profile: two that genuinely hold through the FK
# star (schema-implied) and two that do not (attribute coincidences),
# so both verdicts are exercised on real data.
_FD_CANDIDATES = [
    ("o_orderkey -> o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("l_orderkey -> l_linestatus", "lineitem", "l_orderkey", "l_linestatus"),
    ("o_custkey -> o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("l_partkey -> l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
]


def _fd_oracle() -> str:
    arms = "\n    UNION ALL ".join(
        f"""SELECT '{name}' AS fd, CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(nd) AS BIGINT) AS max_rhs_distinct
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd
          FROM {tbl} GROUP BY {lhs})"""
        for name, tbl, lhs, rhs in _FD_CANDIDATES
    )
    return arms


@query(
    "fd_violation_audit",
    oracle=_fd_oracle(),
    description="Functional-dependency profiling — the schema-"
    "discovery audit every warehouse onboarding runs: for each "
    "candidate FD X -> Y, the number of X groups, how many carry "
    "more than one distinct Y (violations), and the worst group's "
    "distinct-Y count; candidates cover both schema-implied FDs "
    "(order -> customer) and ones the data refutes.  Spark-first: "
    "each candidate is ONE partial-aggregated groupBy(X) "
    "count-distinct(Y) followed by a 1-row rollup — the per-FD cost "
    "is a single keyed shuffle, and independent candidates union so "
    "AQE schedules them as parallel stages; no row-pair explosion "
    "ever forms (the naive violation self-join is quadratic per "
    "group).",
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    arms = []
    for name, tbl, lhs, rhs in _FD_CANDIDATES:
        t = read_table(spark, sf_dir, tbl)
        per = t.groupBy(lhs).agg(F.count_distinct(F.col(rhs)).alias("nd"))
        arms.append(
            per.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("nd").cast("long").alias("max_rhs_distinct"),
            )
        )
    out = arms[0]
    for extra in arms[1:]:
        out = out.unionByName(extra)
    return out


# ---------------------------------------------------------------------------
# Chi-square independence test
# ---------------------------------------------------------------------------


@query(
    "chi_square_independence",
    oracle="""
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT x, y, obs,
             CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) AS nx,
             CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS ny,
             CAST(SUM(obs) OVER () AS BIGINT) AS n
      FROM joint
    )
    SELECT x AS priority, y AS status, obs,
           ROUND(CAST(nx AS DOUBLE) * ny / n, 6) AS expected,
           ROUND(CAST(CAST(obs AS DECIMAL(18,0)) * n
                      - CAST(nx AS DECIMAL(18,0)) * ny AS DOUBLE)
                 * CAST(CAST(obs AS DECIMAL(18,0)) * n
                        - CAST(nx AS DECIMAL(18,0)) * ny AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * (CAST(nx AS DOUBLE) * ny)),
                 9) AS chi2_term
    FROM m
    """,
    description="Chi-square independence diagnostics for the "
    "priority x status contingency table: per-cell observed vs "
    "expected counts and the chi-square contribution, computed from "
    "the integer-exact identity (obs*n - nx*ny)^2 / (n^2 * nx * ny) "
    "— the numerator stays an exact DECIMAL product (no obs-minus-"
    "expected float subtraction, whose cancellation is what makes "
    "naive chi-square implementations drift), so both engines "
    "evaluate the identical IEEE division.  Scale shape: the fact "
    "table collapses to the |X|x|Y| cell table in one partial-"
    "aggregated pass; the three margin windows run over those few "
    "cells.  Complements mutual_information_screen (same table, "
    "frequentist statistic).",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    joint = orders.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    m = joint.select(
        "x",
        "y",
        "obs",
        F.sum("obs").over(W.partitionBy("x")).alias("nx"),
        F.sum("obs").over(W.partitionBy("y")).alias("ny"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")
    num = dec("obs") * F.col("n") - dec("nx") * F.col("ny")
    return m.select(
        F.col("x").alias("priority"),
        F.col("y").alias("status"),
        F.col("obs").cast("long").alias("obs"),
        F.round(
            F.col("nx").cast("double") * F.col("ny") / F.col("n"), 6
        ).alias("expected"),
        F.round(
            num.cast("double")
            * num.cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n")
                * (F.col("nx").cast("double") * F.col("ny"))
            ),
            9,
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# CNPJ check-digit validation (the reference's identifier domain)
# ---------------------------------------------------------------------------

_DV1_W = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_DV2_W = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]


def _dv_terms_sql(col: str, weights: list[int]) -> str:
    """SQL fragment: mod-11 weighted digit sum over a digit string."""
    return " + ".join(
        f"CAST(substr({col}, {i + 1}, 1) AS INT) * {w}"
        for i, w in enumerate(weights)
    )


def _dv_sql(col: str, weights: list[int]) -> str:
    s = _dv_terms_sql(col, weights)
    return f"(CASE WHEN ({s}) % 11 < 2 THEN 0 ELSE 11 - ({s}) % 11 END)"


@query(
    "cnpj_check_digits",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS b12
      FROM customer
    ), dv1 AS (
      SELECT c_custkey, b12,
             CASE WHEN c_custkey % 10 = 0
                  THEN ({_dv_sql('b12', _DV1_W)} + 1) % 10
                  ELSE {_dv_sql('b12', _DV1_W)} END AS d13
      FROM base
    ), dv2 AS (
      SELECT c_custkey, b12, d13,
             b12 || CAST(d13 AS VARCHAR) AS b13
      FROM dv1
    ), full_id AS (
      SELECT c_custkey,
             b13 || CAST({_dv_sql('b13', _DV2_W)} AS VARCHAR) AS cnpj,
             b12, d13
      FROM dv2
    )
    SELECT c_custkey, cnpj,
           (CAST(substr(cnpj, 13, 1) AS INT) = {_dv_sql('b12', _DV1_W)}
            AND CAST(substr(cnpj, 14, 1) AS INT)
                = {_dv_sql("(b12 || CAST(d13 AS VARCHAR))", _DV2_W)})
             AS dv_valid
    FROM full_id
    """,
    description="CNPJ check-digit validation — the reference's "
    "identifier domain (src/utils/scraping.py:24 ingests Receita "
    "Federal CNPJ open data): the official two-digit mod-11 DV "
    "algorithm (weights 5..2,9..2 then 6..2,9..2; digit = 0 when "
    "remainder < 2, else 11 - remainder) evaluated as a FULLY "
    "UNROLLED integer expression per row — no UDF, no Python, scan-"
    "speed validation of 100 TB of registry records.  The test "
    "corpus synthesizes a 14-digit CNPJ per customer from its key "
    "and CORRUPTS the first DV on every 10th key, so dv_valid "
    "splits ~90/10 and the validator provably catches exactly the "
    "planted corruption — both engines re-derive the digits "
    "independently and must agree per row.",
)
def cnpj_check_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    b12 = F.lpad(F.col("c_custkey").cast("string"), 12, "0")

    def dv(col: Column, weights: list[int]) -> Column:
        s = None
        for i, w in enumerate(weights):
            term = F.substring(col, i + 1, 1).cast("int") * w
            s = term if s is None else s + term
        return F.when(s % 11 < 2, 0).otherwise(11 - (s % 11))

    base = cust.select("c_custkey", b12.alias("b12"))
    d13_true = dv(F.col("b12"), _DV1_W)
    d13 = F.when(
        F.col("c_custkey") % 10 == 0, (d13_true + 1) % 10
    ).otherwise(d13_true)
    staged = base.select(
        "c_custkey", "b12", d13.cast("int").alias("d13")
    ).withColumn(
        "b13", F.concat(F.col("b12"), F.col("d13").cast("string"))
    )
    full = staged.select(
        "c_custkey",
        "b12",
        "d13",
        F.concat(
            F.col("b13"), dv(F.col("b13"), _DV2_W).cast("string")
        ).alias("cnpj"),
        F.col("b13"),
    )
    dv1_ok = F.substring("cnpj", 13, 1).cast("int") == dv(
        F.col("b12"), _DV1_W
    )
    dv2_ok = F.substring("cnpj", 14, 1).cast("int") == dv(
        F.col("b13"), _DV2_W
    )
    return full.select(
        "c_custkey", "cnpj", (dv1_ok & dv2_ok).alias("dv_valid")
    )


# ---------------------------------------------------------------------------
# Embedding table audit (the vector-ingest quality gate)
# ---------------------------------------------------------------------------


@query(
    "embedding_norm_audit",
    oracle="""
    WITH n AS (
      SELECT label,
             len(embedding) AS dim,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
                                          OR x IS NULL)) AS n_bad
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dim) AS BIGINT) AS min_dim,
           CAST(MAX(dim) AS BIGINT) AS max_dim,
           CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm,
           ROUND(AVG(nrm), 4) AS avg_norm
    FROM n GROUP BY label
    """,
    description="Embedding-table ingest audit per label: vector "
    "count, dimension min/max (a mixed-dim table breaks every "
    "downstream dot product), corrupt vectors (NaN/NULL elements), "
    "zero vectors (cosine is undefined on them — they poison ANN "
    "indexes silently), and the L2-norm range (unnormalized "
    "embeddings skew inner-product search).  The gate a vector "
    "pipeline runs on every ingest batch BEFORE index build; one "
    "narrow map over the scan + one hash aggregate, no shuffle of "
    "the vectors themselves.  Per-row norms are identical IEEE "
    "left-folds on both engines (float->double widening, the "
    "functions/vector.py convention); cross-row aggregates round.",
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.functions.vector import norm

    emb = read_table(spark, sf_dir, "embeddings")
    n_bad = F.size(
        F.filter(
            "embedding",
            lambda x: F.isnan(x.cast("double")) | x.isNull(),
        )
    )
    per = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        norm(F.col("embedding")).alias("nrm"),
        n_bad.alias("n_bad"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.sum((F.col("n_bad") > 0).cast("int")).cast("long").alias(
            "n_corrupt"
        ),
        F.sum((F.col("nrm") == 0).cast("int")).cast("long").alias("n_zero"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# Merkle-style table reconciliation (anti-entropy checksum diff)
# ---------------------------------------------------------------------------

_MERKLE_BUCKETS = 256
# planted divergence between "snapshot A" (orders as landed) and
# "snapshot B" (the re-synced copy): a modified slice and a deleted
# slice, both deterministic
_MK_MOD = 97   # o_orderkey % 97 == 5  -> price bumped one cent in B
_MK_DEL = 131  # o_orderkey % 131 == 7 -> row missing from B


@query(
    "merkle_table_diff",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k, o_orderkey % {_MERKLE_BUCKETS} AS bucket,
             CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    AS VARCHAR) || '|' || o_orderstatus), 1, 7))
               AS BIGINT) AS h
      FROM orders
    ), b AS (
      SELECT o_orderkey AS k, o_orderkey % {_MERKLE_BUCKETS} AS bucket,
             CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    + CASE WHEN o_orderkey % {_MK_MOD} = 5
                           THEN 1 ELSE 0 END AS VARCHAR)
               || '|' || o_orderstatus), 1, 7)) AS BIGINT) AS h
      FROM orders WHERE o_orderkey % {_MK_DEL} <> 7
    ), ca AS (
      SELECT bucket, CAST(SUM(h) AS BIGINT) AS sum_a,
             CAST(COUNT(*) AS BIGINT) AS n_a
      FROM a GROUP BY bucket
    ), cb AS (
      SELECT bucket, CAST(SUM(h) AS BIGINT) AS sum_b,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ), mismatched AS (
      SELECT ca.bucket
      FROM ca LEFT JOIN cb ON ca.bucket = cb.bucket
      WHERE cb.bucket IS NULL OR ca.sum_a <> cb.sum_b
         OR ca.n_a <> cb.n_b
    )
    SELECT a.k AS o_orderkey,
           CAST(a.bucket AS INT) AS bucket,
           CASE WHEN b.k IS NULL THEN 'deleted'
                ELSE 'modified' END AS change_type
    FROM a
    JOIN mismatched m ON a.bucket = m.bucket
    LEFT JOIN b ON a.k = b.k
    WHERE b.k IS NULL OR a.h <> b.h
    """,
    description="Merkle-style table reconciliation (anti-entropy): "
    "two snapshots of the orders table are compared by exchanging "
    f"{_MERKLE_BUCKETS} per-bucket checksums — SUM of a portable "
    "md5 row hash plus a row count per key bucket — and only the "
    "MISMATCHED buckets are re-scanned row-by-row to name the "
    "changed keys (a planted modified slice and a planted deleted "
    "slice).  This is how replicas, warehouse copies, and CDC "
    "landings are verified at 100 TB: the checksum exchange is "
    "kilobytes however large the table, the row-level diff touches "
    "only the O(changes) mismatched buckets (the second phase joins "
    "through a broadcast of the mismatched bucket ids), and the "
    "28-bit row hashes sum exactly in int64 (max 2^28 x rows-per-"
    "bucket — no overflow below ~2^35 rows a bucket).  Completes "
    "snapshot_diff (full-outer row diff) with the checksum-pruned "
    "form that avoids shuffling both full tables.",
)
def merkle_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import widen_scan

    # widen_scan (r13, guide §2): the per-row md5 runs twice (side a
    # and the mutated side b) in scan stages that were single-task on
    # the bench's one-row-group orders file.
    orders = widen_scan(read_table(spark, sf_dir, "orders")).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderstatus",
    )

    def hashed(df: DataFrame) -> DataFrame:
        h = hex_long(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("k").cast("string"),
                    F.col("cents").cast("string"),
                    F.col("o_orderstatus"),
                )
            ),
            7,
        )
        return df.select(
            "k", (F.col("k") % _MERKLE_BUCKETS).alias("bucket"), h.alias("h")
        )

    a = hashed(orders)
    b = hashed(
        orders.filter(F.col("k") % _MK_DEL != 7).withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("k") % _MK_MOD == 5, 1).otherwise(0),
        )
    )
    ca = a.groupBy("bucket").agg(
        F.sum("h").alias("sum_a"), F.count(F.lit(1)).alias("n_a")
    )
    cb = b.groupBy("bucket").agg(
        F.sum("h").alias("sum_b"), F.count(F.lit(1)).alias("n_b")
    )
    mismatched = (
        ca.join(cb, "bucket", "left")
        .filter(
            F.col("sum_b").isNull()
            | (F.col("sum_a") != F.col("sum_b"))
            | (F.col("n_a") != F.col("n_b"))
        )
        .select("bucket")
    )
    # phase 2: row-level drill restricted to mismatched buckets only
    a_m = a.join(F.broadcast(mismatched), "bucket")
    b_m = b.join(F.broadcast(mismatched), "bucket").select(
        "k", F.col("h").alias("h_b")
    )
    return (
        a_m.join(b_m, "k", "left")
        .filter(F.col("h_b").isNull() | (F.col("h") != F.col("h_b")))
        .select(
            F.col("k").cast("long").alias("o_orderkey"),
            F.col("bucket").cast("int").alias("bucket"),
            F.when(F.col("h_b").isNull(), "deleted")
            .otherwise("modified")
            .alias("change_type"),
        )
    )
