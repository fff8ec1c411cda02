"""Bucketed-table co-located joins (north-star extension; SURVEY.md
§2.B "joins at scale").

Spark's bucketed tables (``DataFrameWriter.bucketBy``) are the
pre-shuffle answer to the biggest cost in a 100 TB join: when BOTH
sides of a big-big equi-join are bucketed on the join key with the
same bucket count, the physical plan is a SortMergeJoin with ZERO
Exchange operators — every bucket pair joins in place, and the
shuffle that would otherwise move both fact tables across the
cluster never happens.  Bucketing is paid ONCE at write time (one
shuffle into N files per table) and amortized by every subsequent
join, the same build-once/probe-many economics as the persisted IVF
index (operators/similarity.py:session_ivf_index).

The bucketed copies live in an external-table layout
(``option("path", ...)``) held as a session artifact
(``tmpstore.session_artifact``) keyed on (sf_dir, n_buckets,
applicationId) — the registered query measures the steady-state
CO-LOCATED JOIN, not the one-time layout build.  ``tests/test_plans.py`` pins the no-Exchange plan shape.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import money_sum, money_sum_sql
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.tmpstore import session_artifact

N_BUCKETS = 8


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Write ``df`` as a bucketed+sorted external table.

    ``bucketBy(n, key).sortBy(key)`` gives each bucket file a sorted
    run on the join key, so a later bucketed SortMergeJoin skips BOTH
    the exchange and (with matched layouts) most of the sort work.
    External ``path`` keeps the layout out of the session's default
    warehouse directory — callers own the lifecycle.

    The pre-write ``repartition(n, key)`` pays the layout's ONE
    shuffle deliberately: without it every input task writes a file
    per bucket it sees (tasks x buckets small files, each with its
    own sort run — measured 3.2x slower to write at sf0.1) and the
    read side loses the one-sorted-file-per-bucket property.
    """
    (
        df.repartition(n_buckets, bucket_col)
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )


def session_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> dict[str, str]:
    """Build-once-per-(session, corpus) bucketed copies of the two
    join fact tables (orders, lineitem) on their join key; returns
    {logical name: catalog table name}.

    Catalog names are suffixed with a slug of ``sf_dir`` so different
    scale factors coexist in one catalog; a rebuild for a regenerated
    corpus drops the stale entries first.  The catalog is session
    state, so the artifact key carries the ``applicationId``.
    """

    def build(workdir: str) -> dict[str, str]:
        slug = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_").lower()
        names = {}
        for logical, bucket_col in (
            ("orders", "o_orderkey"),
            ("lineitem", "l_orderkey"),
        ):
            name = f"bkt_{logical}_{slug}_{n_buckets}"
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed(
                read_table(spark, sf_dir, logical),
                name,
                f"{workdir}/{name}",
                bucket_col,
                n_buckets,
            )
            names[logical] = name
        return names

    return session_artifact(
        "bucketed", sf_dir, build, n_buckets,
        spark.sparkContext.applicationId,
    )


def bucketed_orders_join(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """The co-located big-big join: bucketed lineitem ⋈ bucketed
    orders on the order key, revenue per order priority.  With both
    sides bucketed the join stage reads its own bucket files and
    shuffles NOTHING (plan pinned in tests/test_plans.py)."""
    names = session_bucketed_tables(spark, sf_dir, n_buckets)
    li = spark.table(names["lineitem"])
    o = spark.table(names["orders"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(money_sum(rev), 2).alias("revenue"),
        )
    )


@query(
    "bucketed_join_orders",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND({money_sum_sql("l_extendedprice * (1 - l_discount)")}, 2)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    description="Big-big join with ZERO exchanges: orders and "
    "lineitem bucketed on the join key (8 buckets, sorted), so the "
    "SortMergeJoin reads co-located bucket files and nothing "
    "shuffles — the write-once/join-many layout for 100 TB fact-"
    "fact joins.  Bucketed copies are built once per (session, "
    "corpus) and cached; the query measures the steady-state join.",
)
def bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed_orders_join(spark, sf_dir)
