"""Advanced relational coverage: subqueries, quantiles, typed JSON,
unpivot, array aggregation, grouped-map Pandas UDFs, approximate
sketches.  Same registry contract as plans/relational.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import money_sum
from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import _fs, put_file, read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.tmpstore import (
    open_table,
    session_artifact,
    write_table,
)


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q4 shape: correlated EXISTS subquery "
    "(decorrelated by Catalyst into a left-semi join).",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q17_small_quantity",
    oracle="""
    WITH thresholds AS (
      SELECT l_partkey AS t_partkey,
             0.5 * ((CAST(SUM(CAST(ROUND((l_quantity) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*)) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_returnflag,
           (CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS total_price,
           COUNT(*) AS n_small
    FROM lineitem JOIN thresholds ON l_partkey = t_partkey
    WHERE l_quantity < half_avg_qty
    GROUP BY l_returnflag
    """,
    description="TPC-H Q17 shape: scalar aggregate subquery per key "
    "(avg-quantity threshold), planned as an aggregate + re-join "
    "instead of a correlated per-row subquery.",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            0.5 * (money_sum("l_quantity") / F.count(F.lit(1)))
        ).alias("half_avg_qty")
    )
    return (
        li.join(thresholds, li.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy("l_returnflag")
        .agg(
            money_sum("l_extendedprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@query(
    "having_filter",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers,
           (CAST(SUM(CAST(ROUND((c_acctbal) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS total_balance
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) >= 5 AND SUM(c_acctbal) > 0
    """,
    description="HAVING: post-aggregation filter.",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").alias("_raw_balance"),
        )
        .filter((F.col("n_customers") >= 5) & (F.col("_raw_balance") > 0))
        .select(
            "c_nationkey",
            "n_customers",
            F.round("_raw_balance", 2).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# Quantiles / statistics
# ---------------------------------------------------------------------------


@query(
    "quantiles_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Exact interpolated quantiles (percentile == DuckDB "
    "quantile_cont) + min/max.",
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias(
            "median_price"
        ),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias(
            "p90_price"
        ),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "approx_sketches",
    oracle=None,
    rows_only_reason="HLL++/KLL sketch estimates are engine-specific "
    "(DuckDB's approx algorithms differ bit-for-bit); error bounds "
    "vs exact values are pytest-pinned instead",
    description="Approximate sketches: approx_count_distinct (HLL++) "
    "and percentile_approx (KLL-ish) — the 100 TB substitutes for "
    "exact distinct/quantiles (no giant hash table, one pass, "
    "mergeable partials).",
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
            "approx_median_price"
        ),
    )


# ---------------------------------------------------------------------------
# Typed JSON, unpivot, array aggregation
# ---------------------------------------------------------------------------


@query(
    "json_typed",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS max_k
    FROM events
    GROUP BY user_id
    """,
    description="Typed JSON access: from_json with an explicit schema "
    "(vs string-typed get_json_object in json_events).",
)
def json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.select(
        "user_id", F.from_json("props", "k int").alias("p")
    )
    return parsed.groupBy("user_id").agg(
        F.sum("p.k").alias("sum_k"), F.max("p.k").alias("max_k")
    )


@query(
    "unpivot_balances",
    oracle="""
    SELECT n_nationkey, kind, ROUND(balance, 2) AS balance
    FROM (
      SELECT n_nationkey,
             ROUND(cust_balance, 2) AS customer,
             ROUND(supp_balance, 2) AS supplier
      FROM (
        SELECT n_nationkey,
               (SELECT COALESCE(SUM(c_acctbal), 0) FROM customer
                WHERE c_nationkey = n_nationkey) AS cust_balance,
               (SELECT COALESCE(SUM(s_acctbal), 0) FROM supplier
                WHERE s_nationkey = n_nationkey) AS supp_balance
        FROM nation)
    ) UNPIVOT (balance FOR kind IN (customer, supplier))
    """,
    description="Unpivot (melt): wide per-nation balances to long "
    "(kind, balance) rows via stack/UNPIVOT.",
)
def unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    cust = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum("c_acctbal").alias("cust_balance"))
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum("s_acctbal").alias("supp_balance"))
    )
    wide = (
        nation.join(cust, nation.n_nationkey == cust.nk, "left")
        .join(supp, nation.n_nationkey == supp.nk, "left")
        .select(
            "n_nationkey",
            F.round(F.coalesce("cust_balance", F.lit(0.0)), 2).alias("customer"),
            F.round(F.coalesce("supp_balance", F.lit(0.0)), 2).alias("supplier"),
        )
    )
    return wide.unpivot(
        ids=["n_nationkey"],
        values=["customer", "supplier"],
        variableColumnName="kind",
        valueColumnName="balance",
    )


@query(
    "array_agg_orders",
    oracle="""
    SELECT o_custkey AS c_custkey,
           array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
             AS order_keys,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_custkey
    """,
    description="Array aggregation: collect per-customer order keys "
    "(sorted for determinism, serialized for the oracle hash).",
)
def array_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    return orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list("o_orderkey"))
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Grouped-map Pandas UDF (applyInPandas)
# ---------------------------------------------------------------------------


@query(
    "grouped_demean",
    oracle="""
    WITH stats AS (
      SELECT user_id AS s_uid,
             (CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*) AS mean_value
      FROM events GROUP BY user_id
    )
    SELECT event_id, user_id,
           ROUND(value - mean_value, 4) AS demeaned_value
    FROM events JOIN stats ON user_id = s_uid
    """,
    description="Grouped-map Pandas UDF (applyInPandas): per-user "
    "demeaning — the Arrow-batched escape hatch for per-group logic "
    "DataFrame ops can't express. Mean derives from a pre-rounded "
    "sum so the oracle is exact.",
)
def grouped_demean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # round half-away-from-zero like SQL ROUND (python/pandas
        # round() is banker's rounding and diverges on .xx5 sums)
        def r(x, nd):
            s = 10.0**nd
            return np.trunc(x * s + np.copysign(0.5, x)) / s

        # cents-exact per-user mean, mirroring the oracle's
        # integer-cents sum (order-independent; functions/numeric.py)
        v = pdf["value"].to_numpy()
        cents = pd.Series(
            np.trunc(v * 100 + np.copysign(0.5, v)), index=pdf.index
        )
        n = pdf.groupby("user_id")["value"].transform("size")
        mean = cents.groupby(pdf["user_id"]).transform("sum") / 100.0 / n
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "demeaned_value": r((pdf["value"] - mean).to_numpy(), 4),
            }
        )

    # COARSE-GRAINED grouped map: group by a bucket of ~1/64 of the
    # users and do the real per-user math vectorized inside pandas
    # (groupby().transform), instead of one Python invocation per
    # user.  Same result, same single shuffle — but ~64 Arrow batches
    # instead of thousands of tiny per-group calls (3.9s -> ~0.7s at
    # sf0.1).  Standard pattern for HIGH-CARDINALITY grouped maps;
    # with few large groups, group directly on the key.
    bucketed = ev.withColumn("_bkt", (F.col("user_id") % 64).cast("int"))
    return bucketed.groupBy("_bkt").applyInPandas(
        demean, schema="event_id long, user_id long, demeaned_value double"
    )


# ---------------------------------------------------------------------------
# Grouped-agg Pandas UDF (vectorized UDAF)
# ---------------------------------------------------------------------------


@query(
    "weighted_avg_pandas_udaf",
    oracle="""
    SELECT l_returnflag,
           ROUND(
             (CAST(SUM(CAST(ROUND((l_extendedprice * l_quantity) * 100, 0) AS BIGINT) ) AS DOUBLE) / 100.0)
             / (CAST(SUM(CAST(ROUND((l_quantity) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0),
             4) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Grouped-aggregate Pandas UDF (vectorized UDAF over "
    "Arrow batches): quantity-weighted mean price per return flag.  "
    "Both numerator and denominator are cents-exact sums so the "
    "division matches the oracle bit-for-bit.  (Spark disallows "
    "mixing group-agg pandas UDFs with JVM aggregates in one agg(), "
    "so the UDAF is the sole aggregate here.)",
)
def weighted_avg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        # cents-integer sums, mirroring functions/numeric.py money_sum
        pq = (price * qty).to_numpy()
        q = qty.to_numpy()
        num = np.trunc(pq * 100 + np.copysign(0.5, pq)).sum() / 100.0
        den = np.trunc(q * 100 + np.copysign(0.5, q)).sum() / 100.0
        return float(num / den)

    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(wavg("l_extendedprice", "l_quantity"), 4).alias(
                "wavg_price"
            )
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function): document chunking
# ---------------------------------------------------------------------------

_CHUNK = 20  # tokens per chunk


@query(
    "udtf_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), x AS (
      SELECT doc_id, toks,
             unnest(range(CAST(ceil(len(toks) / {_CHUNK}.0) AS BIGINT))) AS i
      FROM t
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           array_to_string(
             list_slice(toks, i * {_CHUNK} + 1, (i + 1) * {_CHUNK}), ' ')
             AS chunk,
           CAST(len(list_slice(toks, i * {_CHUNK} + 1, (i + 1) * {_CHUNK}))
                AS INT) AS n_tokens
    FROM x
    """,
    description="Python UDTF (arrow-optimized) chunking each document "
    "into fixed 20-token windows via a LATERAL table-function join — "
    "the training-data chunking primitive.  One input row fans out to "
    "ceil(n_tokens/20) output rows; the UDTF runs per-partition with "
    "no shuffle.",
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx int, chunk string, n_tokens int",
        useArrow=True,
    )
    class ChunkTokens:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, (len(toks) + _CHUNK - 1) // _CHUNK):
                window = toks[i * _CHUNK : (i + 1) * _CHUNK]
                yield i, " ".join(window), len(window)

    spark.udtf.register("chunk_tokens", ChunkTokens)
    read_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("v_docs_chunk")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM v_docs_chunk, LATERAL chunk_tokens(text) c
        """
    )


# ---------------------------------------------------------------------------
# VARIANT — open semi-structured type (Spark 4)
# ---------------------------------------------------------------------------


@query(
    "json_variant",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (
             WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
           ) AS BIGINT) AS n_high_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    description="VARIANT semi-structured access (Spark 4): parse_json "
    "once into the binary VARIANT encoding, then typed "
    "try_variant_get paths.  Unlike get_json_object (re-parses the "
    "string per access) or from_json (needs a closed schema up "
    "front), VARIANT parses once and serves any later path — the "
    "scale path for schemaless event props, and parquet can store "
    "the shredded encoding so the parse cost is paid at ingest, not "
    "per query.  Reference parity: the audit payload JSON "
    "(/root/reference/src/monitoring/monitor.py:142-150) is exactly "
    "such an open-schema record.",
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("vp")
    )
    k = F.try_variant_get(F.col("vp"), "$.k", "int")
    return v.groupBy("event_type").agg(
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high_k"),
        F.sum(k).alias("sum_k"),
    )


@query(
    "xml_csv_roundtrip",
    oracle="""
    SELECT event_id,
           event_type AS xml_type,
           ROUND(value, 2) AS xml_value,
           event_type AS csv_type
    FROM events
    """,
    description="Semi-structured expression round-trips: rows "
    "serialized to XML and CSV strings, parsed back with from_xml / "
    "from_csv (Spark 4 expression-level parsers, JVM-side) — oracle "
    "rebuilds the expected values relationally, proving lossless "
    "round-trip.",
)
def xml_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip proof: double -> string -> double is exact for
    2-decimal values, so parse results hash-match the relational
    oracle.  from_xml/from_csv run in the JVM (no Python), so at
    scale this is a narrow map like any other expression."""
    ev = read_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<ev><t>"),
        F.col("event_type"),
        F.lit("</t><v>"),
        F.round("value", 2).cast("string"),
        F.lit("</v></ev>"),
    )
    csv_line = F.concat_ws(",", F.col("event_id"), F.col("event_type"))
    parsed = ev.select(
        "event_id",
        F.from_xml(xml, "t string, v double").alias("x"),
        F.from_csv(
            csv_line, "id bigint, typ string", {"sep": ","}
        ).alias("c"),
    )
    return parsed.select(
        "event_id",
        F.col("x.t").alias("xml_type"),
        F.col("x.v").alias("xml_value"),
        F.col("c.typ").alias("csv_type"),
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           (CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                 AS DOUBLE) / 100.0) AS total_price,
           ROUND((CAST(SUM(CAST(ROUND((l_extendedprice) * 100, 0) AS BIGINT))
                 AS DOUBLE) / 100.0) / COUNT(*), 4) AS avg_price,
           ROUND(MAX(l_quantity), 2) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Incremental aggregate maintenance: the table is "
    "split into two deterministic 'loads', each aggregated to "
    "algebraic partials (count, cents-sum, max), then the partials "
    "MERGE (sum of counts, sum of sums, max of maxes) - "
    "bit-identical to aggregating the whole table, which is the "
    "oracle.  The mergeability is what lets a 100 TB pipeline "
    "maintain aggregates per-batch instead of rescanning history; "
    "finalizers (avg) are computed only after the merge.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("cents"),
            F.max("l_quantity").alias("max_qty"),
        )
    # two deterministic "loads" (e.g. yesterday's table + today's
    # delta), aggregated independently - at scale these partials are
    # what the incremental pipeline persists per batch.
    load_a = partials(li.filter(F.col("l_orderkey") % 2 == 0))
    load_b = partials(li.filter(F.col("l_orderkey") % 2 == 1))
    merged = (
        load_a.unionByName(load_b)
        .groupBy("l_returnflag")
        .agg(
            F.sum("n").alias("n"),
            F.sum("cents").alias("cents"),
            F.max("max_qty").alias("max_qty"),
        )
    )
    return merged.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (F.col("cents").cast("double") / 100.0).alias("total_price"),
        F.round(
            (F.col("cents").cast("double") / 100.0) / F.col("n"), 4
        ).alias("avg_price"),
        F.round("max_qty", 2).alias("max_qty"),
    )


@query(
    "hll_sketch_merge",
    oracle=None,
    rows_only_reason="Datasketches HLL sketch bytes are "
    "engine-specific; the merge-equals-whole invariant is "
    "pytest-pinned instead",
    description="Datasketches HLL workflow (Spark 3.5+ API): "
    "hll_sketch_agg per deterministic half, hll_union_agg to merge, "
    "hll_sketch_estimate to read - the persistable/mergeable distinct-"
    "count sketch a 100 TB pipeline stores per partition/batch "
    "instead of rescanning for COUNT(DISTINCT).  Merge-equals-whole "
    "asserted in pytest.",
)
def hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    halves = li.withColumn("_half", (F.col("l_orderkey") % 2).cast("int"))
    per_half = halves.groupBy("l_returnflag", "_half").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_half.groupBy("l_returnflag").agg(
        F.hll_union_agg("sk").alias("sk")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            F.hll_sketch_estimate("sk").alias("approx_parts"),
            "exact_parts",
        )
    )


@query(
    "recursive_cte_tree_walk",
    oracle="""
    WITH RECURSIVE chain(suppkey, ancestor, depth) AS (
      SELECT s_suppkey, s_suppkey, 0 FROM supplier
      UNION ALL
      SELECT suppkey, ancestor // 2, depth + 1
      FROM chain WHERE ancestor > 1
    )
    SELECT suppkey,
           CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           CAST(SUM(ancestor) AS BIGINT) AS path_sum
    FROM chain GROUP BY suppkey
    """,
    description="Recursive CTE (Spark 4 WITH RECURSIVE): walk each "
    "supplier key up a synthetic binary-heap hierarchy (parent = "
    "k div 2) to the root, reporting chain depth and path sum.  "
    "UNION ALL recursion on an acyclic bounded walk (O(log n) "
    "levels); Spark iterates the recursion as unioned plan steps — "
    "no driver loop in user code.",
)
def recursive_cte_tree_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-native recursion — the declarative counterpart of the
    engine's iterative DataFrame loops (connected components,
    PageRank).  Spark 4 supports ``WITH RECURSIVE`` with UNION ALL
    steps (UNION-dedup recursion is not yet supported, so cyclic
    closures like dedup_components stay on the explicit loop); a
    bounded tree walk is the shape it executes well.
    """
    read_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "_rc_supplier"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain(suppkey, ancestor, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM _rc_supplier
          UNION ALL
          SELECT suppkey, ancestor DIV 2, depth + 1
          FROM chain WHERE ancestor > 1
        )
        SELECT suppkey,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               CAST(SUM(ancestor) AS BIGINT) AS path_sum
        FROM chain GROUP BY suppkey
        """
    )


@query(
    "bitmap_distinct_count",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    description="EXACT distinct count via Spark 4 bitmap aggregates: "
    "keys bucket into 32k-bit bitmaps (bitmap_bucket_number / "
    "bitmap_bit_position), bitmap_construct_agg builds one bitmap "
    "per (group, bucket), sum of bitmap_count recovers the exact "
    "count.  Unlike COUNT(DISTINCT) the per-bucket bitmaps are "
    "MERGEABLE (bitmap_or_agg) — persist them per ingest batch and "
    "distinct counts stay incrementally maintainable without "
    "rescanning history; unlike HLL the answer is exact.",
)
def bitmap_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    per_bucket = (
        li.groupBy(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("bucket"),
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(l_partkey))"
            ).alias("bmp")
        )
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(
            F.sum(F.expr("bitmap_count(bmp)"))
            .cast("long")
            .alias("n_distinct_parts")
        )
    )


@query(
    "regression_by_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
             AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_pq
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Group-wise least-squares fit via SQL:2003 linear "
    "regression aggregates (regr_slope/intercept/r2, corr): "
    "price-vs-quantity per (returnflag, linestatus).  One partial+ "
    "final hash aggregate — the closed-form moments (sums, "
    "cross-products) combine associatively, so the fit costs exactly "
    "one shuffle of 4-double states per group at any corpus size.",
)
def regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.corr(y, x), 6).alias("corr_pq"),
        )
    )


@query(
    "winsorized_robust_agg",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95,
             median(l_extendedprice) AS med
      FROM lineitem GROUP BY l_returnflag
    ), w AS (
      SELECT li.l_returnflag,
             GREATEST(LEAST(li.l_extendedprice, b.p95), b.p05) AS wx,
             li.l_extendedprice, b.med
      FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(wx), 4) AS winsorized_mean,
           ROUND(AVG(l_extendedprice), 4) AS raw_mean,
           ROUND(median(ABS(l_extendedprice - med)), 4) AS mad
    FROM w GROUP BY l_returnflag
    """,
    description="Robust statistics per group: 5/95% winsorized mean "
    "(outliers clamped to the exact percentile bounds, not dropped) "
    "and median absolute deviation.  Two passes — exact group "
    "percentiles (sort-based agg), then a broadcast of the tiny "
    "per-group bounds table back onto the scan — the standard shape "
    "for outlier-robust metrics over heavy-tailed columns at scale; "
    "at 100 TB swap pass 1's exact percentiles for approx_percentile "
    "and nothing else changes.",
)
def winsorized_robust_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("p05"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
        F.median("l_extendedprice").alias("med"),
    )
    wx = F.greatest(
        F.least(F.col("l_extendedprice"), F.col("p95")), F.col("p05")
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(wx), 4).alias("winsorized_mean"),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.round(
                F.median(F.abs(F.col("l_extendedprice") - F.col("med"))), 4
            ).alias("mad"),
        )
    )


_BOOT_B = 16  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds (cumulative), 6-hex-digit uniform
_POIS_EDGES = (0.36788, 0.73576, 0.9197, 0.98101, 0.99634, 0.99941, 0.99992)


def _bootstrap_sql(table: str) -> str:
    """One SQL text for BOTH engines (Spark temp view / DuckDB view):
    every construct used — md5, position(IN), substr, ||, CASE —
    is semantics-identical across the two, so the deterministic
    resample weights are bit-equal by construction."""
    hashes = ",\n             ".join(
        f"md5(rk || ':{b}') AS h{b}" for b in range(_BOOT_B)
    )
    u_of = lambda b: (
        "("
        + " + ".join(
            f"(position(substr(h{b}, {k + 1}, 1) IN"
            f" '0123456789abcdef') - 1) * {16 ** (5 - k)}"
            for k in range(6)
        )
        + ") / 16777216.0"
    )
    w_case = lambda b: (
        "CASE "
        + " ".join(
            f"WHEN u{b} < {p} THEN {i}" for i, p in enumerate(_POIS_EDGES)
        )
        + f" ELSE {len(_POIS_EDGES)} END AS w{b}"
    )
    us = ",\n             ".join(f"{u_of(b)} AS u{b}" for b in range(_BOOT_B))
    ws = ",\n             ".join(w_case(b) for b in range(_BOOT_B))
    sums = ",\n             ".join(
        f"SUM(w{b} * x) / SUM(w{b}) AS m{b}" for b in range(_BOOT_B)
    )
    sm = " + ".join(f"m{b}" for b in range(_BOOT_B))
    sm2 = " + ".join(f"m{b} * m{b}" for b in range(_BOOT_B))
    return f"""
    WITH base AS (
      SELECT l_returnflag AS grp, l_extendedprice AS x,
             CAST(l_orderkey AS STRING) || '-'
               || CAST(l_linenumber AS STRING) AS rk
      FROM {table}
    ), hashed AS (
      SELECT grp, x,
             {hashes}
      FROM base
    ), uniform AS (
      SELECT grp, x,
             {us}
      FROM hashed
    ), weighted AS (
      SELECT grp, x,
             {ws}
      FROM uniform
    ), agg AS (
      SELECT grp, COUNT(*) AS n, AVG(x) AS mean_x,
             {sums}
      FROM weighted GROUP BY grp
    )
    SELECT grp AS l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(mean_x, 4) AS mean_price,
           ROUND(sqrt((({sm2}) - ({sm}) * ({sm}) / {_BOOT_B}.0)
                      / {_BOOT_B - 1}.0), 4) AS boot_se
    FROM agg
    """


@query(
    "bootstrap_mean_ci",
    oracle=_bootstrap_sql("lineitem"),
    description=f"Distributed Poisson bootstrap: {_BOOT_B} resample "
    "replicates via DETERMINISTIC md5-derived Poisson(1) weights "
    "(the online-bootstrap trick — no data duplication, each row "
    "carries per-replicate weights), all replicate means in ONE "
    "aggregate pass, closed-form stddev over replicates = the "
    "standard error of the group mean.  The entire resampling is "
    "engine-portable SQL text shared verbatim with the oracle, so "
    "the 'random' weights are provably identical across engines; at "
    "100 TB this is one scan + one partial-aggregated shuffle, vs "
    "the naive bootstrap's B full passes.",
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("boot_lineitem")
    return spark.sql(_bootstrap_sql("boot_lineitem"))


@query(
    "json_quarantine",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0
                  THEN substr(props, 1, LENGTH(props) - 1)
                  ELSE props END AS j
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN json_valid(j) THEN 0 ELSE 1 END) AS BIGINT)
             AS n_quarantined,
           CAST(SUM(CASE WHEN json_valid(j)
                         THEN CAST(j ->> 'k' AS BIGINT) ELSE 0 END)
                AS BIGINT) AS sum_k
    FROM raw GROUP BY event_type
    """,
    description="Dead-letter / quarantine pattern for semi-structured "
    "ingestion: malformed JSON (planted deterministically on both "
    "sides) is detected and COUNTED per partition instead of failing "
    "the job or silently nulling — Spark's from_json PERMISSIVE null "
    "vs DuckDB json_valid agree row-for-row; valid rows aggregate "
    "normally.  The route-don't-crash contract every 100 TB ingest "
    "needs (a quarantine sink gets the bad rows + error context).",
)
def json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_type",
        # structural damage (drop the closing brace): Spark's Jackson
        # parser tolerates trailing garbage, so appended bytes are NOT
        # a portable corruption
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        )
        .otherwise(F.col("props"))
        .alias("j"),
    )
    parsed = raw.select(
        "event_type",
        F.from_json(F.col("j"), "k bigint").alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # PERMISSIVE from_json yields a struct of NULL FIELDS (not a
        # null struct) on malformed input; every valid props row
        # carries k, so a null k IS the malformed-row signal
        F.sum(F.when(F.col("p.k").isNull(), 1).otherwise(0)).alias(
            "n_quarantined"
        ),
        F.sum(F.coalesce(F.col("p.k"), F.lit(0))).alias("sum_k"),
    )


# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters (Misra-Gries candidates -> exact recount)
# ---------------------------------------------------------------------------

_HH_K = 700  # report items with frequency > N/_HH_K


@query(
    "heavy_hitters_exact",
    oracle=f"""
    WITH d AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), b AS (
      SELECT u.p[1] || ' ' || u.p[2] AS bigram
      FROM d, (SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)]))
               AS p) u
    ), c AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY bigram
    ), t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
    SELECT c.bigram, c.cnt, t.n AS n_total
    FROM c CROSS JOIN t
    WHERE c.cnt * {_HH_K} > t.n
    """,
    description=f"Exact heavy hitters over word bigrams, the standard "
    "two-pass shape for 100 TB frequency mining: pass 1 runs a "
    f"Misra-Gries summary with {_HH_K} counters PER PARTITION inside "
    "an Arrow batch iterator (bounded memory however large or skewed "
    "the partition; the union of per-partition candidates provably "
    "contains every item with global frequency > N/k, by the "
    "averaging argument), pass 2 exactly recounts ONLY the "
    "candidates via a broadcast semi-join and keeps those above "
    "threshold — so the output is EXACT (count and membership), "
    "never sketch-approximate, while the full-key shuffle of a "
    "naive global GROUP BY over a heavy-tailed key space is "
    "replaced by one bounded-size candidate list.",
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries two-pass heavy hitters.

    Plan shape: bigram explode -> mapInPandas MG summary (one
    candidate row per counter per partition) -> distinct candidate
    list (tiny: <= k * n_partitions) -> broadcast semi-join back
    onto the bigram stream -> exact GROUP BY of candidates only.
    The N total is a 1-row aggregate cross-joined broadcast (same
    scalar pattern as dq_report).
    """
    from typing import Iterator

    docs = read_table(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    toks = docs.select(ws.alias("ws"))
    n_1 = F.size("ws") - 1
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n_1),
                F.slice("ws", 2, n_1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # classic Misra-Gries: k counters; decrement-all on overflow.
        # Emitted keys are a SUPERSET of partition-heavy items; exact
        # counts come from pass 2, so undercounting here is fine.
        counters: dict = {}
        for pdf in batches:
            for g in pdf["bigram"]:
                if g in counters:
                    counters[g] += 1
                elif len(counters) < _HH_K:
                    counters[g] = 1
                else:
                    dead = [key for key in counters
                            if counters[key] == 1]
                    for key in counters:
                        counters[key] -= 1
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"bigram": list(counters.keys())})

    candidates = (
        bigrams.mapInPandas(mg_partition, schema="bigram string")
        .distinct()
    )
    total = bigrams.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        bigrams.join(F.broadcast(candidates), "bigram", "left_semi")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_K > F.col("n_total"))
        .select("bigram", "cnt", "n_total")
    )


# ---------------------------------------------------------------------------
# Global row numbering without a single-partition sort
# ---------------------------------------------------------------------------

_GRN_PARTS = 16


@query(
    "global_row_number",
    oracle="""
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                   o_orderkey) AS BIGINT) AS rn
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
    description="Global row numbering over a total order WITHOUT the "
    "naive plan's fatal flaw: ROW_NUMBER() OVER (ORDER BY ...) with "
    "no PARTITION BY collapses the whole table into ONE task — the "
    "classic 100 TB killer.  Instead: repartitionByRange on the sort "
    "key (ranges are globally ordered), materialize the layout, "
    "count rows per range partition (a P-row driver scalar), convert "
    "to cumulative offsets, and add each partition's offset to its "
    "LOCAL row_number — every partition ranks independently, the "
    "only global step is the P-row offset scan.  The same shape "
    "implements deterministic zipWithIndex / global ranking / "
    "percentile id assignment at any scale.",
)
def global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned global row_number.

    Delegates to the shared ``operators/ranking.py`` helper (also
    the ranking engine behind ``decile_lift_table`` and
    ``vocab_coverage``): ranged layout materialized once, P-row
    offset scan, per-partition local row_number + offset.
    """
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    ranked, _, _ = ranked_by_range(
        orders,
        [F.desc("o_totalprice"), "o_orderkey"],
        num_partitions=_GRN_PARTS,
    )
    return ranked.select("o_orderkey", "rn")


# ---------------------------------------------------------------------------
# Functional-dependency audit (profiling: does det -> dep hold?)
# ---------------------------------------------------------------------------

# (determinant, dependent) candidates over lineitem: the PK-ish key
# determines everything; part does NOT determine supplier (multi-
# sourced parts) — the audit quantifies, not assumes.
_FD_CANDIDATES = [
    ("l_orderkey", "l_returnflag"),
    ("l_partkey", "l_suppkey"),
    ("l_suppkey", "l_linestatus"),
    ("l_orderkey", "l_linestatus"),
]


def _fd_oracle() -> str:
    parts = []
    for det, dep in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{det}' AS det_col, '{dep}' AS dep_col,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS c
          FROM lineitem GROUP BY {det})""")
    return " UNION ALL ".join(parts)


@query(
    "fd_discovery",
    oracle=_fd_oracle(),
    description="Functional-dependency audit (schema profiling, the "
    "Metanome/data-catalog primitive): for each candidate det->dep "
    "pair, count determinant groups carrying >1 distinct dependent "
    "value — holds/violation stats that drive normalization, "
    "dedup-key choice, and CDC key validation.  Each candidate is "
    "one partial-aggregated GROUP BY over two columns (column-"
    "pruned scan); candidates union into a rows-per-candidate "
    "report, O(candidates) output at any corpus size.",
)
def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    outs = []
    for det, dep in _FD_CANDIDATES:
        g = li.groupBy(det).agg(
            F.countDistinct(dep).alias("c")
        )
        outs.append(
            g.agg(
                F.lit(det).alias("det_col"),
                F.lit(dep).alias("dep_col"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                    "n_violating"
                ),
            ).select(
                "det_col",
                "dep_col",
                "n_groups",
                "n_violating",
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# Corrupt-file-tolerant scan (route-don't-crash at the FILE level)
# ---------------------------------------------------------------------------

def _corrupt_scan_dir(spark: SparkSession, sf_dir: str) -> str:
    """A copy of documents.parquet plus one deliberately corrupt
    parquet file (valid magic, garbage body — the torn-write /
    truncated-upload artifact every 100 TB ingest eventually meets),
    built once per (session, corpus) through the lake filesystem."""
    import os

    def build(workdir: str) -> str:
        sc = spark.sparkContext
        hadoop_fs = sc._jvm.org.apache.hadoop.fs
        fs, src = _fs(os.path.join(sf_dir, "documents.parquet"))
        dst_fs, dst = _fs(workdir)
        # a file lists as itself; a folder (scale-probe replica) as its parts
        parts = sorted(
            (st.getPath() for st in fs.listStatus(src)
             if st.getPath().getName().endswith(".parquet")),
            key=lambda p: p.getName(),
        )
        for i, part in enumerate(parts):
            hadoop_fs.FileUtil.copy(
                fs, part, dst_fs, hadoop_fs.Path(dst, f"part-{i:03d}.parquet"),
                False, sc._jsc.hadoopConfiguration(),
            )
        # parquet magic + garbage: footer parse fails, row count is
        # unrecoverable — exactly the shape ignoreCorruptFiles skips
        put_file(
            os.path.join(workdir, "part-bad.parquet"),
            b"PAR1" + b"\x00garbage\x00" * 64,
        )
        return workdir

    return session_artifact("corrupt_scan", sf_dir, build)


@query(
    "scan_corrupt_tolerant",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_corrupt_files
    FROM documents
    """,
    description="File-level route-don't-crash: a landing zone with a "
    "planted torn-write parquet (valid magic, unreadable footer) is "
    "scanned with spark.sql.files.ignoreCorruptFiles — the job "
    "completes, healthy files contribute every row, and the corrupt "
    "file count is derived by differencing the directory listing "
    "against distinct input_file_name() in the scan (the quarantine "
    "listing an operator would route to a dead-letter bucket).  "
    "Complements json_quarantine (row-level) one level down the "
    "stack; without the conf one bad object fails a 100 TB job.",
)
def scan_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _corrupt_scan_dir(spark, sf_dir)
    # the tolerance is a READ OPTION, not a session conf toggle: the
    # returned DataFrame is lazy, so a conf set/restore around plan
    # construction would be unwound before execution — the option is
    # bound into the scan node and travels with the plan.  An
    # explicit schema skips footer-driven inference, which would
    # fail on the corrupt file before the option could apply.
    scan = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        .parquet(d)
    )
    per_file = (
        scan.select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = per_file.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_files_read"),
    )
    fs, root = _fs(d)
    n_listed = sum(
        st.getPath().getName().endswith(".parquet") for st in fs.listStatus(root)
    )
    return stats.select(
        F.col("n_rows").cast("long"),
        (F.lit(n_listed) - F.col("n_files_read"))
        .cast("long")
        .alias("n_corrupt_files"),
    )


@query(
    "incremental_join_view_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    description="Incremental JOIN-view maintenance: the aggregated "
    "join view V = agg(orders >< lineitem) is maintained under "
    "batch inserts to BOTH sides via the delta-join identity "
    "(A+dA)><(B+dB) = A><B + dA><B + A><dB + dA><dB — the view "
    "update touches only delta-sized joins (each delta join keys on "
    "orderkey: dA><B and A><dB are delta x indexed-base lookups, "
    "dA><dB is delta x delta), then the three delta partials MERGE "
    "into the stored partial aggregate exactly like "
    "incremental_agg_merge.  Oracle = the monolithic recompute; "
    "equality IS the correctness proof that a 100 TB pipeline can "
    "maintain join views per-batch without rescanning history.  "
    "Deltas here are deterministic mod-splits standing in for "
    "yesterday/today loads.",
)
def incremental_join_view_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    # deterministic "prior snapshot" vs "today's delta" on each side
    a = orders.filter(F.col("o_orderkey") % 3 != 0)
    da = orders.filter(F.col("o_orderkey") % 3 == 0)
    b = li.filter(F.col("l_extendedprice") < 50000)
    db = li.filter(F.col("l_extendedprice") >= 50000)

    def partial(o: DataFrame, l: DataFrame) -> DataFrame:
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast(
                        "long"
                    )
                ).alias("revenue_cents"),
            )
        )

    # stored view partial + the three delta-sized maintenance joins
    stored = partial(a, b)
    deltas = [partial(da, b), partial(a, db), partial(da, db)]
    merged = stored
    for d in deltas:
        merged = merged.unionByName(d)
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").cast("long").alias("n_items"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )


_CMS_D = 4      # hash rows
_CMS_W = 16     # buckets per row (vocab is ~31 terms at
                # test sf — w<|vocab| keeps the sketch in
                # its collision regime so overcounts are real)
_CMS_TOPK = 20  # terms to report estimates for


@query(
    "countmin_sketch_estimate",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), truth AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS true_freq
      FROM tok GROUP BY term
    ), salts AS (
      SELECT * FROM (VALUES (0),(1),(2),(3)) s(d)
    ), cells AS (
      SELECT d,
             CAST(('0x' || substr(md5(d || ':' || term), 1, 8))
                  AS BIGINT) % {_CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok CROSS JOIN salts
      GROUP BY d, bucket
    ), top_terms AS (
      SELECT term, true_freq FROM truth
      ORDER BY true_freq DESC, term LIMIT {_CMS_TOPK}
    ), probes AS (
      SELECT t.term, t.true_freq, c.cnt
      FROM top_terms t CROSS JOIN salts s
      JOIN cells c ON c.d = s.d
       AND c.bucket = CAST(('0x' || substr(md5(s.d || ':' || t.term),
                                           1, 8)) AS BIGINT) % {_CMS_W}
    )
    SELECT term, true_freq,
           CAST(MIN(cnt) AS BIGINT) AS cms_estimate,
           CAST(MIN(cnt) - true_freq AS BIGINT) AS overcount
    FROM probes GROUP BY term, true_freq
    """,
    description=f"Count-Min sketch, EXACTLY differentially checked: "
    f"the {_CMS_D}x{_CMS_W} sketch is built from md5-salted bucket "
    "hashing (portable bit-for-bit to any engine with md5), so the "
    "sketch construction itself — not just its error bound — is "
    "oracle-verified; estimates for the top-20 terms are "
    "min-over-rows probes with the one-sided overcount reported "
    "against exact truth (a pytest asserts estimate >= truth for "
    "EVERY term — the CMS guarantee).  Scale: the build is one "
    "explode x 4 salts + a hash aggregate whose OUTPUT is the fixed "
    f"{_CMS_D * _CMS_W}-cell table (kilobytes at any corpus size) "
    "and cells merge by addition — the per-batch persistable "
    "frequency sketch beside the exact Misra-Gries two-pass; probes "
    "broadcast the cell table.",
)
def countmin_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.functions.text import tokens
    from dados_publicos_etl_spark.operators.sampling import hash_bucket

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    truth = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("true_freq")
    )
    salts = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))

    def bucket(dcol, termcol):
        return hash_bucket(
            F.concat(dcol.cast("string"), F.lit(":"), termcol), _CMS_W
        )

    # The sketch depends on terms only through their frequencies, so
    # build the cells from the |vocab|-row truth table (one hash
    # aggregate over the token stream, already computed) instead of
    # fanning the full token stream x d salts through a second
    # shuffle — the cell counts are identical by construction
    # (cnt(d, b) = sum of true_freq over terms hashing to b).
    # Measured 2.1 s -> ~0.6 s at sf0.1; at 100 TB this is the
    # difference between one token-stream pass and d+1 of them.
    cells = (
        truth.crossJoin(F.broadcast(salts))
        .groupBy(
            "d", bucket(F.col("d"), F.col("term")).alias("bucket")
        )
        .agg(F.sum("true_freq").alias("cnt"))
    )
    top_terms = truth.orderBy(
        F.desc("true_freq"), F.asc("term")
    ).limit(_CMS_TOPK)
    probes = (
        top_terms.crossJoin(F.broadcast(salts))
        .withColumn("bucket", bucket(F.col("d"), F.col("term")))
        .join(F.broadcast(cells), ["d", "bucket"])
    )
    return probes.groupBy("term", "true_freq").agg(
        F.min("cnt").cast("long").alias("cms_estimate"),
        (F.min("cnt") - F.col("true_freq"))
        .cast("long")
        .alias("overcount"),
    )


_BLOOM_WORDS = 256  # filter words
_BLOOM_BPW = 63     # usable bits per 64-bit word: bit 63 stays clear so
                    # the 1<<bit shift never overflows on an ANSI engine
                    # (DuckDB raises where non-ANSI Spark would wrap)
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BPW
_BLOOM_K = 3        # hash functions
_BLOOM_SEG = "BUILDING"


def _bloom_pos_sql(key: str, j: int) -> str:
    """Portable md5-derived bit position j for key expression (SQL)."""
    return (
        f"(CAST(('0x' || substr(md5('b{j}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {_BLOOM_M})"
    )


@query(
    "bloom_filter_semijoin",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
    ), dim_bits AS (
      SELECT j, {_bloom_pos_sql("c_custkey", 0)} AS p0,
                {_bloom_pos_sql("c_custkey", 1)} AS p1,
                {_bloom_pos_sql("c_custkey", 2)} AS p2
      FROM dim CROSS JOIN (SELECT 0 AS j) s
    ), positions AS (
      SELECT p0 AS p FROM dim_bits UNION ALL
      SELECT p1 FROM dim_bits UNION ALL
      SELECT p2 FROM dim_bits
    ), bloom AS (
      SELECT p / {_BLOOM_BPW} AS word,
             bit_or(1::BIGINT << CAST(p % {_BLOOM_BPW} AS INT)) AS bits
      FROM positions GROUP BY 1
    ), fact AS (
      SELECT o_orderkey, o_custkey,
             {_bloom_pos_sql("o_custkey", 0)} AS p0,
             {_bloom_pos_sql("o_custkey", 1)} AS p1,
             {_bloom_pos_sql("o_custkey", 2)} AS p2
      FROM orders
    ), probes AS (
      SELECT o_orderkey, o_custkey, p FROM (
        SELECT o_orderkey, o_custkey, p0 AS p FROM fact UNION ALL
        SELECT o_orderkey, o_custkey, p1 FROM fact UNION ALL
        SELECT o_orderkey, o_custkey, p2 FROM fact
      )
    ), checked AS (
      SELECT pr.o_orderkey, pr.o_custkey,
             CASE WHEN (b.bits & (1::BIGINT << CAST(pr.p % {_BLOOM_BPW} AS INT)))
                       <> 0 THEN 1 ELSE 0 END AS hit
      FROM probes pr LEFT JOIN bloom b ON pr.p / {_BLOOM_BPW} = b.word
    ), verdict AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN SUM(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS pass
      FROM checked GROUP BY 1, 2
    ), flagged AS (
      SELECT v.o_orderkey, v.pass,
             CASE WHEN d.c_custkey IS NULL THEN 0 ELSE 1 END AS member
      FROM verdict v LEFT JOIN dim d ON v.o_custkey = d.c_custkey
    )
    SELECT CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim_keys,
           CAST((SELECT COALESCE(SUM(bit_count(bits)), 0) FROM bloom)
                AS BIGINT) AS bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_fact,
           CAST(SUM(member) AS BIGINT) AS n_member,
           CAST(SUM(pass) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(1 - pass) AS BIGINT) AS n_filtered
    FROM flagged
    """,
    description=f"Explicit Bloom-filter semi-join reduction: a "
    f"{_BLOOM_M}-bit / k={_BLOOM_K} filter built from the "
    f"'{_BLOOM_SEG}'-segment customer keys (md5-salted positions, "
    "bit_or over 256 words), broadcast onto the orders fact scan; "
    "per-order pass/filter verdicts cross-checked against exact "
    "membership — zero false negatives by construction, measured "
    "false-positive count in the output.  The runtime-filter "
    "pattern (session.py enables Spark's own) made explicit, "
    "differentially checkable, and engine-portable.",
)
def bloom_filter_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build + probe as relational algebra.

    Scale shape: the filter is a fixed 2 KB table (256 longs) built
    with one partial-aggregated groupBy over the dim keys, then
    BROADCAST to every fact partition — the fact table never
    shuffles, rows failing the filter die at the scan, and the only
    wide exchange left is whatever downstream consumers still need.
    This is exactly what `spark.sql.optimizer.runtime.bloomFilter`
    injects implicitly (pinned in tests/test_plans.py); here the
    filter is first-class data, so its bit layout, fill factor, and
    false-positive behavior are themselves differentially verified
    (bit 63 kept clear per word — ANSI engines raise on 1<<63 where
    Spark wraps).  Zero false negatives is structural: every dim
    key's bits are in the filter, so `n_pass >= n_member` and the
    pytest asserts it.
    """
    m, bpw, k = _BLOOM_M, _BLOOM_BPW, _BLOOM_K

    def pos(key: str, j: int):
        salted = F.concat(F.lit(f"b{j}:"), F.col(key).cast("string"))
        return hex_long(F.md5(salted), 8) % m

    dim = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BLOOM_SEG)
        .select("c_custkey")
    )
    positions = dim.select(
        F.explode(F.array(*[pos("c_custkey", j) for j in range(k)])).alias("p")
    )
    bloom = positions.groupBy((F.col("p") / bpw).cast("long").alias("word")).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {bpw} AS INT))")
        ).alias("bits")
    )
    fact = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probes = fact.select(
        "o_orderkey",
        "o_custkey",
        F.explode(F.array(*[pos("o_custkey", j) for j in range(k)])).alias("p"),
    )
    checked = probes.join(
        F.broadcast(bloom),
        (F.col("p") / bpw).cast("long") == F.col("word"),
        "left",
    ).select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.expr(
                f"(bits & shiftleft(CAST(1 AS BIGINT), CAST(p % {bpw} AS INT)))"
            )
            != 0,
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    verdict = checked.groupBy("o_orderkey", "o_custkey").agg(
        F.when(F.sum("hit") == k, 1).otherwise(0).alias("pass")
    )
    flagged = verdict.join(
        F.broadcast(dim), verdict.o_custkey == dim.c_custkey, "left"
    ).select(
        "pass",
        F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias("member"),
    )
    stats = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        F.sum("member").cast("long").alias("n_member"),
        F.sum("pass").cast("long").alias("n_pass"),
        F.sum(
            F.when((F.col("pass") == 1) & (F.col("member") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(1 - F.col("pass")).cast("long").alias("n_filtered"),
    )
    dim_stats = (
        bloom.agg(
            F.sum(F.bit_count("bits")).cast("long").alias("bits_set")
        )
        .crossJoin(dim.agg(F.count(F.lit(1)).cast("long").alias("n_dim_keys")))
    )
    return dim_stats.crossJoin(stats).select(
        "n_dim_keys",
        "bits_set",
        "n_fact",
        "n_member",
        "n_pass",
        "n_false_pos",
        "n_filtered",
    )


_F2_D = 4    # independent md5-salted hash rows
_F2_W = 256  # buckets per row


@query(
    "selfjoin_size_cms",
    oracle=f"""
    WITH truth AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS true_f2
      FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
    ), salted AS (
      SELECT d, CAST(('0x' || substr(md5(d || ':' || l_partkey), 1, 8))
                     AS BIGINT) % {_F2_W} AS bucket
      FROM lineitem, UNNEST(generate_series(0, {_F2_D - 1})) AS s(d)
    ), cells AS (
      SELECT d, bucket, COUNT(*) AS cnt FROM salted GROUP BY 1, 2
    ), est AS (
      SELECT d, CAST(SUM(cnt * cnt) AS BIGINT) AS est_f2
      FROM cells GROUP BY d
    )
    SELECT CAST(e.d AS INT) AS d, e.est_f2, t.true_f2,
           CAST(e.est_f2 - t.true_f2 AS BIGINT) AS overcount
    FROM est e CROSS JOIN truth t
    """,
    description="Self-join size (F2) estimation from a Count-Min row: "
    f"est_d = sum of squared bucket counts over {_F2_W} md5-salted "
    "buckets, one sketch pass + one 256-cell aggregate per hash row — "
    "the optimizer's join-cardinality pre-check that never scans a "
    "join.  Hash collisions only ADD cross terms, so every est_f2 >= "
    "true_f2 (one-sided, pinned in pytest); take the MIN across the "
    f"{_F2_D} rows for the working estimate.",
)
def selfjoin_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (AMS F2 via CMS buckets).

    Scale shape: |lineitem ⋈ lineitem ON l_partkey| computed exactly
    needs the full key-frequency vector (a groupBy the size of the
    key domain); the sketch needs ONE pass and d x w = 1024 cells of
    state, mergeable across partitions/shards by addition — the
    standard pre-flight check before committing a cluster to a
    possibly-exploding join.  The truth term here is computed
    alongside (it is the differential check), which at 100 TB you
    would skip — that is the point of the estimate.
    """
    from dados_publicos_etl_spark.operators.sampling import hash_bucket

    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    # One token-stream pass: the per-key frequency table (|keys| rows)
    # feeds BOTH the exact F2 and the sketch cells — the salt fan-out
    # happens on |keys| rows, never on the fact stream (same
    # frequency-table trick as the Count-Min build).
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    truth = freq.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("true_f2")
    )
    salts = spark.range(_F2_D).select(F.col("id").cast("int").alias("d"))
    cells = (
        freq.crossJoin(F.broadcast(salts))
        .groupBy(
            "d",
            hash_bucket(
                F.concat(
                    F.col("d").cast("string"),
                    F.lit(":"),
                    F.col("l_partkey").cast("string"),
                ),
                _F2_W,
            ).alias("bucket"),
        )
        .agg(F.sum("c").alias("cnt"))
    )
    est = cells.groupBy("d").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("est_f2")
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "d",
        "est_f2",
        "true_f2",
        (F.col("est_f2") - F.col("true_f2")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured round-trip (Spark 4 open variant type)
# ---------------------------------------------------------------------------


@query(
    "variant_json_shred",
    oracle="""
    WITH j AS (
      SELECT to_json(struct_pack(event_id := event_id,
                                 event_type := event_type,
                                 user_id := user_id)) AS doc
      FROM events
    )
    SELECT json_extract_string(doc, '$.event_type') AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CAST(json_extract(doc, '$.event_id') AS BIGINT))
                AS BIGINT) AS max_event_id,
           CAST(COUNT(DISTINCT CAST(json_extract(doc, '$.user_id')
                                    AS BIGINT)) AS BIGINT) AS n_users
    FROM j GROUP BY 1
    """,
    description="Semi-structured ingestion through Spark 4's open "
    "VARIANT type: events serialized to JSON documents, parsed with "
    "parse_json into VARIANT (binary-encoded, schema-on-read), "
    "fields shredded back out with typed variant_get, then grouped — "
    "the modern lakehouse path for heterogeneous event payloads "
    "(VARIANT decode is ~8x faster than string JSON re-parsing per "
    "access because paths navigate the binary encoding).  The oracle "
    "runs the identical shape through DuckDB's JSON functions, "
    "pinning extraction semantics; typed long/string extraction "
    "keeps floats out entirely.  Narrow map + one partial-aggregated "
    "groupBy — no extra shuffle versus the typed-column query.",
)
def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        F.parse_json(
            F.to_json(F.struct("event_id", "event_type", "user_id"))
        ).alias("v")
    )
    return (
        v.select(
            F.variant_get("v", "$.event_type", "string").alias("event_type"),
            F.variant_get("v", "$.event_id", "long").alias("event_id"),
            F.variant_get("v", "$.user_id", "long").alias("user_id"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("event_id").cast("long").alias("max_event_id"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Retractable aggregate maintenance (incremental view with DELETEs)
# ---------------------------------------------------------------------------


@query(
    "retractable_agg_maintenance",
    oracle="""
    WITH remaining AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 17 <> 3
    )
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           (CAST(SUM(cents) AS DOUBLE) / 100.0) AS total_value,
           (CAST(MIN(cents) AS DOUBLE) / 100.0) AS min_value
    FROM remaining GROUP BY 1
    """,
    description="Retractable incremental aggregate: a maintained "
    "per-priority (count, sum, min) view absorbs a DELETE batch "
    "(every 17th order) WITHOUT recomputing from scratch — counts "
    "and sums subtract the delta's partials (additive retraction), "
    "while MIN, which cannot retract, is recomputed ONLY for the "
    "groups whose current minimum was actually deleted (a targeted "
    "per-affected-group pass, O(affected groups' rows), found by "
    "comparing the delta's per-group min against the base view).  "
    "This is the asymmetric-merge discipline of every materialized-"
    "view engine (Calcite/Materialize): additive aggregates retract, "
    "extreme aggregates re-derive narrowly.  The oracle recomputes "
    "the post-delete state directly, pinning that maintenance == "
    "recompute.",
)
def retractable_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    deleted = orders.filter(F.col("o_orderkey") % 17 == 3)
    # the maintained BASE view (as a real pipeline would hold it)
    base = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.min("cents").alias("mn"),
    )
    dagg = deleted.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("d_n"),
        F.sum("cents").alias("d_s"),
        F.min("cents").alias("d_mn"),
    )
    merged = base.join(F.broadcast(dagg), "o_orderpriority", "left").select(
        "o_orderpriority",
        (F.col("n") - F.coalesce("d_n", F.lit(0))).alias("n"),
        (F.col("s") - F.coalesce("d_s", F.lit(0))).alias("s"),
        "mn",
        # min is retract-UNSAFE exactly when the deleted batch
        # touched the current minimum
        (F.coalesce("d_mn", F.lit(None)) == F.col("mn")).alias("min_hit"),
    )
    # targeted re-derive: only groups whose min was deleted rescan,
    # and only over their own remaining rows (broadcast semi filter)
    hit_groups = merged.filter(F.col("min_hit")).select("o_orderpriority")
    remaining = orders.join(
        F.broadcast(deleted.select("o_orderkey")), "o_orderkey", "left_anti"
    )
    remin = (
        remaining.join(F.broadcast(hit_groups), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.min("cents").alias("re_mn"))
    )
    return (
        merged.join(F.broadcast(remin), "o_orderpriority", "left")
        # a delete batch that removes a group's LAST row retracts the
        # group entirely (n reaches 0); without this the stale min
        # would leak through the coalesce since remin has no row
        .filter(F.col("n") > 0)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("n").cast("long").alias("n"),
            (F.col("s").cast("double") / 100.0).alias("total_value"),
            (
                F.coalesce("re_mn", F.col("mn")).cast("double") / 100.0
            ).alias("min_value"),
        )
    )


# ---------------------------------------------------------------------------
# Hive-partitioned layout: write partitioned, read with partition pruning
# ---------------------------------------------------------------------------

_HP_PRIORITY = "1-URGENT"


def _hive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a partitioned copy of orders, a session artifact: the
    query measures the pruned READ, not the layout write."""

    def build(workdir: str):
        od = read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
            "o_orderpriority",
        )
        return write_table(od, workdir + "/orders", ["o_orderpriority"])

    return open_table(spark, session_artifact("hive_orders", sf_dir, build))


@query(
    "hive_partition_prune",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderpriority = '{_HP_PRIORITY}'
    GROUP BY o_orderstatus
    """,
    description="Hive-partitioned layout round-trip with PARTITION "
    "PRUNING: orders rewritten partitionBy(o_orderpriority) (the "
    "write-side layout decision), then read back filtered to one "
    "priority — the filter must resolve at the FILE LISTING level "
    "(PartitionFilters in the scan, pinned by the plan test), so "
    "the job reads 1/5th of the files and ZERO rows of the other "
    "partitions.  This is the first-line scale lever for every "
    "time/tenant/category-partitioned 100 TB table: predicates on "
    "the partition column cost directory listings, not IO.  The "
    "partitioned copy is built once per (session, corpus) and "
    "cached (the bucketed-join pattern); correctness is the "
    "DuckDB-differential against the unpartitioned filter+aggregate "
    "(values prove the partition write/read round-trips losslessly, "
    "including the partition column rehydrated from directory "
    "names).",
)
def hive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    scan = _hive_orders(spark, sf_dir).filter(
        F.col("o_orderpriority") == _HP_PRIORITY
    )
    return scan.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
