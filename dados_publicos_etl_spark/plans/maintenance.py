"""Storage-maintenance operators as REGISTERED, oracle-checked
queries (round 8, verdict #4): Z-order layout, globally-sorted
export, small-file compaction, TTL retention, atomic versioned
publish, sharded JSONL export.

These six existed since rounds 5-7 as pytest-only components
(``operators/layout.py``, ``io.py``); the driver contract never
exercised them.  Each now runs its REAL maintenance op into a
session artifact (``tmpstore.session_artifact``: built once per
corpus snapshot — the same steady-state economics as
``session_ivf_index``: a layout job runs once, every reader
amortizes it) and returns the READ-BACK result,
whose content a DuckDB oracle checks against the source tables.
That upgrades them past the verdict's ask (rows-only entries): the
lossless-round-trip / retention-cutoff semantics are differential,
while the physical-layout properties that SQL cannot see (file-level
clustering, cross-file total order, file counts, pointer atomicity)
stay pinned by their original pytests in
``tests/test_sources_warehouse.py``.

Reference scope: the reference ETL rewrites whole tables per run
(`/root/reference/etl.py` writes with ``coalesce(1)``); these are
the maintenance primitives that replace that pattern at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.tmpstore import (
    open_table,
    session_artifact,
    write_table,
)


_ZORDER_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice"]


@query(
    "zorder_layout_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice
    FROM lineitem
    """,
    description="Z-order clustering as a registered maintenance op: "
    "lineitem rewritten clustered on the interleaved quantile-rank "
    "bits of (l_extendedprice, l_quantity) — Delta/Iceberg's "
    "OPTIMIZE ZORDER BY in plain Spark (approxQuantile sketch "
    "boundaries, pure-expression bit interleave, ONE range shuffle), "
    "then read back.  The oracle proves the rewrite is LOSSLESS "
    "(exact content equality with the source); the payoff SQL cannot "
    "see — per-file min/max footers selective on BOTH columns at "
    "once — is pinned quantitatively in pytest.  Layout runs once "
    "per corpus snapshot (session-cached), the steady-state shape of "
    "a real maintenance job.",
)
def zorder_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.layout import write_zordered

    def build(ws: str):
        li = read_table(spark, sf_dir, "lineitem").select(*_ZORDER_COLS)
        return write_zordered(
            li, f"{ws}/lineitem_z", "l_extendedprice", "l_quantity"
        )

    table = session_artifact("maint_zorder", sf_dir, build)
    return open_table(spark, table).select(*_ZORDER_COLS)


@query(
    "sorted_export_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    """,
    description="Globally-sorted export as a registered maintenance "
    "op: orders rewritten as a range-partitioned, within-file-sorted "
    "parquet layout (file k's max key <= file k+1's min key — a "
    "total order with NO single-task sort; repartitionByRange + "
    "sortWithinPartitions, the write-side sibling of "
    "ranking.ranked_by_range), then read back.  The oracle proves "
    "the export is LOSSLESS; the cross-file total-order manifest "
    "property stays pinned in pytest (file boundaries come from "
    "range-sampling and are not SQL-derivable).",
)
def sorted_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.layout import (
        write_globally_sorted,
    )

    def build(ws: str):
        od = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        # the handle; the manifest stays an unrun plan
        return write_globally_sorted(
            od, f"{ws}/orders_sorted", ["o_orderkey"]
        )[0]

    table = session_artifact("maint_sorted_export", sf_dir, build)
    return open_table(spark, table).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "compaction_roundtrip",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    """,
    description="Small-file compaction as a registered maintenance "
    "op: orders written partitioned by o_orderpriority with "
    "deliberately fragmented files (6 per partition — the state a "
    "year of micro-batch appends leaves behind), then "
    "compact_partitions rewrites ONLY the oversplit partitions via "
    "dynamic partition overwrite (cost is O(oversplit partitions), "
    "never O(dataset)), then read back.  The oracle proves "
    "compaction is LOSSLESS including the dir-name round-trip of "
    "partition values (Hive %XX escapes, type re-attachment); the "
    "file-count collapse stays pinned in pytest.",
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import compact_partitions

    def build(ws: str):
        od = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        table = write_table(
            od.repartition(6), f"{ws}/orders_parts", ["o_orderpriority"]
        )
        compact_partitions(
            spark, table.path, ["o_orderpriority"], min_files_to_compact=2
        )
        return table

    table = session_artifact("maint_compaction", sf_dir, build)
    return open_table(spark, table).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


_RETAIN_FROM = "1999-01"  # keep months >= this; drop 1995-1998


@query(
    "retention_enforcement",
    oracle=f"""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS order_month
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') >= '{_RETAIN_FROM}'
    """,
    description="TTL / retention enforcement as a registered "
    "maintenance op: orders written partitioned by order month, then "
    "enforce_retention drops every partition directory older than "
    f"{_RETAIN_FROM} as a METADATA operation (directory listing + "
    "O(expired) deletes — never a read-rewrite of surviving data; "
    "the difference between seconds and a full rescan at 100 TB), "
    "then read back.  The oracle IS the retention semantics: "
    "surviving rows must equal the source filtered to the cutoff.  "
    "The metadata-only claim (surviving files byte-untouched) stays "
    "pinned in pytest.",
)
def retention_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import enforce_retention

    def build(ws: str):
        od = read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        )
        table = write_table(od, f"{ws}/orders_by_month", ["order_month"])
        enforce_retention(table.path, "order_month", _RETAIN_FROM)
        return table

    table = session_artifact("maint_retention", sf_dir, build)
    return open_table(spark, table).select(
        "o_orderkey", F.col("order_month").cast("string").alias("order_month")
    )


@query(
    "versioned_publish_read",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(2 AS INT) AS version
    FROM customer
    """,
    description="Atomic versioned publish as a registered "
    "maintenance op: TWO successive versions of a customer snapshot "
    "publish via write-into-v<N> + _CURRENT pointer swap (readers "
    "never observe a half-written table; rollback is rewriting one "
    "tiny pointer file), then the pointer is resolved and read.  "
    "The oracle proves pointer-follow semantics: the read MUST "
    "return version 2's content (the full table, stamped "
    "version=2), never v1's half (a stale or torn pointer would "
    "hash-mismatch).  Pointer atomicity under concurrent publish "
    "stays pinned in pytest.",
)
def versioned_publish_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import (
        publish_version,
        read_current_version,
    )

    def build(ws: str) -> str:
        root = f"{ws}/customer_versions"
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        # v1: a partial snapshot (what an interrupted pipeline left)
        publish_version(
            cust.filter("c_custkey % 2 = 0").withColumn(
                "version", F.lit(1).cast("int")
            ),
            root,
        )
        # v2: the complete snapshot — _CURRENT must now resolve here
        publish_version(
            cust.withColumn("version", F.lit(2).cast("int")), root
        )
        return root

    root = session_artifact("maint_publish", sf_dir, build)
    return read_current_version(spark, root).select(
        "c_custkey", "c_acctbal", "version"
    )


@query(
    "jsonl_export_roundtrip",
    oracle="""
    SELECT doc_id, lang, text
    FROM documents
    """,
    description="Sharded JSONL export as a registered maintenance "
    "op: the documents corpus exported as size-budgeted .jsonl "
    "shards (the standard LLM-training-data interchange layout — "
    "shard count from a bounded-sample byte estimate, ONE "
    "repartition shuffle), then parsed back via from_json.  The "
    "oracle proves the export is byte-LOSSLESS through JSON "
    "escaping (newlines, quotes, unicode — the places a naive text "
    "export corrupts training data); the shard-count budget stays "
    "pinned in pytest.",
)
def jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import write_jsonl_shards

    def build(ws: str) -> str:
        path = f"{ws}/docs_jsonl"
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        write_jsonl_shards(docs, path, target_mb=1)
        return path

    path = session_artifact("maint_jsonl", sf_dir, build)
    parsed = spark.read.text(path).select(
        F.from_json(
            "value", "doc_id long, lang string, text string"
        ).alias("r")
    )
    return parsed.select("r.doc_id", "r.lang", "r.text")
