"""Explicit schema registry — one StructType per table.

The reference mixes three schema modes (explicit StructType in the
Spark job at /root/reference/src/script/script.py:33-36, pandas
inference at /root/reference/src/utils/transform.py:50, and BigQuery
autodetect at /root/reference/src/utils/load_bq.py:46), which lets
dtypes drift between layers. This engine uses a single registry
end-to-end; inference is an explicit opt-in at the call site.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference-parity table (CNAE code table; explicit schema per
# /root/reference/src/script/script.py:33-36).
CNAE_RAW = T.StructType(
    [
        T.StructField("CODIGO", T.IntegerType(), True),
        T.StructField("DESCRICAO", T.StringType(), True),
    ]
)

CNAE_TRUSTED = T.StructType(
    [
        T.StructField("CODIGO", T.IntegerType(), True),
        T.StructField("DESCRICAO", T.StringType(), True),
        T.StructField("SEGMENTO", T.StringType(), True),
    ]
)

# Audit/monitoring row (reference shape:
# /root/reference/src/monitoring/monitor.py:142-150).
MONITORING = T.StructType(
    [
        T.StructField("ID_MONITORING", T.StringType(), False),
        T.StructField("NM_PROJECT", T.StringType(), False),
        T.StructField("STEP", T.StringType(), False),
        T.StructField("QTD_FILES", T.LongType(), False),
        T.StructField("QTD_ROWS", T.LongType(), False),
        T.StructField("DT_START", T.StringType(), False),
        T.StructField("DT_END", T.StringType(), False),
    ]
)

# The synthetic corpus tables (FIXTURES.md §B); their schemas are read
# from the parquet footers (io.open_parquet).
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
