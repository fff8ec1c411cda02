"""Audit / monitoring (reference A1-A4, K7, O4).

The reference audits each pipeline layer by re-downloading every file
and counting rows in pandas, serially
(/root/reference/src/monitoring/monitor.py:38-100 — O(total bytes)
per step), then streaming one JSON row into BigQuery
(monitor.py:123-164).

Spark-first replacement:
- counts ride along with the job via ``df.observe`` (zero extra
  scans — the reference's eager ``df.count()`` at script.py:49 cost a
  full extra pass);
- a layer audited at rest costs ONE scan job and nothing else: the
  layer opens with an empty user schema (counting reads no column,
  so no schema-inference job runs), the file count is the relation's
  listing (``inputFiles()`` — like the reference, which counts the
  blobs it lists, an empty file counts as a file), and the row count
  is an ``Observation`` on a ``noop`` write (:func:`observed_count`,
  one job, one stage);
- the audit row is appended driver-side, as the reference's one-row
  streaming insert is (monitor.py:152): one parquet file with the
  reference's exact schema (schemas.MONITORING), written in memory
  with Arrow and put at the sink path — any URI a Spark write
  accepts — by the lake's one atomic write, ``io.put_file``, so no
  reader sees a partial file and no Spark job runs.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dados_publicos_etl_spark.io import put_file
from dados_publicos_etl_spark.schemas import MONITORING
from dados_publicos_etl_spark.tmpstore import observed


@dataclass
class AuditResult:
    step: str
    qtd_files: int
    qtd_rows: int
    dt_start: str
    dt_end: str


def observe_counts(df: DataFrame, name: str = "audit") -> tuple[DataFrame, Observation]:
    """Attach a row-count observation to a plan; the metric becomes
    available after the next action with NO extra scan."""
    return observed(df, name, qtd_rows=F.count(F.lit(1)))


def observed_count(df: DataFrame, name: str = "audit") -> int:
    """Rows of ``df`` from the cheapest action that still flows every
    row through an observation: a ``noop`` write (one job)."""
    observed, obs = observe_counts(df, name)
    observed.write.format("noop").mode("overwrite").save()
    return int(obs.get["qtd_rows"])


def count_layer(spark: SparkSession, path: str, fmt: str = "parquet",
                **options) -> tuple[int, int]:
    """(n_files, n_rows) of a storage layer in ONE distributed job
    (reference: serial pandas loop, monitor.py:70-121)."""
    df = spark.read.format(fmt).options(**options).schema(T.StructType([])).load(path)
    return len(df.inputFiles()), observed_count(df, "count_layer")


def _now() -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S")


def _append_row(sink_path: str, values: list) -> None:
    """Append one MONITORING row to the parquet table at ``sink_path``
    as one new file, without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(MONITORING)
    table = pa.Table.from_pylist([dict(zip(schema.names, values))], schema=schema)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    put_file(os.path.join(sink_path, f"part-{uuid.uuid4()}.parquet"),
             buf.getvalue().to_pybytes())


def audit_layer(
    spark: SparkSession,
    nm_project: str,
    step: str,
    path: str,
    fmt: str = "parquet",
    sink_path: str | None = None,
    **options,
) -> AuditResult:
    """Reference O4 (monitor.run): time the count job, produce the
    audit row (uuid4 id, monitor.py:32-36), optionally append it to a
    parquet audit table."""
    dt_start = _now()
    files, rows = count_layer(spark, path, fmt=fmt, **options)
    dt_end = _now()
    if sink_path:
        _append_row(sink_path, [str(uuid.uuid4()), nm_project, step,
                                files, rows, dt_start, dt_end])
    return AuditResult(step, files, rows, dt_start, dt_end)
