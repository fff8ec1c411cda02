"""Shared streaming file source for the events table.

Structured Streaming's file source needs an explicit schema, and the
driver testdata has carried both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
``ts`` columns across rounds.  Declaring ``ts long`` keeps NANOS files
readable (``spark.sql.legacy.parquet.nanosAsLong``), but the raw int64
must then be rescaled by the unit the WRITER used — so every streaming
reader goes through this one helper, which sniffs the unit from the
parquet footer exactly like the batch path (``io.read_table``) does.
Hardcoding a unit is the 1970-windows bug class.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.io import epoch_micros_sql, parquet_ts_meta
from dados_publicos_etl_spark.session import read_nanos_as_long

EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, sf_dir: str, ntz: bool = False
) -> DataFrame:
    """``readStream`` over ``<sf_dir>/events.parquet`` with ``ts``
    normalized to a microsecond timestamp.

    ``ntz=False`` (default) yields TIMESTAMP (LTZ) — required by
    watermarks; render window bounds through ``to_utc_timestamp`` to
    stay session-timezone-stable.  ``ntz=True`` yields TIMESTAMP_NTZ
    (UTC wall time), matching the batch path for operators that only
    format/compare timestamps.

    The declared schema BRANCHES on the footer's physical unit:
    NANOS (and plain-numeric) files read ``ts`` as long
    (``nanosAsLong``) and rescale by integer arithmetic; MICROS /
    MILLIS files are NOT long-readable under that conf, so they read
    through Spark's native timestamp path (TIMESTAMP_NTZ for
    wall-time files, TIMESTAMP for adjusted-to-UTC files) and
    convert to epoch micros with session-timezone-independent
    expressions (NTZ diff from epoch / ``unix_micros``).
    """
    read_nanos_as_long(spark)
    unit, tz = parquet_ts_meta(os.path.join(sf_dir, "events.parquet"), "ts")
    if unit in ("ns", None):
        schema = EVENTS_RAW_SCHEMA
        micros = epoch_micros_sql("ts", unit)
    elif tz is None:
        # wall-time NTZ file: pure NTZ arithmetic, no session-tz term
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp_ntz")
        micros = (
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', `ts`)"
        )
    else:
        # instant-semantics file (adjusted to UTC): epoch extraction
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp")
        micros = "unix_micros(`ts`)"
    if ntz:
        ts_expr = (
            f"timestampadd(MICROSECOND, {micros}, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    else:
        ts_expr = f"timestamp_micros({micros})"
    # layout-aware source: the streaming file source requires a
    # DIRECTORY basePath, so a directory-layout events.parquet (the
    # scale-probe replica) is streamed directly, while the testdata's
    # single-FILE layout keeps the parent dir + leaf-name filter (a
    # pathGlobFilter alone would silently feed an EMPTY stream on the
    # directory layout — measured as bogus <1x scale ratios)
    table = f"{sf_dir}/events.parquet"
    if os.path.isdir(table):
        reader = spark.readStream.schema(schema).parquet(table)
    else:
        reader = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return reader.withColumn("ts", F.expr(ts_expr))
