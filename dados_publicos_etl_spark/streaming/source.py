"""Streaming file sources: the events table and replayable feeds.

Structured Streaming's file source needs an explicit schema, and the
driver testdata has carried both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
``ts`` columns across rounds.  Declaring ``ts long`` keeps NANOS files
readable (``spark.sql.legacy.parquet.nanosAsLong``), but the raw int64
must then be rescaled by the unit the WRITER used — so every streaming
reader of the events table goes through ``read_event_stream``, which
sniffs the unit from the parquet footer exactly like the batch path
(``io.read_table``) does.  Hardcoding a unit is the 1970-windows bug
class.

The micro-batch queries replay a feed instead: ``write_feed`` writes a
DataFrame once, one file per integer ``batch`` value, with the files'
mtimes ordered by batch, and ``read_feed`` streams it back one file
per trigger, oldest mtime first — the stand-in for an external
landing zone that lets a query drive a chosen sequence of
micro-batches.  An empty DataFrame writes no file and drives no batch.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dados_publicos_etl_spark.functions.numeric import epoch_micros
from dados_publicos_etl_spark.io import _fs, epoch_micros_sql, parquet_ts_meta
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
        micros = F.expr(epoch_micros_sql("ts", unit))
    elif tz is None:
        # wall-time NTZ file: pure NTZ arithmetic, no session-tz term
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp_ntz")
        micros = epoch_micros("ts")
    else:
        # instant-semantics file (adjusted to UTC): epoch extraction
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp")
        micros = F.unix_micros("ts")
    if ntz:
        ts = F.timestamp_add(
            "MICROSECOND", micros, F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
        )
    else:
        ts = F.timestamp_micros(micros)
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
    return reader.withColumn("ts", ts)


def write_feed(df: DataFrame, batch: Column, workdir: str) -> str:
    """Write ``df`` once at ``workdir`` as a replayable feed and return
    ``workdir``: the rows of each value *b* of the integer ``batch``
    (NULL counts as 0) land in one file under ``batch=<b>``, and that
    file's mtime is moved *b* * 600 s later, so ``read_feed`` replays
    the batches in ``batch`` order.  An empty ``df`` writes no file."""
    (
        df.withColumn("batch", F.coalesce(batch, F.lit(0)))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(workdir)
    )
    fs, root = _fs(workdir)
    files = fs.listFiles(root, True)
    while files.hasNext():
        status = files.next()
        path = status.getPath()
        if path.getName().endswith(".parquet"):
            b = int(path.getParent().getName().partition("=")[2])
            fs.setTimes(path, status.getModificationTime() + b * 600_000, -1)
    return workdir


def read_feed(
    spark: SparkSession, feed: str, schema: StructType | str
) -> DataFrame:
    """Stream the parquet files under ``feed`` (a ``write_feed`` feed,
    or any directory tree of files) one file per micro-batch, oldest
    mtime first, as ``schema``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
