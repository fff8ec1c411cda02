"""Streaming file sources: the events table and replayable feeds.

Structured Streaming's file source needs an explicit schema.  Every
streaming reader of the events table goes through
``read_event_stream``, which takes that schema from the table's
footer (``io.parquet_footer``, through the lake filesystem, on any
Hadoop URI) and applies the batch path's one event-time rule
(``io.event_time``): a TIMESTAMP(NANOS) ``ts`` reads as long and
truncates to microseconds, a plain INT64 ``ts`` is already epoch
microseconds, and MICROS / MILLIS files read natively.  Hardcoding a
unit is the 1970-windows bug class.

The micro-batch queries replay a feed instead: ``write_feed`` writes a
DataFrame once, one file per integer ``batch`` value, with the files'
mtimes ordered by batch, and ``read_feed`` streams it back one file
per trigger, oldest mtime first — the stand-in for an external
landing zone that lets a query drive a chosen sequence of
micro-batches.  An empty DataFrame writes no file and drives no batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

from dados_publicos_etl_spark.functions.numeric import epoch_micros
from dados_publicos_etl_spark.io import _files, _fs, event_time, parquet_footer


def read_event_stream(
    spark: SparkSession, sf_dir: str, ntz: bool = False
) -> DataFrame:
    """``readStream`` over ``<sf_dir>/events.parquet`` with ``ts``
    normalized to a microsecond timestamp.

    ``ntz=False`` (default) yields TIMESTAMP (LTZ) — required by
    watermarks; render window bounds through ``to_utc_timestamp`` to
    stay session-timezone-stable.  ``ntz=True`` yields TIMESTAMP_NTZ
    (UTC wall time), matching the batch path for operators that only
    format/compare timestamps.  Either way the epoch micros come from
    session-timezone-independent expressions (NTZ diff from epoch, or
    ``unix_micros`` for a file adjusted to UTC).
    """
    table = f"{sf_dir}/events.parquet"
    schema, nanos, is_dir = parquet_footer(spark, table)
    # the streaming file source requires a DIRECTORY path: a
    # directory-layout events.parquet (the scale-probe replica) is
    # streamed directly, the testdata's single FILE through its parent
    # dir and a leaf-name filter (a pathGlobFilter alone would feed an
    # EMPTY stream on the directory layout)
    reader = spark.readStream.schema(schema)
    if is_dir:
        stream = reader.parquet(table)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    # event_time leaves ts TIMESTAMP_NTZ, or TIMESTAMP (LTZ) for a
    # file adjusted to UTC; convert only when that is not the one asked
    stream = event_time(stream, nanos)
    if ntz and isinstance(stream.schema["ts"].dataType, TimestampType):
        ts = F.timestamp_add(
            "MICROSECOND", F.unix_micros("ts"),
            F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
        )
    elif not ntz and isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        ts = F.timestamp_micros(epoch_micros("ts"))
    else:
        return stream
    return stream.withColumn("ts", ts)


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
    for status in _files(fs, root):
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
