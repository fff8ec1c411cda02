"""Sources and sinks (SURVEY.md §2.A S4-S7, K1-K6).

Everything is Spark's native multi-file datasource — "table = folder
of files" exactly as the reference treats GCS prefixes
(/root/reference/src/utils/transform.py:34-35). The reference's
driver-side pandas loops (CSV->Parquet conversion, per-file counting)
become single distributed Spark jobs here; that is its main
scalability cliff and the first thing this engine fixes.

A parquet table the engine did not write is opened by ONE function,
:func:`open_parquet`: its schema is the one Spark's inference would
give, read from a single footer (:func:`parquet_footer`) without the
inference job, and its event time goes through ONE rule
(:func:`event_time`).  The streaming readers take the same footer.

The lake operations (BOM rewrite, compaction, retention, versioned
publish, ``ingest.land_file``, the audit row) go through the session's
Hadoop ``FileSystem`` (:func:`_fs`), so they run on any Hadoop URI, and
each file they write driver-side is one atomic :func:`put_file`.
"""

from __future__ import annotations

import abc
import codecs
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dados_publicos_etl_spark.session import read_nanos_as_long


def _fs(path: str):
    """``(FileSystem, Path)`` of ``path`` under the active session's
    Hadoop configuration: the lake operations run on any Hadoop URI."""
    sc = SparkSession.active().sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def _files(fs, directory):
    """The status of every file under ``directory``, one
    ``listStatus`` per directory.  ``FileSystem.listFiles(root, True)``
    is the recursive listing Hadoop offers, but it took 5.4 s where
    this walk took 0.66 s on a local 200-partition table (4 cores)."""
    for status in fs.listStatus(directory):
        if status.isDirectory():
            yield from _files(fs, status.getPath())
        else:
            yield status


def _read_bytes(fs, path, n: int | None = None) -> bytes:
    """The first ``n`` bytes (all when None) of a Hadoop file."""
    stream = fs.open(path)
    try:
        return bytes(stream.readAllBytes() if n is None else stream.readNBytes(n))
    finally:
        stream.close()


def put_file(path: str, data: bytes, tail: str | None = None) -> None:
    """Atomically put ``data``, then the bytes of the file ``tail``
    (copied JVM-side), at ``path``: they are written under a
    ``_``-prefixed name that readers skip, then renamed into place.
    ``FileSystem.rename`` (2-4 ms) returns False when the target
    exists; only then does the OVERWRITE rename of ``FileContext``
    (28-39 ms) replace it."""
    sc = SparkSession.active().sparkContext
    hadoop = sc._jvm.org.apache.hadoop
    fs, dst = _fs(path)
    tmp = hadoop.fs.Path(dst.getParent(), f"_{uuid.uuid4().hex}-{dst.getName()}")
    src = sc._jvm.java.io.ByteArrayInputStream(data)
    if tail is not None:
        src = sc._jvm.java.io.SequenceInputStream(src, fs.open(hadoop.fs.Path(tail)))
    hadoop.io.IOUtils.copyBytes(src, fs.create(tmp, False), 1 << 16, True)  # closes both
    if not fs.rename(tmp, dst):
        rename = hadoop.fs.Options.Rename
        overwrite = sc._gateway.new_array(rename, 1)
        overwrite[0] = rename.OVERWRITE
        conf = sc._jsc.hadoopConfiguration()
        hadoop.fs.FileContext.getFileContext(fs.getUri(), conf).rename(tmp, dst, overwrite)


_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file index keeps a path component
    (``InMemoryFileIndex.shouldFilterOutPathName``): not a ``_`` or
    ``.`` name, other than a partition dir (``_c=1``) or a parquet
    summary file, nor an in-flight ``._COPYING_`` file."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARIES)


def _schema_file(fs, root):
    """The file whose footer Spark's schema inference reads
    (``ParquetUtils.inferSchema`` without ``mergeSchema``) in the
    directory tree ``root``: a ``_common_metadata`` summary, else a
    ``_metadata`` one, else the first data file in path order among
    the files Spark lists.

    An ordered descent finds that data file: it lists one directory
    per level (the root, then the first non-empty branch), not the
    whole tree, so the open costs no extra pass over a many-file
    table.  Summary files are looked for in ``root`` only, where
    parquet writers put them; Spark's inference would also take one
    from a subdirectory."""

    def first(directory, summaries):
        children = {}
        for status in fs.listStatus(directory):
            name = status.getPath().getName()
            if _listed(name):
                children[name + "/" if status.isDirectory() else name] = status
        for name in summaries:
            if name in children:
                return children[name]
        # a subtree's paths all start with "<dir>/": ordering the
        # children by that key orders them as their paths
        for key in sorted(children):
            if key.endswith("/"):
                found = first(children[key].getPath(), ())
                if found is not None:
                    return found
            elif key not in _SUMMARIES:
                return children[key]
        return None

    found = first(root, _SUMMARIES)
    if found is None:
        raise FileNotFoundError(f"no parquet data file under {root}")
    return found


def _read_footer(
    spark: SparkSession, fs, status
) -> tuple[T.StructType, frozenset[str]]:
    """The Spark schema of the parquet file ``status`` as inference
    maps it (``ParquetFileFormat.readSchemaFromFooter`` with Spark's
    own ``ParquetToSparkSchemaConverter`` under the session conf), and
    the names of its TIMESTAMP(NANOS) columns, which that schema reads
    as long (``nanosAsLong``)."""
    read_nanos_as_long(spark)
    jvm = spark.sparkContext._jvm
    parquet = jvm.org.apache.parquet
    footer = parquet.hadoop.ParquetFileReader.readFooter(
        parquet.hadoop.util.HadoopInputFile.fromStatus(status, fs.getConf()),
        parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    sql = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = T.StructType.fromJson(json.loads(
        sql.ParquetFileFormat.readSchemaFromFooter(
            parquet.hadoop.Footer(status.getPath(), footer),
            sql.ParquetToSparkSchemaConverter(
                spark._jsparkSession.sessionState().conf()
            ),
        ).json()
    ))
    message = footer.getFileMetaData().getSchema()
    nanos = frozenset(
        f.name
        for f in schema.fields
        if isinstance(f.dataType, T.LongType)
        and str(message.getType(f.name).getLogicalTypeAnnotation()).startswith(
            "TIMESTAMP"
        )
    )
    return schema, nanos


def parquet_footer(
    spark: SparkSession, path: str
) -> tuple[T.StructType, frozenset[str], bool]:
    """The schema Spark's inference gives the parquet table at ``path``
    (a file, or a directory tree of files), the names of its
    TIMESTAMP(NANOS) columns, and whether ``path`` is a directory.

    Inference without ``mergeSchema`` reads one footer
    (:func:`_schema_file`); this reads it driver-side through the lake
    filesystem (:func:`_fs`), so it runs no Spark job and works on any
    Hadoop URI."""
    fs, root = _fs(path)
    status = fs.getFileStatus(root)
    is_dir = status.isDirectory()
    if is_dir:
        status = _schema_file(fs, root)
    return (*_read_footer(spark, fs, status), is_dir)


def event_time(df: DataFrame, nanos: frozenset[str]) -> DataFrame:
    """The engine's one event-time rule, applied where a table is
    opened: each TIMESTAMP(NANOS) column in ``nanos`` (read as long)
    truncates to a microsecond TIMESTAMP_NTZ, the truncation DuckDB
    applies; a plain INT64 ``ts`` is already epoch microseconds (the
    engine's wire convention) and becomes a TIMESTAMP_NTZ as is.

    Integer division: nanos ~1e18 exceed double precision.  NTZ (UTC
    wall time), as Spark 4 reads wall-time parquet timestamps: windows,
    session_window bounds and date_format on NTZ do not depend on the
    session time zone, so results cannot shift against the UTC-naive
    DuckDB oracle on a non-UTC driver JVM."""
    for field in df.schema.fields:
        if field.name in nanos:
            micros = f"`{field.name}` div 1000"
        elif field.name == "ts" and isinstance(field.dataType, T.LongType):
            micros = "`ts`"
        else:
            continue
        df = df.withColumn(
            field.name,
            F.expr(
                f"timestampadd(MICROSECOND, {micros}, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A scan of the parquet table at ``path`` read with the schema
    :func:`parquet_footer` pins from a single footer, with
    :func:`event_time` applied.  No schema-inference job runs."""
    schema, nanos, _ = parquet_footer(spark, path)
    return event_time(spark.read.schema(schema).parquet(path), nanos)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one testdata table (parquet file or folder) by name."""
    return open_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def widen_scan(df: DataFrame) -> DataFrame:
    """Widen a NARROW scan to machine parallelism for CPU-heavy
    map-side work — and only ever WIDEN (r13, guide §2 partition
    right-sizing).

    The bench corpus ships each table as ONE parquet file with ONE
    row group, so every scan is a single task and any in-row compute
    stacked on the scan projection (content-defined chunking's md5
    sweep, shingle hashing) runs on one core while the rest of the
    machine idles — the reason several map-heavy queries bench no
    faster at local[32] than local[8].  Repartitioning costs one
    shuffle of the projected input (project FIRST, then widen), which
    pays whenever per-byte map cost >> per-byte shuffle cost.

    At cluster scale real inputs arrive in many splits, so the
    no-op-when-already-wide guard makes this safe to leave in: it
    never SHRINKS a wide scan into fewer tasks, and never adds a
    shuffle to a plan that is already parallel.
    """
    k = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= k:
        return df
    return df.repartition(k)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = ";",
    header: bool = False,
    encoding: str = "UTF-8",
    infer: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV scan with the reference's option set.

    Parity: /root/reference/src/script/script.py:38-47 (explicit
    schema, header=false, sep=';', quote='"', escape='"').  The
    latin-1 transcode the reference does by hand
    (/root/reference/src/utils/scraping.py:63-89) is a native
    ``encoding`` option here.  Explicit schema avoids Spark's extra
    inference pass over the data — keep ``infer`` an opt-in.

    Public data is messy; ``mode`` picks the malformed-row policy:
    PERMISSIVE (default) nulls bad fields, DROPMALFORMED drops the
    row, FAILFAST aborts the job.  Pass ``corrupt_col`` (with a
    matching string field in ``schema``) to capture each malformed
    raw line for quarantine instead of losing it — the audit-friendly
    path at scale, where silently nulled rows are undebuggable.
    """
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", encoding)
        .option("mode", mode)
    )
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = "|",
    header: bool = True,
    mode: str = "overwrite",
    single_file: bool = False,
    bom: bool = False,
) -> None:
    """CSV sink (reference K2/K4 semantics).

    Parity: /root/reference/src/script/script.py:61-70 writes
    ``coalesce(1)`` + header + '|' + overwrite; the BOM fixup lives in
    /root/reference/src/utils/scraping.py:104-176.  Here the
    single-file collapse and the BOM are OPT-IN: at scale the default
    is a parallel multi-file write, and ``coalesce(1)`` is only for
    small exports that a spreadsheet must open.
    """
    out = df.coalesce(1) if single_file else df
    out.write.format("csv").option("header", str(header).lower()).option(
        "sep", sep
    ).mode(mode).save(path)
    if bom:
        add_utf8_bom(path)


def add_utf8_bom(path: str) -> int:
    """Prepend a UTF-8 BOM to each part-*.csv under ``path``.

    No Spark CSV write option emits a BOM (SURVEY.md §4.3.1), so this
    is a post-write fixup, idempotent like the reference's
    (/root/reference/src/utils/scraping.py:146-151).  Returns the
    number of files rewritten.  Driver-side by design: it pairs with
    ``single_file=True`` exports, never with large parallel output.
    Each rewrite is one :func:`put_file` (BOM, then the old bytes): a
    reader sees the old file or the new one, each with a valid ``.crc``.
    """
    fs, pattern = _fs(os.path.join(path, "part-*.csv"))
    fixed = 0
    for status in fs.globStatus(pattern) or []:
        f = status.getPath()
        if _read_bytes(fs, f, 3) == codecs.BOM_UTF8:
            continue
        put_file(f.toString(), codecs.BOM_UTF8, tail=f.toString())
        fixed += 1
    return fixed


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "snappy",
) -> None:
    """Parquet sink — the refined layer.

    The reference README promises partitioning + snappy
    (/root/reference/README.md:28-33) but its code (pandas
    ``to_parquet`` per file, /root/reference/src/utils/transform.py:
    49-58) implements neither; here both are first-class.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_within_by: list[str] | None = None,
    max_records_per_file: int = 0,
    compression: str = "snappy",
) -> None:
    """Dynamic partition overwrite — the incremental-ETL write path.

    ``mode=overwrite`` with static overwrite mode would TRUNCATE the
    whole dataset; with ``partitionOverwriteMode=dynamic`` only the
    partitions present in ``df`` are replaced, so a daily job
    rewrites day=D and leaves the other 3 years of partitions
    untouched.  That is the difference between an O(increment) and an
    O(dataset) nightly write at 100 TB.

    ``sort_within_by`` sorts rows inside each output task
    (``sortWithinPartitions`` — NO extra shuffle) so parquet
    row-group min/max stats become selective for those columns and
    later scans can skip row groups; ``max_records_per_file`` bounds
    file size so a skewed partition can't emit one giant file.
    The sort key is (partition cols, sort cols): FileFormatWriter
    requires task rows ordered by the partition expression (one open
    file at a time) and inserts its own NON-STABLE sort when the
    ordering isn't already satisfied — which would scramble the
    secondary columns.  Pre-sorting on the full key makes the
    writer's sort a no-op and preserves the layout.

    The overwrite-mode conf is set per-write via the DataFrameWriter
    option (not on the shared session), so concurrent writers keep
    their own semantics.
    """
    if sort_within_by:
        df = df.sortWithinPartitions(*partition_by, *sort_within_by)
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_by).parquet(path)


# Hive's sentinel directory name for a NULL partition value (Spark
# writes it too — ExternalCatalogUtils.DEFAULT_PARTITION_NAME).
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


# The characters Spark escapes in partition directory names
# (ExternalCatalogUtils.charToEscape): ASCII control chars plus the
# filesystem/Hive-meaningful set below.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^')


def escape_path_name(s: str) -> str:
    """Spark/Hive %XX escaping of a partition value for use in a
    directory name (ExternalCatalogUtils.escapePathName): ``a:b`` ->
    ``a%3Ab``.  Paired inverse of :func:`unescape_path_name`."""
    out = []
    for c in s:
        if c in _PATH_ESCAPE_CHARS or ord(c) < 0x20:
            out.append(f"%{ord(c):02X}")
        else:
            out.append(c)
    return "".join(out)


def unescape_path_name(s: str) -> str:
    """Inverse of the %XX escaping Spark/Hive apply to partition
    values in directory names (ExternalCatalogUtils.unescapePathName):
    ``a%3Ab`` -> ``a:b``.  Invalid escapes pass through literally,
    matching Spark's behavior."""
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 2 < len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict[str, int]:
    """Small-file compaction for a partitioned parquet dataset — the
    maintenance job every incremental 100 TB pipeline needs: each
    micro-batch / daily append drops a few more files per partition,
    and a year later the NameNode listing and per-file open overhead
    dominate scan time (the classic small-files problem).

    Strategy: list files per partition from the directory layout
    (driver-side metadata, no data read), pick partitions whose file
    count exceeds ``min_files_to_compact``, and rewrite ONLY those via
    dynamic partition overwrite, coalescing to
    ``ceil(bytes / target_file_bytes)`` files.  Untouched partitions
    keep their files byte-identical — compaction cost is
    O(oversplit partitions), not O(dataset).

    Returns {partition_path_suffix: n_files_before} for the rewritten
    partitions (empty dict = nothing to do).
    """
    import math

    # partition dir -> (n_files, total_bytes), from a driver-side listing
    fs, root = _fs(path)
    prefix = len(fs.makeQualified(root).toString()) + 1
    stats: dict[str, tuple[int, int]] = {}
    for status in _files(fs, root):
        if not status.getPath().getName().endswith(".parquet"):
            continue
        rel = status.getPath().getParent().toString()[prefix:]
        n, size = stats.get(rel, (0, 0))
        stats[rel] = (n + 1, size + status.getLen())
    todo = {
        rel: n for rel, (n, _b) in stats.items() if n >= min_files_to_compact
    }
    if not todo:
        return todo
    # the data columns of the footer inference reads, then the
    # partition columns Spark's discovery types from the whole
    # dataset's dir names: the schema inference gives, without its job
    footer = _read_footer(spark, fs, _schema_file(fs, root))[0]
    schema = spark.read.schema(footer).parquet(path).schema
    for rel in todo:
        n_out = max(1, math.ceil(stats[rel][1] / target_file_bytes))
        # basePath: Spark's partition discovery re-attaches the
        # partition columns from the dir names (Hive %XX escapes and
        # the NULL sentinel undone) typed by the dataset's schema, so
        # the overwrite replaces the same dir
        part_df = (
            spark.read.schema(schema).option("basePath", path)
            .parquet(os.path.join(path, rel))
        )
        # materialize BEFORE the write: the plan reads the very files
        # the dynamic overwrite is about to replace — localCheckpoint
        # pins the partition's (bounded) data so the rewrite can't
        # race its own input
        part_df = part_df.coalesce(n_out).localCheckpoint()
        (
            part_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
    return todo


def csv_to_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    sep: str = "|",
    header: bool = True,
    schema: T.StructType | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Trusted-CSV -> refined-Parquet conversion (reference K5).

    The reference loops files through pandas on one worker
    (/root/reference/src/utils/transform.py:14-70, whole file in
    memory each) — here it is one distributed job over the folder.
    Returns the DataFrame that was written (for audit counts).
    """
    df = read_csv(spark, src, schema=schema, sep=sep, header=header,
                  infer=schema is None)
    write_parquet(df, dst, partition_by=partition_by)
    return df


class WarehouseSink(abc.ABC):
    """Seam for warehouse bulk loads (reference K6): everything above
    this call plans and executes identically regardless of the
    warehouse; only the final write routes through the sink.

    Parity: /root/reference/src/utils/load_bq.py:13-64 couples the
    load to one cloud warehouse client (WRITE_TRUNCATE + blocking
    result + row-count verify); the seam keeps that a deployment
    choice instead of an engine property.
    """

    @abc.abstractmethod
    def save(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        """Write ``df`` as ``table``; ``overwrite`` == WRITE_TRUNCATE."""


class CatalogWarehouseSink(WarehouseSink):
    """Default sink: a Spark-catalog managed table (``saveAsTable``)
    — local warehouse dir in this sandbox, Hive metastore / Unity /
    Glue on a real deployment.  ``overwrite`` is the WRITE_TRUNCATE
    equivalent; the write blocks until committed, matching the
    reference's blocking ``result()``."""

    def save(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).saveAsTable(table)


class BigQueryWarehouseSink(WarehouseSink):
    """Connector-backed BigQuery sink SHAPE (reference
    load_bq.py:43-56).  Requires the public ``spark-bigquery``
    connector jar on the cluster classpath — intentionally NOT a
    dependency of this repo; constructing the sink is free, saving
    without the connector fails with Spark's own
    DATA_SOURCE_NOT_FOUND error.  ``mode='overwrite'`` maps to the
    reference's WRITE_TRUNCATE."""

    def __init__(self, dataset: str, temp_bucket: str | None = None) -> None:
        self.dataset = dataset
        self.temp_bucket = temp_bucket

    def save(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        w = df.write.format("bigquery").mode(mode).option(
            "table", f"{self.dataset}.{table}"
        )
        if self.temp_bucket:
            w = w.option("temporaryGcsBucket", self.temp_bucket)
        w.save()


_DEFAULT_WAREHOUSE_SINK: WarehouseSink = CatalogWarehouseSink()


def save_warehouse_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    sink: WarehouseSink | None = None,
) -> None:
    """Warehouse bulk load (reference K6) through the sink seam;
    defaults to the Spark catalog."""
    (sink or _DEFAULT_WAREHOUSE_SINK).save(df, table, mode)


def analyze_table(
    spark: SparkSession,
    table: str,
    columns: list[str] | None = None,
) -> dict[str, str]:
    """Collect CBO statistics for a saved table (SURVEY.md §4.2:
    join reordering and broadcast selection need row counts /
    column NDVs — ``ANALYZE TABLE`` is how Catalyst gets them).

    Returns the catalog's statistics line (sizeInBytes, rowCount)
    so callers/tests can assert stats exist before relying on CBO.
    """
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )
    rows = spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    return {
        r.col_name: r.data_type
        for r in rows
        if r.col_name in ("Statistics", "Table Properties")
    }


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    target_mb: int = 64,
    sample_rows: int = 200,
) -> int:
    """Export a corpus as sharded JSONL with a per-shard size budget
    (the standard LLM-training-data interchange layout: fixed-size
    .jsonl shards a loader can stream and shuffle by file).

    Shard count = ceil(estimated bytes / target).  Bytes are
    estimated from the JSON-serialized length of a bounded row
    sample (one tiny job) times the exact row count taken from the
    SAME cached scan — no full serialization pre-pass.  The write
    itself is ``repartition(n)`` + text sink of ``to_json`` rows:
    one shuffle, every shard within ~2x of the budget regardless of
    input partitioning.  Returns the shard count.
    """
    import math

    df = df.localCheckpoint()  # one scan feeds sample, count, write
    n_rows = df.count()
    if n_rows == 0:
        n_shards = 1
    else:
        sample = df.limit(sample_rows).select(
            F.length(F.to_json(F.struct(*df.columns))).alias("n")
        )
        avg = sample.agg(F.avg("n")).collect()[0][0] + 1  # +newline
        n_shards = max(1, math.ceil(avg * n_rows / (target_mb * 1024 * 1024)))
    (
        df.repartition(n_shards)
        .select(F.to_json(F.struct(*df.columns)).alias("value"))
        .write.mode("overwrite")
        .text(path)
    )
    return n_shards


def enforce_retention(
    path: str,
    partition_col: str,
    keep_from: str,
) -> dict[str, int]:
    """TTL / retention enforcement on a partitioned dataset: drop
    every ``col=value`` partition whose (unescaped) value sorts
    BEFORE ``keep_from``, leaving younger partitions byte-untouched.

    Retention at 100 TB must be a METADATA operation — a directory
    listing plus O(expired) directory deletes — never a read-rewrite
    of surviving data (the difference between seconds and a full
    rescan).  Values compare as strings, which for the canonical
    zero-padded ``yyyy-MM-dd`` / ``yyyy-MM`` partition formats is
    exactly date order; the comparison happens on the UNESCAPED
    value (Hive %XX escaping — see escape_path_name — must not leak
    into ordering).  The Hive NULL sentinel partition is never
    dropped by a date cutoff (NULL provenance is a data-quality
    question, not an age question).

    Returns ``{"dropped": n, "kept": m}`` partition counts.
    """
    prefix = f"{partition_col}="
    fs, root = _fs(path)
    dropped = kept = 0
    for status in fs.listStatus(root):
        entry = status.getPath().getName()
        if not entry.startswith(prefix):
            continue
        raw = entry[len(prefix):]
        if raw != HIVE_DEFAULT_PARTITION and unescape_path_name(raw) < keep_from:
            fs.delete(status.getPath(), True)
            dropped += 1
        else:
            kept += 1
    return {"dropped": dropped, "kept": kept}


def publish_version(
    df: DataFrame,
    table_root: str,
    keep_versions: int = 3,
) -> str:
    """Atomic publish of a new table version: write into
    ``v<N+1>/``, then swap the ``_CURRENT`` pointer file — readers
    following the pointer never observe a half-written table.

    The write-then-swap protocol is the minimal snapshot-isolation
    story object stores support: the version directory is immutable
    once the pointer moves (writers never modify published files),
    concurrent readers keep reading the OLD version until they
    re-resolve the pointer, and rollback is rewriting one tiny
    pointer file.  Old versions beyond ``keep_versions`` are
    garbage-collected (oldest first) — time travel within the
    retained window is reading ``v<K>`` directly.

    Returns the published version directory path.
    """
    fs, root = _fs(table_root)
    fs.mkdirs(root)
    versions = sorted(
        (int(status.getPath().getName()[1:]), status.getPath())
        for status in fs.listStatus(root)
        if re.fullmatch(r"v\d+", status.getPath().getName())
    )
    new_v = (versions[-1][0] + 1) if versions else 1
    new_dir = os.path.join(table_root, f"v{new_v}")
    df.write.mode("overwrite").parquet(new_dir)
    put_file(os.path.join(table_root, "_CURRENT"), f"v{new_v}\n".encode())
    # GC beyond the retained window (never the one just published)
    for _v, old in versions[: max(0, len(versions) + 1 - keep_versions)]:
        fs.delete(old, True)
    return new_dir


def read_current_version(spark: SparkSession, table_root: str) -> DataFrame:
    """Resolve the ``_CURRENT`` pointer and read that version."""
    fs, pointer = _fs(os.path.join(table_root, "_CURRENT"))
    v = _read_bytes(fs, pointer).decode("utf-8").strip()
    return open_parquet(spark, os.path.join(table_root, v))
