"""SparkSession factory with the engine's standard configuration.

Mirrors the reference job's explicit session choices
(/root/reference/src/script/script.py:16-26: appName + suppression of
the ``_SUCCESS`` marker) and adds the scale-oriented defaults the
reference leaves implicit: AQE, Arrow, UTC session timezone, shuffle
partitions sized to the machine rather than Spark's legacy 200.

At 100 TB on a real cluster the same builder applies — only
``master``, memory sizing and ``spark.sql.shuffle.partitions`` move
(set shuffle partitions ~2-3x total executor cores, or leave AQE's
coalescing to shrink an intentionally-high initial number).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_session(
    app_name: str = "dados-publicos-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults come from env:
      SPARK_GRAFT_CPUS   -> local[N] parallelism (default: all cores)
      SPARK_DRIVER_MEM   -> driver memory (default 24g; local mode has
                            no separate executors, driver is the heap)
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # SPARK_GRAFT_CPUS may legitimately be "*" (= all cores, the
        # local[...] syntax) — only a numeric value sizes the shuffle;
        # anything else falls back to the machine's core count.
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Session-wide (documented): driver testdata ships parquet
        # TIMESTAMP(NANOS) columns (events) that Spark's reader
        # otherwise rejects; read them as long and let io.read_table
        # convert to microsecond TIMESTAMP_NTZ.  Set once here rather
        # than mutated per read.
        .config(NANOS_AS_LONG, "true")
        # InferFiltersFromGenerate adds a `size(arr) > 0` guard under
        # every explode(); when the array is a COMPUTED expression
        # (word shingles, span hashes), filter pushdown re-INLINES
        # the whole construction into that guard — lambda bodies get
        # no common-subexpression elimination, so the text
        # re-tokenizes O(len) times per row.  Measured at sf0.1:
        # contamination_ngram 4.15 s -> 0.36 s, boilerplate_shingles
        # 2.86 s -> 0.64 s, decontaminate_bloom_e2e 33 s -> 2.1 s.
        # The guard only helps when empty-array rows are common AND
        # the Generate sits above a join/shuffle worth pruning —
        # never the case in this catalog (documented in BENCH_NOTES;
        # public conf, same Catalyst rule-exclusion mechanism AQE
        # uses).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # reference parity: no _SUCCESS marker files
        # (/root/reference/src/script/script.py:23-26)
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_nanos_as_long(spark: SparkSession) -> None:
    """``nanosAsLong`` for a session ``get_session`` did not build,
    for the whole session: a scan consults it again at execution."""
    if spark.conf.get(NANOS_AS_LONG, "false") != "true":
        spark.conf.set(NANOS_AS_LONG, "true")


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """``conf`` set on ``spark`` for the block; each key then gets its
    previous value back, or is unset if it had none."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def iterative_shuffle(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the machine for an
    ITERATIVE loop's per-round micro-shuffles.

    The iterative operators (connected components, Borůvka, PageRank
    family, k-core, label propagation, Bellman-Ford, truss peeling)
    run O(rounds) shuffles over node/label relations that are |V|
    rows — tiny next to the corpus.  Under a vanilla session those
    inherit Spark's legacy 200 shuffle partitions, so every round
    pays ~200 near-empty tasks (measured: golden_record_merge 23.5 s
    at sf0.01 under vanilla ``local[8]`` vs 0.55 s at 10x the data
    under a cores-sized session — the cost is round-count x partition
    overhead, not data).  This context manager pins the loop's
    shuffles to

        k = min(sparkContext.defaultParallelism,
                session spark.sql.shuffle.partitions)

    for the duration of the loop's ACTIONS and restores the session
    value on exit.  ``min`` means it only ever LOWERS the setting:
    under the engine's own ``get_session`` (shuffle partitions ==
    cores) it is a no-op, so tuned-session plans and bench numbers
    are bit-identical; on a real cluster whose session sizes shuffles
    for corpus-scale queries (say 2000), the per-round label shuffles
    drop to the cluster's core count — still ample for |V|-row
    relations (for a billion-node graph, raise the session conf and
    this scales with it).

    Session-scoped conf is the only lever Spark exposes for the
    REDUCE side of an aggregation (a ``repartition(k)`` on the input
    does not resize the groupBy's own exchange); callers are the
    single-threaded query functions, and ``scoped_conf`` restores the
    value, so a raising round cannot leak the override.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    k = min(
        spark.sparkContext.defaultParallelism,
        int(old) if str(old).lstrip("-").isdigit() else 2**31,
    )
    if k >= (int(old) if str(old).lstrip("-").isdigit() else 0):
        yield  # already machine-sized (the engine's own sessions)
        return
    with scoped_conf(spark, {key: str(k)}):
        yield


def machine_sized_shuffle(fn):
    """Decorator form of :func:`iterative_shuffle` for the iterative
    query functions: their per-round driver actions (eager
    ``localCheckpoint``/``count`` convergence probes) execute INSIDE
    the function body, so scoping the conf around the call covers
    every round.  The first positional argument is either the
    SparkSession or a DataFrame (library entry points like
    ``connected_components``)."""
    import functools

    @functools.wraps(fn)
    def wrapper(first, *args, **kwargs):
        spark = (
            first
            if isinstance(first, SparkSession)
            else first.sparkSession
        )
        with iterative_shuffle(spark):
            return fn(first, *args, **kwargs)

    return wrapper


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``dados_publicos_etl_spark`` importable on Python workers
    regardless of the driver's cwd/sys.path.

    Worker closures that reference module-level functions (the pixel
    operators' ``decode_image`` / ``video_cut_points``) are pickled
    BY REFERENCE, so the worker must import the package — which only
    works by accident when the driver happens to run from the repo
    root.  ``addPyFile`` of a package zip fixes it for any host
    session (the real driver's included).  Idempotent per
    SparkContext; the zip is built once per process.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dpe_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"dpe_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._dpe_pkg_shipped = True
