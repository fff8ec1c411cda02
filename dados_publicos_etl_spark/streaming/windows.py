"""Event-time windowing (SURVEY.md §2.B "streaming over events").

Batch and streaming share the same logical plan in Structured
Streaming, so each operator here is written once against the events
DataFrame and exercised two ways: batch (driver-checkable against a
DuckDB oracle) and as a ``readStream`` smoke in pytest (watermark +
window + memory sink).

Window starts are epoch-aligned (Spark semantics); the oracles
reproduce them with epoch arithmetic, so results hash-match exactly.

The multi-batch queries (top-k leaderboard, late-data drop,
stream-stream outer join, ANN probe, decontamination gate) replay a
feed written by ``source.write_feed`` and streamed by
``source.read_feed``.  Each keeps its own split rule as a ``batch``
Column (time halves from window min/max, parity, sentinels), so an
empty input table is an empty feed that drives no micro-batch.
"""

from __future__ import annotations

import uuid
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import epoch_micros, money_sum
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.session import scoped_conf
from dados_publicos_etl_spark.streaming.source import (
    read_event_stream,
    read_feed,
    write_feed,
)
from dados_publicos_etl_spark.tmpstore import (
    Table,
    new_dir,
    open_table,
    reroot,
    session_artifact,
    write_table,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_STREAM_SHUFFLE = 4  # shuffle partitions a stream plans with


def _streaming_shuffle(spark: SparkSession):
    """Bound stateful-stream parallelism while a query is planned,
    and skip no-data micro-batches for the drive-to-completion run.

    A stateful streaming query creates one state store PER shuffle
    partition PER stateful operator; micro-batch latency in local
    mode is dominated by store open/commit, not data volume, so the
    drive-to-completion queries plan with a small fixed number
    (A/B at sf0.1 warm: 8 partitions ~1.5-4.2 s per query, 4
    partitions ~1.1-3.0 s; below 4 it flattens).  On a
    real cluster raise it (~2-3x executor cores) — state partitioning
    is fixed at first checkpoint, so size it for peak key cardinality
    up front.  The session value is restored afterwards
    (``session.scoped_conf``); the stream keeps the value captured at
    plan time.

    ``noDataMicroBatches`` is disabled for the same window: after the
    data batch, processAllAvailable otherwise waits out an EMPTY
    batch whose only job is advancing the watermark — which none of
    the wrapped queries need (complete-mode aggs re-emit on every
    data batch; append-mode dedup/inner-join emit on sight/match,
    watermark only evicts state).  A/B at sf0.1 warm: the 4
    true-streaming queries total 5.7 s with no-data batches, 4.0 s
    without, identical results (oracle-checked).  Operators that DO
    emit on watermark advance (EventTimeTimeout session close —
    ``stateful.streaming_session_close``) must not use this wrapper.
    """
    return scoped_conf(spark, {
        "spark.sql.shuffle.partitions": str(_STREAM_SHUFFLE),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    })


# purpose -> run metadata (output mode, batch count, streaming
# progress incl. numRowsRemoved / numRowsDroppedByWatermark) of the
# most recent run_state_table drive — pytest pins the watermark
# eviction and late-drop claims against it
_STREAM_LAST_RUNS: dict[str, dict] = {}


def run_state_table(
    spark: SparkSession,
    stream: DataFrame,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
    purpose: str,
) -> DataFrame:
    """Drive ``stream`` to completion through a ``foreachBatch``
    state table and return the final state as a batch DataFrame.

    Per micro-batch the state becomes ``reroot(merge(state, batch))``
    — ``merge(None, batch)`` for the first — so every version is a
    parquet table in its own pool dir (tmpstore.reroot) and the
    returned DataFrame is a lazy scan of the last one, in ``spark``.
    With no batch at all the result is ``merge(None, <empty
    batch>)``, so an empty feed yields zero rows of the usual schema.

    The query runs in UPDATE mode under ``_streaming_shuffle``: an
    aggregation emits only the keys its batch changed, each with its
    CURRENT value (the merge is a keyed upsert, ``_upsert``), and the
    watermark evicts closed windows from the state store (complete
    mode would retain every key and re-emit them each trigger — the
    unbounded anti-pattern).  On a stateless stream update mode is
    append.  Run metadata lands in ``_STREAM_LAST_RUNS[purpose]``.
    """
    state: DataFrame | None = None
    n_batches = 0

    def step(batch: DataFrame, _bid: int) -> None:
        nonlocal state, n_batches
        state = reroot(merge(state, batch), purpose, spark)
        n_batches += 1

    with _streaming_shuffle(spark):
        q = stream.writeStream.outputMode("update").foreachBatch(step).start()
        try:
            q.processAllAvailable()
            _STREAM_LAST_RUNS[purpose] = {
                "output_mode": "update",
                "n_batches": n_batches,
                "progress": list(q.recentProgress or []),
            }
        finally:
            q.stop()
    if state is None:
        return merge(None, spark.createDataFrame([], stream.schema))
    return state


def run_memory_sink(
    spark: SparkSession, stream: DataFrame, mode: str, prefix: str
) -> DataFrame:
    """Drive ``stream`` to completion into a memory sink named
    ``<prefix>_<uuid8>`` in output ``mode`` and return the sink table.

    The caller owns the session conf around the run: this module's
    append-mode streams wrap the call in ``_streaming_shuffle``, while
    ``stateful.streaming_session_close`` must not (its sessions close
    on the no-data batches that wrapper skips)."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _upsert(
    keys: list[str], prev: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """Keyed-upsert merge for run_state_table: a batch row replaces
    the state row with the same ``keys``."""
    if prev is None:
        return batch
    return prev.join(batch, keys, "left_anti").unionByName(batch)


_DUCK_BUCKET = (
    # naive-timestamp arithmetic: DuckDB's to_timestamp() returns
    # TIMESTAMPTZ and strftime would render it in the local zone,
    # shifting the oracle on a non-UTC machine.
    "strftime(TIMESTAMP '1970-01-01 00:00:00'"
    " + INTERVAL 1 SECOND * (CAST(floor(epoch(ts) / {w}) AS BIGINT) * {w})"
    ", '%Y-%m-%d %H:%M:%S')"
)


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT {_DUCK_BUCKET.format(w=600)} AS window_start,
           event_type,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
    description="10-minute tumbling event-time windows (F.window); "
    "same plan runs under readStream+watermark — see pytest smoke.",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format("window.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH offsets(o) AS (VALUES (0), (300))
    SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
             + INTERVAL 1 SECOND *
               (CAST(floor((epoch(ts) - o) / 600) AS BIGINT) * 600 + o),
             '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND((CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*), 4) AS avg_value
    FROM events, offsets
    GROUP BY window_start
    """,
    description="10-minute windows sliding by 5 (each event lands in "
    "2 windows; Spark expands via the window generator).",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # pre-rounded-sum / count: immune to summation-order
            # rounding flips (see q1_pricing_summary).
            F.round(
                money_sum("value") / F.count(F.lit(1)), 4
            ).alias("avg_value"),
        )
        .select(
            F.date_format("window.start", _TS_FMT).alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    description="Session windows (30-min gap) per user via "
    "F.session_window; oracle reproduces gap-merge with lag+cumsum. "
    "session_end = last event + gap (Spark semantics).",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "asof_join_events",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts AS click_ts, MAX(event_id) AS click_event_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT p.event_id,
           p.user_id,
           c.click_event_id,
           CAST(epoch_us(p.ts) - epoch_us(c.click_ts) AS BIGINT) AS gap_micros
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.click_ts <= p.ts
    """,
    description="As-of join (Spark lacks a native one): each purchase "
    "matched to the user's most recent click at-or-before it. "
    "Implemented scale-first as union + single window pass (one "
    "shuffle on user_id), not a per-row lookup.",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # dedupe clicks at identical (user, ts) to make the as-of pick
    # deterministic (keep max event_id) — mirrors the oracle CTE.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
        .select(
            "user_id",
            F.col("click_ts").alias("ts"),
            "click_event_id",
            F.lit(None).cast("long").alias("event_id"),
            F.lit("click").alias("kind"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_event_id"),
        "event_id",
        F.lit("purchase").alias("kind"),
    )
    # union both sides; a purchase sees the last click row at-or-before
    # it in (ts, kind) order — 'click' < 'purchase' sorts clicks first
    # at equal ts, matching the oracle's <=.
    merged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    lastc = F.last("click_event_id", ignorenulls=True).over(w)
    last_ts = F.last(
        F.when(F.col("kind") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        merged.withColumn("click_event_id2", lastc)
        .withColumn("click_ts2", last_ts)
        .filter(F.col("kind") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("click_event_id2").alias("click_event_id"),
            # NTZ-safe wall-clock difference (unix_micros needs LTZ)
            F.expr("timestampdiff(MICROSECOND, click_ts2, ts)").alias(
                "gap_micros"
            ),
        )
    )


def streaming_tumbling_counts(
    spark: SparkSession, sf_dir: str, gap: str = "10 minutes"
) -> DataFrame:
    """True Structured Streaming variant of the tumbling window:
    readStream over the events parquet -> watermark -> window agg ->
    UPDATE-mode keyed upsert sink (``run_state_table``); returns
    the completed state table as a DataFrame.

    Update mode + the 1-hour watermark keep streaming state bounded
    (closed windows evict); complete mode — the previous shape —
    would retain and re-emit every (window, event_type) pair on each
    trigger.  processAllAvailable drives the file feed to completion
    synchronously (pytest / driver safe).
    """
    # the streaming file source requires a directory: stream the sf
    # dir with a glob filter selecting the events table file(s).
    # Watermarks require TIMESTAMP (LTZ), so unlike the batch path
    # (NTZ) we keep instants here and render window bounds through an
    # explicit UTC conversion so output is session-timezone-stable.
    tz = spark.conf.get("spark.sql.session.timeZone")
    stream = read_event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", gap), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(
                F.to_utc_timestamp(F.col("window.start"), tz), _TS_FMT
            ).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_state_table(
        spark,
        agg,
        partial(_upsert, ["window_start", "event_type"]),
        "stream_true_streaming",
    )


@query(
    "stream_true_streaming",
    oracle=f"""
    SELECT {_DUCK_BUCKET.format(w=600)} AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY window_start, event_type
    """,
    description="True Structured Streaming: readStream(parquet) + "
    "watermark + tumbling window + memory sink, driven to completion; "
    "result equals the batch oracle (streaming/batch plan parity).",
)
def stream_true_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_tumbling_counts(spark, sf_dir)


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           c.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_micros
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 15 MINUTE
    """,
    description="Stream-stream interval join: clicks joined to the "
    "same user's purchases within 15 minutes, BOTH sides watermarked "
    "so the state store evicts rows older than watermark+interval "
    "(unbounded-state joins are the classic streaming OOM).  "
    "availableNow drives one micro-batch, so output equals the batch "
    "interval join, which is the oracle.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE streaming source, two filtered projections (stream
    # self-join): halves source listing/scan work vs two independent
    # readStream pipelines on the same path.
    src = read_event_stream(spark, sf_dir)

    def side_of(event_type: str, alias: str) -> DataFrame:
        return (
            src.filter(F.col("event_type") == event_type)
            .selectExpr(
                f"event_id AS {alias}_event_id",
                f"user_id AS {alias}_user_id",
                f"ts AS {alias}_ts",
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks = side_of("click", "c")
    purchases = side_of("purchase", "p")
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND "
            "p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 15 MINUTES"
        ),
    ).select(
        F.col("c_event_id").alias("click_event_id"),
        F.col("p_event_id").alias("purchase_event_id"),
        F.col("c_user_id").alias("user_id"),
        F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias("gap_micros"),
    )
    with _streaming_shuffle(spark):
        return run_memory_sink(spark, joined, "append", "stream_join")


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    description="Streaming dedup: readStream + watermark + "
    "dropDuplicatesWithinWatermark on (user_id, event_type).  The "
    "100 TB property is BOUNDED STATE: the dedup state store holds "
    "only keys younger than the watermark delay, not all history "
    "(plain dropDuplicates on a stream grows state forever).  "
    "Deterministic here because availableNow drives the whole table "
    "as the first micro-batch (watermark starts at -inf, so nothing "
    "is evicted mid-batch) => output == batch DISTINCT, which is the "
    "oracle.",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    with _streaming_shuffle(spark):
        return run_memory_sink(spark, deduped, "append", "stream_dedup")


def streaming_static_enrich(
    spark: SparkSession, sf_dir: str, gap: str = "10 minutes"
) -> DataFrame:
    """True-streaming stream-STATIC join: readStream events enriched
    with the customer dimension, then a watermarked tumbling-window
    aggregation per market segment.

    The static side is re-resolved per micro-batch and broadcast
    (stateless join — no watermark needed on the dim, no state store
    rows), which is THE pattern for enriching a 100 TB/day event
    stream with reference data: dimension churn is picked up at
    micro-batch granularity and the stream side never shuffles for
    the join, only for the window aggregation.  The sink is the
    UPDATE-mode keyed upsert (bounded state, watermark-evicted),
    not a complete-mode memory sink.
    """
    tz = spark.conf.get("spark.sql.session.timeZone")
    stream = read_event_stream(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", gap), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.date_format(
                F.to_utc_timestamp(F.col("window.start"), tz), _TS_FMT
            ).alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return run_state_table(
        spark,
        agg,
        partial(_upsert, ["window_start", "c_mktsegment"]),
        "stream_static_enrich",
    )


@query(
    "stream_static_enrich",
    oracle=f"""
    SELECT {_DUCK_BUCKET.format(w=600)} AS window_start,
           c_mktsegment,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(ROUND((value) * 100, 0) AS BIGINT)) AS DOUBLE)
            / 100.0) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY window_start, c_mktsegment
    """,
    description="Stream-static dimension enrichment: readStream "
    "events broadcast-joined to the customer dim per micro-batch "
    "(stateless), then watermark + tumbling window per segment; "
    "result equals the batch join+window oracle.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_static_enrich(spark, sf_dir)


def _write_ann_stream_queries(
    emb: DataFrame, n_queries: int, workdir: str
) -> str:
    # two micro-batches, by vec_id parity.  Each query row carries
    # its Spark-SQL milli-quantized qq alongside the raw vector, so
    # the probe's cell choice shares the one quantization site with
    # the IVF oracle.
    from dados_publicos_etl_spark.operators.similarity import (
        _MILLI_QUANT_EXPR,
    )

    queries = emb.filter(F.col("vec_id") < n_queries).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.expr(_MILLI_QUANT_EXPR.format(v="embedding")).alias("qq"),
    )
    return write_feed(queries, F.col("vec_id") % 2, workdir)


def streaming_ann_probe(
    spark: SparkSession, sf_dir: str, n_queries: int = 10
) -> DataFrame:
    """Streaming ANN serving: a file stream of query vectors probes
    the SESSION-CACHED persisted IVF index per micro-batch via
    ``foreachBatch``.

    The deployment shape this demonstrates: the index (built once
    per corpus snapshot, partitioned by cell) is a STATIC side that
    every micro-batch probes with file-level partition pruning — the
    stream never touches more than ``n_probe/n_cells`` of the corpus
    per query, and index refresh is a swap of the static path, not a
    stateful stream.  Results are batch-split-invariant (each
    query's probe is independent), so the output equals the batch
    probe of the same query set (pytest-pinned).
    """
    from dados_publicos_etl_spark.operators.similarity import (
        probe_ivf_index,
        session_ivf_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    index, centroids = session_ivf_index(emb, sf_dir, n_cells=16)

    # Input scaffolding, cached per (corpus, n_queries): the query
    # files stand in for an external stream landing zone, so repeat
    # invocations measure the PROBE, not the test-fixture write.
    # Written by filtering the embeddings scan JVM-side (pushed-down
    # vec_id predicate) — collect + re-parallelize of vector rows
    # costs seconds of driver/commit overhead for zero benefit.
    qdir = session_artifact(
        "ann_stream", sf_dir,
        partial(_write_ann_stream_queries, emb, n_queries), n_queries,
    )

    stream = read_feed(
        spark, qdir, "vec_id long, embedding array<double>, qq array<long>"
    )
    # Per-batch results land in a parquet SINK table (path embeds
    # batch_id -> idempotent under replay), never a driver-side list:
    # a serving stream runs indefinitely, so accumulating results on
    # the driver is unbounded state by construction.  The returned
    # DataFrame is a scan of the sink — data-scale stays distributed.
    sink_dir = new_dir("stream_ann_probe", "spark_ann_sink_")
    last: Table | None = None  # the latest batch's table

    def probe_batch(bdf: DataFrame, bid: int) -> None:
        nonlocal last
        # query vectors per batch are a handful of rows (the serving
        # request), so this collect is request-scale, not data-scale
        q = [(r.vec_id, r.embedding, r.qq) for r in bdf.collect()]
        if q:
            res = probe_ivf_index(spark, index, centroids, q, n_probe=4, k=5)
            last = write_table(res, f"{sink_dir}/batch_id={bid}")

    with _streaming_shuffle(spark):
        q = stream.writeStream.foreachBatch(probe_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if last is None:  # no query vector, so no batch wrote a table
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    # every batch writes one schema; its batch_id= dirs are partitions
    return open_table(spark, last._replace(path=sink_dir)).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def _stream_ann_oracle() -> str:
    from dados_publicos_etl_spark.operators.similarity import _ivf_oracle

    return _ivf_oracle(qmax=10, n_cells=16, n_probe=4, k=5)


@query(
    "stream_ann_probe",
    oracle=_stream_ann_oracle(),
    description="Streaming ANN serving: a query-vector file stream "
    "probes the session-cached persisted IVF index per micro-batch "
    "(foreachBatch + partition-pruned reads) — the index is a "
    "static side built once per corpus snapshot; results are batch-"
    "split-invariant and equal the batch probe of the same query "
    "set.  Round 8: the portable integer quantizer makes the probe "
    "DuckDB-differential (same oracle as similarity_ivf — streaming "
    "delivery must not change the answer); batch-split invariance "
    "stays pinned in pytest.",
)
def stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_ann_probe(spark, sf_dir)


# the events' epoch-micros bounds as window expressions, so a feed's
# time split is a Column: no driver-side min/max, and an empty table
# is an empty feed
_TS_HI = "max(ts_us) OVER ()"
_TS_MID = f"(min(ts_us) OVER () + {_TS_HI}) div 2"


def _feed_events(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """``event_id``, ``ts`` as epoch-micros ``ts_us`` and ``cols``."""
    return read_table(spark, sf_dir, "events").select(
        "event_id", epoch_micros("ts").alias("ts_us"), *cols
    )


def _write_topk_feed(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Events split into two files AT THE TIME MIDPOINT, ``ts``
    pre-normalized to epoch-micros longs.

    The time-ordered split makes the feed a faithful stand-in for a
    live stream: the file source processes oldest-mtime first, so
    batch 0 is strictly earlier than batch 1, the watermark advances
    monotonically, and no event is late.  (An arbitrary split — e.g.
    by event_id parity — would interleave times and force the
    watermark to hold ALL state until the end, hiding eviction.)
    """
    ev = _feed_events(spark, sf_dir, "user_id")
    return write_feed(ev, F.expr(f"IF(ts_us > {_TS_MID}, 1, 0)"), workdir)


@query(
    "stream_topk_windows",
    oracle=f"""
    WITH agg AS (
      SELECT {_DUCK_BUCKET.format(w=600)} AS window_start,
             user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY window_start, user_id
    ), ranked AS (
      SELECT window_start, user_id, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, user_id)
               AS rank_in_window
      FROM agg
    )
    SELECT window_start, user_id, n_events,
           CAST(rank_in_window AS INT) AS rank_in_window
    FROM ranked WHERE rank_in_window <= 3
    """,
    description="Streaming top-k: per-(window, user) counts "
    "aggregated IN the stream (update-mode foreachBatch keyed "
    "upsert — only keys changed this batch are re-emitted, and the "
    "watermark evicts closed windows from the state store), top-3 "
    "users per 10-minute window ranked DOWNSTREAM over the sink "
    "table, because Structured Streaming forbids rank windows on "
    "unbounded streams — the standard leaderboard split: streaming "
    "owns the additive aggregate, the serving layer owns the "
    "ordering.  A time-ordered 2-file feed drives two micro-"
    "batches, so the watermark actually advances and evicts between "
    "batches; the upsert is batch-split-invariant, so the result "
    "equals the batch oracle.",
)
def stream_topk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard shape with genuinely BOUNDED streaming state.

    The only streaming state is the additive (window, user) count,
    and the query runs in ``update`` output mode: each micro-batch
    emits only the keys whose count changed, and the 1-hour
    watermark EVICTS state for windows that closed more than an hour
    before the max observed event time (complete mode — the previous
    shape — ignores the watermark and retains every (window, user)
    pair forever, which is unbounded on a continuous stream).  The
    emitted rows are keyed-upserted into a versioned parquet state
    table by ``foreachBatch`` (same machinery as
    ``sinks.stream_cdc_upsert``), and the top-3 rank runs over that
    sink — windows x active users, tiny next to the event volume.

    The feed is the events table split into two files AT THE TIME
    MEDIAN (all of file 1's events are strictly later than file
    0's), so (a) no event is ever late — nothing is dropped and the
    result equals the batch oracle — and (b) the watermark advanced
    by batch 0 evicts most of file 0's windows during batch 1, which
    the pytest pins via ``numRowsRemoved`` in the run's progress
    (captured in ``_STREAM_LAST_RUNS["stream_topk_windows"]``).
    """
    from pyspark.sql import Window as W

    tz = spark.conf.get("spark.sql.session.timeZone")
    # cached so repeat invocations measure the stream, not the fixture
    feed = session_artifact(
        "topk_feed", sf_dir, partial(_write_topk_feed, spark, sf_dir)
    )
    stream = read_feed(
        spark, feed, "event_id long, ts_us long, user_id long"
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(
                F.to_utc_timestamp(F.col("window.start"), tz), _TS_FMT
            ).alias("window_start"),
            "user_id",
            "n_events",
        )
    )
    sink = run_state_table(
        spark,
        agg,
        partial(_upsert, ["window_start", "user_id"]),
        "stream_topk_windows",
    )
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.desc("n_events"), "user_id"
        )
    )
    return (
        sink.withColumn("rank_in_window", rk)
        .filter(F.col("rank_in_window") <= 3)
        .select(
            "window_start",
            "user_id",
            "n_events",
            F.col("rank_in_window").cast("int").alias("rank_in_window"),
        )
    )


# ---------------------------------------------------------------------------
# Late-data drop semantics, oracle-checked
# ---------------------------------------------------------------------------

def _write_late_feed(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Events split at the epoch-micros midpoint like the topk feed,
    but with the LATER half's file mtime pinned OLDER — the file
    source therefore processes the later half first, so every
    earlier-half event arrives hours LATE relative to the advanced
    watermark.  This is the deterministic late-data fixture: which
    rows are late is a pure function of the data."""
    # THREE files: the later half split in two — batch 0 = its older
    # part (mid, mid3], batch 1 = its newest part (mid3, hi] — then
    # the earlier half last.  Two properties make this race-free:
    # (a) batch 1's events are NEWER than any watermark batch 0 can
    # set (max(batch0) - delay = mid3 - 1h), so whether the engine
    # pipelines batch construction past the watermark commit or not,
    # no KEPT row is ever late; (b) by the time batch 2 runs, at
    # least batch 0's commit has advanced the watermark to
    # mid3 - 1h, which is hours past every earlier-half window
    # (the half-gap is a quarter of the corpus time span), so ALL
    # of batch 2 drops deterministically.
    batch = F.expr(
        f"CASE WHEN ts_us > ({_TS_MID} + {_TS_HI}) div 2 THEN 1"
        f" WHEN ts_us > {_TS_MID} THEN 0 ELSE 2 END"
    )
    return write_feed(_feed_events(spark, sf_dir, "event_type"), batch, workdir)


@query(
    "stream_late_drop",
    oracle=f"""
    WITH b AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events
    )
    SELECT {_DUCK_BUCKET.format(w=600)} AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, b
    WHERE epoch_us(ts) > b.mid
    GROUP BY window_start, event_type
    """,
    description="Watermark late-data DROP semantics, oracle-checked: "
    "the event feed replays its later half first, so when the "
    "earlier half arrives the watermark (max event time - 1 hour) "
    "has advanced far past every one of its windows and Structured "
    "Streaming drops ALL of them — the final state equals the batch "
    "aggregate over ONLY the later half, which is exactly what the "
    "DuckDB oracle computes (the time gap between halves dwarfs the "
    "watermark delay, so no boundary case is in play).  The dropped-"
    "row count is captured from numRowsDroppedByWatermark in the "
    "run's progress (pytest pins it equal to the earlier half's row "
    "count).  Completes the streaming-semantics set: eviction "
    "(stream_topk_windows), mergeable update state (CDC/KL), and "
    "now late-drop, each MEASURED rather than asserted.",
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    tz = spark.conf.get("spark.sql.session.timeZone")
    feed = session_artifact(
        "late_feed", sf_dir, partial(_write_late_feed, spark, sf_dir)
    )
    stream = read_feed(
        spark, feed, "event_id long, ts_us long, event_type string"
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(
                F.to_utc_timestamp(F.col("window.start"), tz), _TS_FMT
            ).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_state_table(
        spark,
        agg,
        partial(_upsert, ["window_start", "event_type"]),
        "stream_late_drop",
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join with oracle-checked eviction semantics
# ---------------------------------------------------------------------------

def _write_outer_feed(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Three ts-ascending micro-batch files: older half, newer half
    (carrying one click + one purchase sentinel at max(ts) + 2h),
    then ONE sentinel batch.  The halves arrive in event-time order
    so no real row is ever watermark-dropped.  The global watermark
    is the MIN over both sides' watermark nodes and a batch runs
    under the watermark committed by the PREVIOUS batch; because the
    newer half already advances BOTH per-side maxima to max(ts) + 2h
    (the lagging side, not the global max, governs the join
    watermark), the watermark committed after batch 1 is already
    max(ts) + 1h — an hour past every real join window — and the
    single batch 2 flushes every real unmatched click null-extended.
    The streaming output therefore equals the plain batch left join —
    the oracle.  (r13: previously the first sentinel pair was its own
    batch — four micro-batches for the same rows.)"""
    ev = _feed_events(spark, sf_dir, "user_id", "event_type")
    # r13 (one fewer micro-batch, identical output): the first
    # click+purchase sentinel pair rides IN the newer-half file
    # instead of its own batch.  The watermark committed at the end
    # of batch 1 is then already min-over-sides(max(ts)+2h) - 1h =
    # max(ts)+1h — an hour past every real join window — so one
    # final sentinel batch (batch 2) suffices to flush every
    # unmatched click.  Inner matches are unaffected (they emit on
    # sight within addBatch; all real rows still arrive in event-time
    # order, nothing is ever late), so the sink table is
    # row-identical to the 4-batch feed — oracle-checked.  The
    # sentinels sit at max(ts) + 2h; an empty table has no max and
    # gets no sentinel.
    adv = ev.agg((F.max("ts_us") + 2 * 3_600_000_000).alias("ts_us")).dropna()
    sentinels = adv.crossJoin(
        spark.createDataFrame(
            [(-1, -1, "click", 1), (-2, -2, "purchase", 1), (-3, -3, "click", 2)],
            "event_id long, user_id long, event_type string, batch int",
        )
    )
    feed = ev.withColumn(
        "batch", F.expr(f"IF(ts_us <= {_TS_MID}, 0, 1)")
    ).unionByName(sentinels)
    return write_feed(feed, F.col("batch"), workdir)


@query(
    "stream_stream_outer_join",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           c.user_id AS user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_micros
    FROM c LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
    """,
    description="Stream-stream LEFT OUTER interval join with the "
    "null-extension semantics ORACLE-CHECKED, not just smoked: "
    "clicks join same-user purchases within 15 minutes; a click "
    "with no purchase emits null-extended only once the watermark "
    "proves no match can still arrive (c_ts + 15min < watermark, "
    "where the watermark is the MIN over both sides' nodes and a "
    "batch runs under the watermark its predecessor committed — "
    "both facts the sentinel design of the feed had to respect, see "
    "_write_outer_feed).  The feed replays in event-time order and "
    "in-feed sentinels walk the watermark an hour past every "
    "real join window, so the streaming output equals the plain "
    "batch left join EXACTLY — full streaming/batch parity as the "
    "oracle, unmatched rows included.  Both sides watermarked "
    "(state eviction bounds the store); inner matches are "
    "batch-split-invariant because eviction only removes rows "
    "whose join window has provably closed.",
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = session_artifact(
        "outer_feed", sf_dir, partial(_write_outer_feed, spark, sf_dir)
    )
    stream = read_feed(
        spark, feed, "event_id long, ts_us long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_micros("ts_us"))

    def side_of(event_type: str, alias: str) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == event_type)
            .selectExpr(
                f"event_id AS {alias}_event_id",
                f"user_id AS {alias}_user_id",
                f"ts AS {alias}_ts",
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks = side_of("click", "c")
    purchases = side_of("purchase", "p")
    # NOTE: no sentinel filter inside the streaming plan — a
    # `c_user_id >= 0` here would be PUSHED DOWN through the
    # watermark node into the parquet scan, where row-group stats
    # (user_id in [-2,-1]) skip the sentinel files entirely, so the
    # watermark never advances and no outer row ever flushes
    # (measured: sentinel batches read 0 rows).  Sentinels are
    # filtered from the SINK table instead.
    joined = (
        clicks.join(
            purchases,
            F.expr(
                "c_user_id = p_user_id AND "
                "p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 15 MINUTES"
            ),
            "leftOuter",
        )
        .select(
            F.col("c_event_id").alias("click_event_id"),
            F.col("p_event_id").alias("purchase_event_id"),
            F.col("c_user_id").alias("user_id"),
            F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)").alias(
                "gap_micros"
            ),
        )
    )
    with _streaming_shuffle(spark):
        sink = run_memory_sink(spark, joined, "append", "stream_outer")
    # sentinel rows (negative user_id) drop HERE, on the sink table
    return sink.filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# Streaming decontamination gate (stream-static semi-join, stateless)
# ---------------------------------------------------------------------------

from dados_publicos_etl_spark.functions.text import (  # noqa: E402
    duck_shingles_sql as _duck_sh,
)

_DECON_DUCK_SH = _duck_sh("text", n=4)


def _write_doc_feed(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Training documents (source <> 'src0') split into two parquet
    files by doc_id parity — two micro-batches under
    maxFilesPerTrigger=1.  A document's rows live entirely in ONE
    file, so every per-doc decision completes within its own batch
    (the property that lets the gate run stateless)."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("source") != "src0"
    )
    return write_feed(docs, F.col("doc_id") % 2, workdir)


@query(
    "stream_decontaminate_gate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, {_DECON_DUCK_SH} AS sh FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh WHERE source = 'src0'
    ), train AS (
      SELECT doc_id, unnest(sh) AS s FROM sh WHERE source <> 'src0'
    ), hits AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM train t JOIN bench b ON t.s = b.s
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_shingles,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    description="STREAMING benchmark-decontamination gate: training "
    "documents arrive as a readStream file feed (two micro-batches) "
    "and each batch's 4-gram shingles probe the STATIC benchmark "
    "shingle set via a broadcast join inside foreachBatch — the "
    "live-ingest twin of contamination_ngram, and the gate a "
    "pipeline puts IN FRONT of the corpus so contaminated docs "
    "never land.  The gate is STATELESS: a document's rows live "
    "entirely within one feed file, so its decision completes in "
    "its own batch — no state store, no watermark, nothing retained "
    "across triggers (state bound = zero, stronger than the "
    "update-mode upsert family's watermark eviction).  Sink = the "
    "versioned idempotent parquet upsert.  Result equals the batch "
    "oracle exactly.",
)
def stream_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("source") == "src0")
        .select("doc_id", tokens("text").alias("toks"))
        .select(F.explode(shingles_from_tokens(F.col("toks"), n=4)).alias("s"))
        .distinct()
        .localCheckpoint()
    )
    feed = session_artifact(
        "decon_feed", sf_dir, partial(_write_doc_feed, spark, sf_dir)
    )
    stream = read_feed(spark, feed, docs.schema)

    def gate(prev: DataFrame | None, bdf: DataFrame) -> DataFrame:
        sh = bdf.select("doc_id", tokens("text").alias("toks")).select(
            "doc_id",
            F.explode(shingles_from_tokens(F.col("toks"), n=4)).alias("s"),
        )
        hits = (
            sh.join(F.broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        out = (
            bdf.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shared", F.lit(0))
                .cast("long")
                .alias("n_shared_shingles"),
                (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
            )
        )
        return _upsert(["doc_id"], prev, out)

    return run_state_table(spark, stream, gate, "stream_decontaminate_gate")
