"""Streaming sinks: foreachBatch — the micro-batch escape hatch.

``foreachBatch`` hands each micro-batch to arbitrary DataFrame code
(MERGE, multi-sink fan-out, warehouse loads) with the batch_id for
exactly-once bookkeeping.  This is the streaming equivalent of the
reference's per-layer load steps (/root/reference/src/utils/
load_bq.py): each batch is a "layer load" with idempotency keyed on
batch_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.streaming.source import (
    read_event_stream,
    read_feed,
    write_feed,
)


def stream_events_foreach_batch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """readStream the events table and land per-event-type counts via
    foreachBatch parquet writes; returns the number of micro-batches
    processed.

    Exactly-once: the output path embeds batch_id, so a replayed
    batch overwrites its own directory instead of double-appending
    (the standard idempotent-foreachBatch pattern).  The checkpoint
    dir gives source-offset recovery; together they make the sink
    restart-safe.
    """
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )
        n_batches["n"] += 1

    q = (
        read_event_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


from dados_publicos_etl_spark.functions.numeric import (  # noqa: E402
    leading_zero_rank,
)
from dados_publicos_etl_spark.functions.text import hex_long  # noqa: E402
from dados_publicos_etl_spark.io import read_table  # noqa: E402
from dados_publicos_etl_spark.plans.registry import query  # noqa: E402
from dados_publicos_etl_spark.streaming.windows import (  # noqa: E402
    run_state_table,
)
from dados_publicos_etl_spark.tmpstore import (  # noqa: E402
    Table,
    session_artifact,
)


def _cdc_feed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized events as a 2-batch file stream split by
    event_id parity (scaffolding for an external CDC feed; the feed is
    a session artifact so repeat invocations measure the merge),
    reopened with the schema it was written with."""

    def build(workdir: str) -> Table:
        events = read_table(spark, sf_dir, "events")
        feed = write_feed(events, F.col("event_id") % 2, workdir)
        return Table(feed, events.schema)

    feed = session_artifact("cdc_feed", sf_dir, build)
    return read_feed(spark, feed.path, feed.schema)


@query(
    "stream_cdc_upsert",
    oracle="""
    WITH per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT p.user_id, p.n_events,
           r.event_type AS last_type,
           ROUND(r.value, 2) AS last_value
    FROM per p JOIN ranked r ON p.user_id = r.user_id AND r.rk = 1
    """,
    description="Streaming CDC upsert end-to-end: a 2-file event feed "
    "streams in micro-batches (maxFilesPerTrigger=1); each batch "
    "aggregates per-user state (count + max_by latest event) and "
    "MERGES it into the persisted state table — counts add, latest-"
    "event wins by (ts, event_id) ACROSS batches, so the result is "
    "batch-split-invariant and equals the batch oracle over the "
    "whole feed.  The foreachBatch-merge loop is the standard "
    "warehouse CDC shape; state versions alternate directories so a "
    "batch never reads the file it overwrites.",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    def upsert(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last"),
        )
        if prev is None:
            return b
        return (
            prev.alias("s")
            .join(b.alias("b"), "user_id", "full_outer")
            .select(
                "user_id",
                (
                    F.coalesce(F.col("s.n_events"), F.lit(0))
                    + F.coalesce(F.col("b.n_events"), F.lit(0))
                ).alias("n_events"),
                F.greatest(F.col("s.last"), F.col("b.last")).alias("last"),
            )
        )

    # the state table is DATA-scale (one row per user) — never
    # collect it; the serving read is a scan of the final version
    state = run_state_table(
        spark, _cdc_feed_stream(spark, sf_dir), upsert, "stream_cdc_upsert"
    )
    return state.select(
        "user_id",
        "n_events",
        F.col("last.event_type").alias("last_type"),
        F.round(F.col("last.value"), 2).alias("last_value"),
    )


_SHQ_BIN = 10  # fixed value-bin width (values ~0-500 -> ~50 bins/type)


@query(
    "stream_histogram_quantile",
    oracle=f"""
    WITH bins AS (
      SELECT event_type,
             CAST(floor(value / {_SHQ_BIN}) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM bins
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum * 2 >= n
                    THEN (bin + 1) * {_SHQ_BIN} END) AS BIGINT)
             AS p50_upper,
           CAST(MIN(CASE WHEN cum * 10 >= n * 9
                    THEN (bin + 1) * {_SHQ_BIN} END) AS BIGINT)
             AS p90_upper
    FROM cum GROUP BY event_type
    """,
    description="STREAMING quantiles via the mergeable fixed-bin "
    "histogram: each micro-batch aggregates its (event_type, bin) "
    "counts and foreachBatch ADDS them into a versioned state table "
    "— count addition commutes, so the result is batch-split-"
    "invariant and equals the batch quantile oracle over the whole "
    "feed; the serving read derives p50/p90 by integer threshold "
    "crossing.  State is bins x types (bounded by value range / bin "
    "width), NOT rows — the streaming percentile monitor that never "
    "grows with traffic, vs approx_percentile which cannot run on "
    "an unbounded stream at all.  Composes histogram_quantile_"
    "mergeable's merge law with the stream_cdc_upsert machinery.",
)
def stream_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    def merge_hist(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        b = batch_df.groupBy(
            "event_type",
            F.floor(F.col("value") / _SHQ_BIN).cast("long").alias("bin"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
        if prev is None:
            return b
        return (
            prev.unionByName(b)
            .groupBy("event_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    hist = run_state_table(
        spark,
        _cdc_feed_stream(spark, sf_dir),
        merge_hist,
        "stream_histogram_quantile",
    )
    wcum = W.partitionBy("event_type").orderBy("bin")
    wall = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(
                F.col("cum") * 2 >= F.col("n"),
                (F.col("bin") + 1) * _SHQ_BIN,
            )
        )
        .cast("long")
        .alias("p50_upper"),
        F.min(
            F.when(
                F.col("cum") * 10 >= F.col("n") * 9,
                (F.col("bin") + 1) * _SHQ_BIN,
            )
        )
        .cast("long")
        .alias("p90_upper"),
    )


@query(
    "stream_kl_drift",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY day, event_type
    ), day_tot AS (
      SELECT day, CAST(SUM(c) AS BIGINT) AS n_d
      FROM daily GROUP BY day
    ), gmix AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS g
      FROM daily GROUP BY event_type
    ), gtot AS (
      SELECT CAST(SUM(g) AS BIGINT) AS n_g FROM gmix
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           t.n_d AS n_events,
           ROUND(SUM((CAST(d.c AS DOUBLE) / t.n_d)
                     * LN((CAST(d.c AS DOUBLE) / t.n_d)
                          / (CAST(g.g AS DOUBLE) / gt.n_g))), 6)
             AS kl_nat
    FROM daily d
    JOIN day_tot t ON d.day = t.day
    JOIN gmix g ON d.event_type = g.event_type
    CROSS JOIN gtot gt
    GROUP BY d.day, t.n_d
    """,
    description="STREAMING drift monitor: each micro-batch's "
    "(day, event_type) counts are ADDED into a versioned state "
    "table by foreachBatch (count addition commutes -> batch-split-"
    "invariant, equals the batch oracle over the whole feed), and "
    "the serving read computes per-day KL divergence of that day's "
    "event mix against the all-time mix.  State is days x "
    "event-types — calendar-bounded, never row-bounded — so the "
    "monitor runs forever at constant memory; the alerting read "
    "costs O(state), not O(stream).  Composes the "
    "kl_event_mix_divergence metric with the stream_cdc_upsert "
    "mergeable-state machinery (same law as "
    "stream_histogram_quantile's bin counts).",
)
def stream_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    def merge_counts(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        # the feed's ts is NTZ: its day bucket does not depend on the
        # session time zone
        b = batch_df.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("c"))
        if prev is None:
            return b
        return (
            prev.unionByName(b)
            .groupBy("day", "event_type")
            .agg(F.sum("c").alias("c"))
        )

    daily = run_state_table(
        spark, _cdc_feed_stream(spark, sf_dir), merge_counts, "stream_kl_drift"
    )
    day_tot = daily.groupBy("day").agg(F.sum("c").alias("n_d"))
    gmix = daily.groupBy("event_type").agg(F.sum("c").alias("g"))
    # the all-time total as a one-row relation joined in: no driver
    # round trip, and an empty feed joins to the oracle's zero rows
    gtot = daily.agg(F.sum("c").alias("n_g"))
    p_d = F.col("c").cast("double") / F.col("n_d")
    p_g = F.col("g").cast("double") / F.col("n_g")
    return (
        daily.join(day_tot, "day")
        .join(F.broadcast(gmix), "event_type")
        .crossJoin(F.broadcast(gtot))
        .groupBy("day", "n_d")
        .agg(F.round(F.sum(p_d * F.log(p_d / p_g)), 6).alias("kl_nat"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_d").cast("long").alias("n_events"),
            "kl_nat",
        )
    )


_SHLL_M = 64  # portable HLL registers (p = 6), matching
              # plans/stats2.hll_portable_registers' construction


@query(
    "stream_hll_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ), ranks AS (
      SELECT event_type,
             CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % {_SHLL_M}
               AS bucket,
             CASE WHEN CAST(('0x' || substr(h, 3, 6)) AS BIGINT) = 0
                  THEN 25
                  ELSE 25 - length(bin(CAST(('0x' || substr(h, 3, 6))
                                            AS BIGINT))) END AS r
      FROM hashed
    )
    SELECT event_type, bucket, CAST(MAX(r) AS BIGINT) AS r
    FROM ranks GROUP BY event_type, bucket
    """,
    description="STREAMING distinct-user sketch per event type: each "
    "micro-batch computes its portable md5-derived HLL registers "
    f"({_SHLL_M} per type — the construction "
    "hll_portable_registers differentially proves) and foreachBatch "
    "merges them into a versioned state table by MAX — register max "
    "commutes and is idempotent, so the result is batch-split-"
    "invariant AND replay-safe (at-least-once delivery cannot "
    "corrupt a max-merge), equal to the batch registers over the "
    "whole feed, which is the oracle.  State is |types| x "
    f"{_SHLL_M} rows at ANY traffic volume — the streaming "
    "COUNT(DISTINCT) that a 100 TB/day stream cannot afford "
    "exactly; the serving read derives the estimate from kilobytes "
    "of state.  Completes the mergeable-state sink family: counts "
    "(CDC), histograms (quantiles), KL cells (drift), now "
    "cardinality.",
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    def regs_of(df: DataFrame) -> DataFrame:
        h = F.md5(F.col("user_id").cast("string"))
        return (
            df.select(
                "event_type",
                (hex_long(h, 2) % _SHLL_M).alias("bucket"),
                leading_zero_rank(hex_long(h, 6, start=3), 25)
                .cast("long")
                .alias("r"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.max("r").alias("r"))
        )

    def merge_regs(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        b = regs_of(batch_df)
        if prev is None:
            return b
        return (
            prev.unionByName(b)
            .groupBy("event_type", "bucket")
            .agg(F.max("r").alias("r"))
        )

    regs = run_state_table(
        spark,
        _cdc_feed_stream(spark, sf_dir),
        merge_regs,
        "stream_hll_distinct",
    )
    return regs.select(
        "event_type", "bucket", F.col("r").cast("long").alias("r")
    )
