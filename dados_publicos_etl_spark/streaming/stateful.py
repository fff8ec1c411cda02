"""Custom stateful streaming operator (SURVEY.md §2.B: streaming
state; reference has none — this is the north-star extension surface).

``applyInPandasWithState`` is Structured Streaming's arbitrary-state
API: per group key, the function sees the new Arrow batches plus a
persistent state handle, and emits output rows.  The example operator
keeps a running (count, sum) per user across micro-batches — the
building block for per-entity aggregates/fraud counters that event-
time windows can't express.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dados_publicos_etl_spark.io import event_time, parquet_footer
from dados_publicos_etl_spark.session import scoped_conf
from dados_publicos_etl_spark.streaming.source import read_feed
from dados_publicos_etl_spark.streaming.windows import run_memory_sink

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def _running_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, round(total, 2)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


def streaming_running_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run the stateful operator over the events table as a stream
    (one micro-batch per file) and return the final per-user totals."""
    from dados_publicos_etl_spark.streaming.source import read_event_stream

    stream = read_event_stream(spark, sf_dir, ntz=True)
    out = stream.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # memory sink in update mode appends every state emission; the
    # last row per user is the final total.
    snap = run_memory_sink(spark, out, "update", "stateful_out")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — Spark 4's arbitrary-state API v2
# ---------------------------------------------------------------------------

try:  # Spark >= 4.0, and the state-server wire protocol needs the
    # google.protobuf package at runtime (the v2 API talks to the JVM
    # state store over a protobuf socket protocol) — gate on both so
    # the module imports cleanly in leaner containers.
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotalsProcessor(StatefulProcessor):
        """State-API-v2 counterpart of ``_running_totals``: a typed
        ValueState (n, total) per user, updated across micro-batches.

        vs applyInPandasWithState: the v2 API gives NAMED, typed state
        variables (ValueState/ListState/MapState), TTL, and timers via
        the handle, instead of one opaque state tuple — the
        forward-looking surface for custom stateful operators.
        """

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, round(total, 2)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    HAS_TWS = True
except ImportError:  # pragma: no cover - older Spark
    HAS_TWS = False


def streaming_running_totals_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The running-totals operator on ``transformWithStateInPandas``
    (state API v2); output equals the applyInPandasWithState path and
    the batch groupBy aggregate — asserted in pytest (skipped where
    google.protobuf is unavailable; see HAS_TWS).

    The v2 operator requires the RocksDB state store provider; the
    conf is scoped to the query so later stateful streams on the
    SHARED session keep their configured provider (leaking it would
    silently switch every subsequent query's state store).
    """
    from dados_publicos_etl_spark.streaming.source import read_event_stream

    with scoped_conf(spark, {
        "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    }):
        stream = read_event_stream(spark, sf_dir, ntz=True)
        out = stream.groupBy("user_id").transformWithStateInPandas(
            RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        snap = run_memory_sink(spark, out, "update", "tws_out")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


SESSION_GAP_MIN = 30
SESSION_OUTPUT = (
    "user_id long, start_us long, end_us long, n_events long, "
    "status string"
)
SESSION_STATE = "start long, last long, n long"


def _session_close(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Gap-timeout sessionizer: maintain an open session per user;
    when the event-time watermark passes last_event + gap, the state
    handle times out and the CLOSED session is emitted exactly once.

    This is the semantics ``session_window`` aggregation cannot give
    you: a custom payload (here start/last/n, in real pipelines
    arbitrary session features) emitted at session CLOSE, driven by
    the watermark, with state removed afterwards (bounded memory).
    """
    (user_id,) = key
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "start_us": [start],
                "end_us": [last],
                "n_events": [n],
                "status": ["closed"],
            }
        )
        return
    start, last, n = state.get if state.exists else (None, None, 0)
    for pdf in pdfs:
        us = pdf["ts_us"]
        mn, mx = int(us.min()), int(us.max())
        start = mn if start is None else min(start, mn)
        last = mx if last is None else max(last, mx)
        n += len(pdf)
    state.update((start, last, n))
    # event-time timeout is epoch MILLIS; fires once watermark passes
    state.setTimeoutTimestamp((last + gap_us) // 1000)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "start_us": [start],
            "end_us": [last],
            "n_events": [n],
            "status": ["open"],
        }
    )


def streaming_session_close(spark: SparkSession, events_dir: str) -> DataFrame:
    """Drive the gap-timeout sessionizer over a directory of parquet
    event files, one micro-batch per file (watermark advances between
    batches, closing idle sessions).  The event time ``ts`` follows
    ``io.event_time``: a plain INT64 ``ts`` is epoch microseconds.
    Returns every emission; filter ``status = 'closed'`` for the final
    sessions.
    """
    schema, nanos, _ = parquet_footer(spark, events_dir)
    stream = (
        event_time(read_feed(spark, events_dir, schema), nanos)
        # watermarks require TIMESTAMP (with zone); NTZ wall times are
        # interpreted in the session zone (UTC for engine sessions)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_us", F.unix_micros("ts"))
        .withWatermark("ts", "0 seconds")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _session_close,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_memory_sink(spark, out, "update", "session_close")
