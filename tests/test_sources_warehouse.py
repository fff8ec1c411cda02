"""Sources/sinks beyond the core: JSON, binaryFile, warehouse
saveAsTable (reference K6), bucketed tables (co-located joins),
partitioned parquet writes, stateful streaming."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dados_publicos_etl_spark import io as eio
from dados_publicos_etl_spark.sources import (
    read_binary_files,
    read_json,
    read_orc,
    read_text,
    write_json,
    write_orc,
)


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    nation = eio.read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out, partition_by=["n_regionkey"])
    back = read_orc(spark, out)
    assert back.count() == nation.count()
    # partition pruning: a partition-key filter must not scan all files
    pruned = back.filter(F.col("n_regionkey") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == nation.filter("n_regionkey = 1").count()
    assert "n_regionkey" not in plan.split("ReadSchema")[-1][:200]


def test_text_source(spark, tmp_path):
    (tmp_path / "a.txt").write_text("alpha\nbeta\n")
    (tmp_path / "b.txt").write_text("gamma\n")
    lines = read_text(spark, str(tmp_path))
    assert {r.value for r in lines.collect()} == {"alpha", "beta", "gamma"}
    whole = read_text(spark, str(tmp_path), whole_text=True)
    assert whole.count() == 2


def test_json_roundtrip(spark, sf_dir, tmp_path):
    nation = eio.read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_json")
    write_json(nation, out)
    back = read_json(
        spark, out, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert back.count() == nation.count()
    assert {r.n_name for r in back.collect()} == {
        r.n_name for r in nation.collect()
    }


def test_binary_file_source(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x01\x02\x03")
    (tmp_path / "b.bin").write_bytes(b"\xff" * 10)
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {os.path.basename(r.path): r for r in df.collect()}
    assert rows["a.bin"].length == 3
    assert bytes(rows["b.bin"].content) == b"\xff" * 10


def test_save_warehouse_table(spark, sf_dir):
    region = eio.read_table(spark, sf_dir, "region")
    eio.save_warehouse_table(region, "wh_region", mode="overwrite")
    back = spark.table("wh_region")
    # reference K6 semantics: WRITE_TRUNCATE + post-load count verify
    # (/root/reference/src/utils/load_bq.py:45,58-60)
    assert back.count() == region.count()
    eio.save_warehouse_table(region, "wh_region", mode="overwrite")
    assert spark.table("wh_region").count() == region.count()


def test_warehouse_sink_seam_routes(spark, sf_dir):
    """save_warehouse_table routes through the WarehouseSink seam:
    a custom sink observes the exact (table, mode) call and the
    DataFrame identity; the BigQuery sink shape builds without any
    GCP dependency (saving needs the connector jar, by design)."""
    region = eio.read_table(spark, sf_dir, "region")
    calls = []

    class Recorder(eio.WarehouseSink):
        def save(self, df, table, mode="overwrite"):
            calls.append((df is region, table, mode))

    eio.save_warehouse_table(region, "wh_x", mode="append", sink=Recorder())
    assert calls == [(True, "wh_x", "append")]
    bq = eio.BigQueryWarehouseSink("dataset_a", temp_bucket="bkt")
    assert (bq.dataset, bq.temp_bucket) == ("dataset_a", "bkt")


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """bucketBy(8, key) on both sides -> SortMergeJoin without
    Exchange: the co-location contract that kills the join shuffle at
    100 TB."""
    cust = eio.read_table(spark, sf_dir, "customer")
    orders = eio.read_table(spark, sf_dir, "orders")
    (
        cust.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("b_customer")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("b_orders")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """partitionBy on write + partition filter on read -> the scan
    lists only the matching partition directories."""
    orders = eio.read_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    eio.write_parquet(orders, out, partition_by=["year"])
    back = spark.read.parquet(out).filter(F.col("year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan
    assert back.count() == orders.filter("year = 1997").count()


def test_stateful_streaming_running_totals(spark, sf_dir):
    from dados_publicos_etl_spark.streaming.stateful import (
        streaming_running_totals,
    )

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in streaming_running_totals(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n, r.tv)
        for r in eio.read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
        .collect()
    }
    assert got == want

def test_stateful_streaming_running_totals_v2_api(spark, sf_dir):
    """transformWithStateInPandas (state API v2, typed ValueState)
    produces the same per-user totals as the batch aggregate — the
    same parity contract the applyInPandasWithState path satisfies."""
    import pytest as _pytest

    from dados_publicos_etl_spark.streaming import stateful

    if not stateful.HAS_TWS:
        _pytest.skip(
            "transformWithStateInPandas needs Spark >= 4.0 AND the "
            "google.protobuf package (state-server wire protocol)"
        )
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in stateful.streaming_running_totals_v2(
            spark, sf_dir
        ).collect()
    }
    want = {
        r.user_id: (r.n, r.tv)
        for r in eio.read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_analyze_table_collects_cbo_stats(spark, sf_dir):
    orders = eio.read_table(spark, sf_dir, "orders")
    eio.save_warehouse_table(orders, "wh_orders_stats", mode="overwrite")
    stats = eio.analyze_table(
        spark, "wh_orders_stats", columns=["o_custkey", "o_totalprice"]
    )
    # CBO needs sizeInBytes + rowCount in the catalog entry
    assert "Statistics" in stats
    assert "rowCount" in stats["Statistics"] or "rows" in stats["Statistics"]


def test_foreach_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    from dados_publicos_etl_spark.streaming.sinks import (
        stream_events_foreach_batch,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = stream_events_foreach_batch(spark, sf_dir, out, ckpt)
    assert n1 >= 1
    total = (
        spark.read.parquet(out)
        .agg(F.sum("n_events").alias("s"))
        .collect()[0]["s"]
    )
    assert total == eio.read_table(spark, sf_dir, "events").count()
    # restart with the same checkpoint: offsets are committed, no new
    # batches run, output unchanged (exactly-once across restarts)
    n2 = stream_events_foreach_batch(spark, sf_dir, out, ckpt)
    assert n2 == 0
    total2 = (
        spark.read.parquet(out)
        .agg(F.sum("n_events").alias("s"))
        .collect()[0]["s"]
    )
    assert total2 == total


def test_python_datasource_partitioned_read(spark):
    from dados_publicos_etl_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("numRows", 500)
        .option("numPartitions", 4)
        .load()
    )
    # partition list drives parallelism: 4 input partitions
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 500
    assert df.select("doc_id").distinct().count() == 500
    # deterministic across re-reads (task-retry safety)
    r1 = df.orderBy("doc_id").limit(3).collect()
    r2 = (
        spark.read.format("synthetic_docs")
        .option("numRows", 500)
        .option("numPartitions", 2)
        .load()
        .orderBy("doc_id")
        .limit(3)
        .collect()
    )
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    # composes with engine operators downstream
    n_langs = df.groupBy("lang").count().count()
    assert n_langs == 3


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """Custom Python sink: per-task temp files, driver-side rename on
    commit — no _tmp files survive a successful write, all rows land
    exactly once."""
    import glob
    import json
    import os

    from dados_publicos_etl_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "jsonl_out")
    df = spark.range(0, 100).selectExpr(
        "id AS k", "CAST(id * 2 AS STRING) AS v"
    ).repartition(4)
    df.write.format("jsonl_dir").option("path", out).mode("append").save()

    finals = sorted(glob.glob(os.path.join(out, "part-*.jsonl")))
    temps = glob.glob(os.path.join(out, "_tmp-*.jsonl"))
    assert temps == [], "temp files must be renamed at commit"
    assert len(finals) == 4
    rows = []
    for f in finals:
        with open(f) as fh:
            rows += [json.loads(line) for line in fh]
    assert sorted(r["k"] for r in rows) == list(range(100))
    assert all(r["v"] == str(r["k"] * 2) for r in rows)


def test_python_datasource_streaming_offsets(spark, tmp_path):
    """Custom Python STREAMING source (SimpleDataSourceStreamReader):
    offset-tracked micro-batches drain exactly numrows rows with
    deterministic values, and a restart from the same checkpoint
    replays nothing (offsets committed => exactly-once)."""
    from dados_publicos_etl_spark.sources import pysource

    pysource.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "stream_out")

    def run_once() -> int:
        df = (
            spark.readStream.format("synthetic_events_stream")
            .option("numrows", 100)
            .option("batchsize", 30)
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(out).count()

    assert run_once() == 100
    rows = {
        r.event_id: (r.payload, r.value)
        for r in spark.read.parquet(out).collect()
    }
    assert sorted(rows) == list(range(100))
    # deterministic generator: value derivable from the id
    assert all(
        v == ((i * 2_654_435_761) % 1000) / 10.0 for i, (_, v) in rows.items()
    )
    # restart against the same checkpoint: offsets are committed, the
    # fault-tolerant sink receives no replayed batches
    assert run_once() == 100


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """overwrite_partitions replaces ONLY the partitions present in
    the incremental frame; untouched partitions survive byte-for-byte,
    and sortWithinPartitions layout holds inside each file."""
    from dados_publicos_etl_spark.io import overwrite_partitions, read_table

    out = str(tmp_path / "orders_by_status")
    orders = read_table(spark, sf_dir, "orders")
    overwrite_partitions(
        orders, out, partition_by=["o_orderstatus"],
        sort_within_by=["o_custkey"], max_records_per_file=100_000,
    )
    before = {
        r["o_orderstatus"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("o_orderstatus").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert set(before) == {"F", "O", "P"}

    # incremental rewrite of ONE partition with a truncated frame
    inc = orders.filter("o_orderstatus = 'P'").limit(5)
    overwrite_partitions(inc, out, partition_by=["o_orderstatus"])
    after = {
        r["o_orderstatus"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("o_orderstatus").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert after["P"] == 5                      # rewritten
    assert after["F"] == before["F"]            # untouched
    assert after["O"] == before["O"]

    # sort_within_by produced monotone o_custkey within each file
    import pyarrow.parquet as pq
    import glob
    files = glob.glob(f"{out}/o_orderstatus=F/*.parquet")
    assert files
    col = pq.read_table(files[0], columns=["o_custkey"])["o_custkey"]
    vals = col.to_pylist()
    assert vals == sorted(vals)


def test_zorder_layout_tightens_file_stats_on_both_dims(
    spark, sf_dir, tmp_path
):
    """write_zordered clusters BOTH dimensions at once: every output
    file's footer min/max must span a small fraction of each column's
    domain (so footer-stat skipping prunes on either filter column),
    where a hash-shuffled baseline write spans ~the whole domain in
    every file."""
    import glob

    import pyarrow.parquet as pq

    from dados_publicos_etl_spark.io import read_table
    from dados_publicos_etl_spark.operators.layout import write_zordered

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def mean_file_span(path: str, col: str) -> float:
        spans, mins, maxs = [], [], []
        for f in glob.glob(f"{path}/*.parquet"):
            vals = pq.read_table(f, columns=[col])[col].to_pylist()
            lo, hi = min(vals), max(vals)
            spans.append(hi - lo)
            mins.append(lo)
            maxs.append(hi)
        domain = max(maxs) - min(mins)
        return sum(spans) / len(spans) / domain

    base = str(tmp_path / "orders_base")
    orders.repartition(16).write.parquet(base)
    zord = str(tmp_path / "orders_z")
    # 16 files -> each covers 1/16 of z-space, i.e. ~a quarter of the
    # domain per dimension ideally; curve-boundary files span more,
    # hence the 0.6 bound (vs >0.8 everywhere for the hash baseline)
    write_zordered(orders, zord, "o_custkey", "o_totalprice", n_files=16)

    # baseline: every hash-shuffled file covers ~the full domain
    assert mean_file_span(base, "o_custkey") > 0.8
    assert mean_file_span(base, "o_totalprice") > 0.8
    # z-ordered: each file covers a bounded slice of BOTH dimensions
    assert mean_file_span(zord, "o_custkey") < 0.6
    assert mean_file_span(zord, "o_totalprice") < 0.6
    # no rows lost and schema unchanged
    assert (
        spark.read.parquet(zord).count() == orders.count()
    )


def test_compact_partitions_merges_small_files(spark, sf_dir, tmp_path):
    """compact_partitions rewrites ONLY over-split partitions down to
    the target file count, preserves every row, and leaves
    already-compact partitions untouched (O(oversplit), not
    O(dataset))."""
    import glob

    from dados_publicos_etl_spark.io import compact_partitions, read_table

    out = str(tmp_path / "orders_parts")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    # over-split two partitions (6 files each), keep one compact
    (
        orders.filter("o_orderstatus != 'P'")
        .repartition(6)
        .write.partitionBy("o_orderstatus")
        .parquet(out)
    )
    (
        orders.filter("o_orderstatus = 'P'")
        .coalesce(1)
        .write.mode("append")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    n_rows = spark.read.parquet(out).count()
    files_before = {
        s: len(glob.glob(f"{out}/o_orderstatus={s}/*.parquet"))
        for s in ("F", "O", "P")
    }
    assert files_before["F"] == 6 and files_before["P"] == 1
    p_file_before = glob.glob(f"{out}/o_orderstatus=P/*.parquet")[0]

    todo = compact_partitions(
        spark, out, partition_by=["o_orderstatus"],
        target_file_bytes=1 << 30, min_files_to_compact=2,
    )
    assert set(todo) == {"o_orderstatus=F", "o_orderstatus=O"}
    for s in ("F", "O"):
        assert len(glob.glob(f"{out}/o_orderstatus={s}/*.parquet")) == 1
    # the compact partition kept its original file — not rewritten
    assert glob.glob(f"{out}/o_orderstatus=P/*.parquet") == [p_file_before]
    after = spark.read.parquet(out)
    assert after.count() == n_rows
    # partition column type survived the round-trip (not widened)
    assert dict(after.dtypes)["o_orderstatus"] == "string"


def test_parquet_merge_schema_across_evolving_partitions(spark, tmp_path):
    """Schema evolution at the FILE level: a column added in later
    partition writes surfaces via mergeSchema (union of all footer
    schemas), with NULLs for pre-evolution partitions — the read-side
    counterpart of the DataFrame-level schema_evolution_union query."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    spark.range(0, 5).select("id").write.parquet(f"{out}/batch=1")
    spark.range(5, 10).select(
        "id", (F.col("id") * 2).alias("extra")
    ).write.parquet(f"{out}/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "extra", "batch"}
    rows = {r.id: (r.extra, r.batch) for r in merged.collect()}
    assert all(rows[i] == (None, 1) for i in range(5))
    assert all(rows[i] == (i * 2, 2) for i in range(5, 10))


def test_compact_partitions_nested_two_level(spark, tmp_path):
    """compact_partitions on a two-level (year/status) layout: leaf
    partitions compact independently, values and the INTEGER type of
    the inferred partition column survive the rewrite."""
    import glob

    from pyspark.sql import functions as F

    from dados_publicos_etl_spark.io import compact_partitions

    out = str(tmp_path / "nested")
    df = spark.range(0, 400).select(
        "id",
        (F.lit(1997) + (F.col("id") % 2)).cast("int").alias("year"),
        F.when(F.col("id") % 4 < 2, "A").otherwise("B").alias("status"),
    )
    df.repartition(5).write.partitionBy("year", "status").parquet(out)
    leaf = f"{out}/year=1997/status=A"
    assert len(glob.glob(f"{leaf}/*.parquet")) == 5

    todo = compact_partitions(
        spark, out, partition_by=["year", "status"],
        target_file_bytes=1 << 30, min_files_to_compact=2,
    )
    assert len(todo) == 4  # all four leaves were over-split
    assert all(len(p.split("/")) == 2 for p in todo)
    for p in glob.glob(f"{out}/year=*/status=*"):
        assert len(glob.glob(f"{p}/*.parquet")) == 1
    back = spark.read.parquet(out)
    assert back.count() == 400
    assert dict(back.dtypes)["year"] == "int"
    assert back.groupBy("year", "status").count().count() == 4
    assert sorted(r.id for r in back.collect()) == list(range(400))


def test_compact_partitions_escaped_and_null_values(spark, tmp_path):
    """Partition values that Spark %XX-escapes in directory names
    (':', '%', '=') and NULL (__HIVE_DEFAULT_PARTITION__) must
    round-trip through compaction: the rewrite targets the ORIGINAL
    directories — no doubly-escaped twin dirs, no silent row
    duplication — and the null partition stays null."""
    import glob
    import os

    from dados_publicos_etl_spark.io import compact_partitions

    out = str(tmp_path / "escaped")
    vals = ["a b", "x:y", "p%q", "k=v", None]
    df = spark.createDataFrame(
        [(i, v) for i in range(40) for v in vals], "id long, cat string"
    )
    df.repartition(3).write.partitionBy("cat").parquet(out)
    dirs_before = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/cat=*")
    )
    assert len(dirs_before) == len(vals)
    n_before = spark.read.parquet(out).count()
    assert n_before == 40 * len(vals)

    todo = compact_partitions(
        spark, out, partition_by=["cat"],
        target_file_bytes=1 << 30, min_files_to_compact=2,
    )
    assert todo, "over-split partitions should have been compacted"
    after = spark.read.parquet(out)
    assert after.count() == n_before  # duplication = escaping bug
    dirs_after = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/cat=*")
    )
    assert dirs_after == dirs_before  # no new escaped-twin dirs
    got_vals = {r.cat for r in after.select("cat").distinct().collect()}
    assert got_vals == set(vals)
    for p in glob.glob(f"{out}/cat=*"):
        assert len(glob.glob(f"{p}/*.parquet")) == 1


def test_stateful_session_close_on_event_time_timeout(spark, tmp_path):
    """applyInPandasWithState + EventTimeTimeout: a session CLOSES
    (emits once, state removed) when the watermark passes its last
    event + gap — per-file micro-batches advance the watermark."""
    import pandas as pd

    from dados_publicos_etl_spark.streaming.stateful import (
        streaming_session_close,
    )

    t0 = 1_700_000_000_000_000  # epoch micros
    MIN = 60 * 1_000_000

    # the same events with ts a MICROS timestamp and a plain INT64 of
    # epoch micros (the engine's event-time rule, io.event_time)
    for unit in ("timestamp", "int64"):
        d = tmp_path / unit
        d.mkdir()

        def write(name, user, base_us, n=3):
            us = [base_us + i * MIN for i in range(n)]
            pd.DataFrame(
                {
                    "user_id": pd.Series([user] * n, dtype="int64"),
                    "ts": pd.to_datetime(us, unit="us")
                    if unit == "timestamp" else pd.Series(us, dtype="int64"),
                }
            ).to_parquet(d / name, coerce_timestamps="us")

        # users arrive 100 minutes apart; gap is 30 min, so each later
        # batch's watermark closes the previous user's session
        write("01.parquet", 1, t0)
        write("02.parquet", 2, t0 + 100 * MIN)
        write("03.parquet", 3, t0 + 200 * MIN)
        write("04.parquet", 4, t0 + 300 * MIN)

        out = streaming_session_close(spark, str(d))
        closed = {
            r["user_id"]: r
            for r in out.filter("status = 'closed'").collect()
        }
        # sessions 1-3 closed: each later batch's watermark crosses the
        # previous session's timeout, and the trailing empty micro-batch
        # (watermark = last batch's max ts) closes session 3.  Session 4
        # stays open — no watermark ever passes its timeout.
        assert set(closed) == {1, 2, 3}, unit
        for uid, base in [(1, t0), (2, t0 + 100 * MIN), (3, t0 + 200 * MIN)]:
            r = closed[uid]
            assert r["start_us"] == base, unit
            assert r["end_us"] == base + 2 * MIN, unit
            assert r["n_events"] == 3, unit


def test_write_jsonl_shards_sizes_and_roundtrip(spark, sf_dir, tmp_path):
    """JSONL export: shard count tracks the size budget, every line
    parses, and the round-trip preserves the row multiset."""
    import glob
    import json
    import os

    from dados_publicos_etl_spark.io import read_table, write_jsonl_shards

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "jsonl")
    # ~0.3 MB of text at sf0.001 with a 0.1 MB budget => >= 2 shards
    n = write_jsonl_shards(docs, out, target_mb=1, sample_rows=100)
    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(files) == n >= 1
    rows = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                rows.append(json.loads(line))
    want = {(r.doc_id, r.text, r.lang) for r in docs.collect()}
    assert {(r["doc_id"], r["text"], r["lang"]) for r in rows} == want
    assert len(rows) == len(want)


def test_enforce_retention_drops_only_expired(spark, tmp_path, sf_dir):
    """TTL enforcement: partitions strictly before the cutoff are
    deleted, survivors (incl. the cutoff day itself and the Hive
    NULL sentinel) remain byte-identical; the op never reads data."""
    from dados_publicos_etl_spark.io import (
        enforce_retention,
        overwrite_partitions,
        read_table,
    )

    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"),
        "event_id",
        "user_id",
    )
    # plant a NULL partition too
    ev = ev.unionByName(
        ev.limit(2).withColumn("day", F.lit(None).cast("string"))
    )
    root = str(tmp_path / "events_by_day")
    overwrite_partitions(ev, root, ["day"])
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(root)
        if d.startswith("day=") and "HIVE" not in d
    )
    assert len(days) > 3
    cutoff = days[2]
    survivor_file = None
    for d in os.listdir(root):
        if d == f"day={cutoff}":
            files = sorted(os.listdir(os.path.join(root, d)))
            survivor_file = os.path.join(root, d, files[0])
            before = open(survivor_file, "rb").read()
    res = enforce_retention(root, "day", cutoff)
    assert res["dropped"] == 2
    remaining = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(root)
        if d.startswith("day=") and "HIVE" not in d
    )
    assert remaining == days[2:]
    assert any("HIVE" in d for d in os.listdir(root)), "NULL kept"
    assert open(survivor_file, "rb").read() == before
    # survivors still read consistently
    got = spark.read.parquet(root).count()
    want = ev.filter(
        F.col("day").isNull() | (F.col("day") >= cutoff)
    ).count()
    assert got == want


def test_publish_version_atomic_pointer_and_gc(spark, tmp_path, sf_dir):
    """Versioned publish: _CURRENT always resolves to a complete
    version; republish bumps the version; GC keeps the newest
    keep_versions dirs; old version stays readable until GC'd
    (time travel)."""
    from dados_publicos_etl_spark.io import (
        publish_version,
        read_current_version,
        read_table,
    )

    root = str(tmp_path / "tbl")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    p1 = publish_version(li.limit(10), root, keep_versions=2)
    assert p1.endswith("v1")
    assert read_current_version(spark, root).count() == 10
    p2 = publish_version(li.limit(25), root, keep_versions=2)
    assert p2.endswith("v2")
    assert read_current_version(spark, root).count() == 25
    # time travel to v1 while retained
    assert spark.read.parquet(os.path.join(root, "v1")).count() == 10
    p3 = publish_version(li.limit(40), root, keep_versions=2)
    assert p3.endswith("v3")
    assert read_current_version(spark, root).count() == 40
    dirs = {d for d in os.listdir(root) if d.startswith("v")}
    assert dirs == {"v2", "v3"}, dirs  # v1 GC'd, window of 2 kept


def test_globally_sorted_export_files_are_totally_ordered(
    spark, sf_dir, tmp_path
):
    """write_globally_sorted must produce a cross-file total order:
    file k's max key <= file k+1's min key, rows preserved, and the
    manifest's per-file ranges must not overlap."""
    from dados_publicos_etl_spark.operators.layout import (
        write_globally_sorted,
    )

    li = eio.read_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    path = str(tmp_path / "sorted_li")
    _table, manifest = write_globally_sorted(
        li, path, ["l_extendedprice", "l_orderkey", "l_linenumber"]
    )
    manifest = manifest.collect()
    assert sum(r.n_rows for r in manifest) == li.count()
    assert len(manifest) > 1
    for prev, nxt in zip(manifest, manifest[1:]):
        assert prev.max_key <= nxt.min_key
    # within-file order spot check on the first file
    import pandas as pd

    f0 = pd.read_parquet(manifest[0].file.replace("file://", ""))
    assert f0["l_extendedprice"].is_monotonic_increasing
