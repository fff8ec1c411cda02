"""Physical-plan assertions: the properties that make these queries
scale are checked, not assumed (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans import QUERIES
from dados_publicos_etl_spark.plans import catalog  # noqa: F401
from tests.conftest import next_job_id


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    plan = _plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    # column pruning: the 11-column lineitem scan reads only 7
    assert "l_orderkey" not in plan.split("FileScan")[1].split("]")[0]
    # filter pushdown reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = _plan(QUERIES["q3_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the selective dim filter is pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_plans_semi(spark, sf_dir):
    plan = _plan(QUERIES["join_semi"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """groupBy compiles to partial_ + final HashAggregate around one
    Exchange — map-side combine is what keeps 100 TB aggs feasible."""
    plan = _plan(
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_cnae_clean_is_shuffle_free(spark, sf_dir):
    """The reference-parity cleaning query is a narrow map: no
    Exchange anywhere in the plan."""
    plan = _plan(QUERIES["cnae_clean"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_q21_self_joins_are_semi_anti_not_cartesian(spark, sf_dir):
    """The EXISTS/NOT-EXISTS lineitem self-joins must plan as
    orderkey-equi semi/anti joins — a cartesian or nested-loop plan
    here would be quadratic in lineitem."""
    plan = _plan(QUERIES["q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q2_correlated_min_no_extra_scan(spark, sf_dir):
    """The per-part MIN is a window over the aggregated offer table,
    not a second scan+join of lineitem: lineitem appears in exactly
    one FileScan."""
    plan = _plan(QUERIES["q2_min_cost_supplier"].fn(spark, sf_dir))
    assert plan.count("FileScan parquet") >= 3  # lineitem, part, supp dims
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_q11_scalar_threshold_is_broadcast(spark, sf_dir):
    """The scalar-subquery threshold joins as a 1-row broadcast
    (nested-loop on a single row), never a shuffle of the big side."""
    plan = _plan(QUERIES["q11_important_stock"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dq_report_rowcount_is_broadcast(spark, sf_dir):
    """The 1-row total-rowcount aggregate crossJoins onto the rule
    rows as a built broadcast (BroadcastNestedLoopJoin with the 1-row
    side in a BroadcastExchange) — hinted explicitly rather than left
    to AQE so the plan is deterministic at scale."""
    plan = _plan(QUERIES["dq_report"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan


def test_q16_not_in_plans_anti_join(spark, sf_dir):
    plan = _plan(QUERIES["q16_supplier_part_counts"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_dedup_embedding_survivorship_anti_join(spark, sf_dir):
    """Survivorship is NOT-EXISTS, expressed as a single left_anti
    (r12 folded the former semi+anti pair into one join) — pin that
    the fold holds: one anti join, no residual semi, no cartesian."""
    plan = _plan(QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "LeftSemi" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP: a selective dim-side filter prunes FACT PARTITIONS AT
    RUNTIME — the broadcast result doubles as a partition filter
    subquery on the fact scan.  At 100 TB this is the difference
    between scanning one date partition and scanning the table when
    the date predicate lives on the dim side of the join."""
    import dados_publicos_etl_spark.io as eio

    fact = eio.read_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    fact.write.partitionBy("year").parquet(out)
    # DPP plans only when the dim side carries a SELECTIVE predicate
    # (Catalyst's PartitionPruning rule requirement) — the filter
    # below is that predicate, as in "WHERE d_year = 1997" on a date
    # dimension.
    dim = spark.createDataFrame(
        [(1996, "ninety-six"), (1997, "ninety-seven")],
        "dim_year int, label string",
    ).filter("label = 'ninety-seven'")
    joined = (
        spark.read.parquet(out)
        .join(dim, F.col("year") == F.col("dim_year"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    got = {r.label: r.n for r in joined.collect()}
    want = fact.filter("year = 1997").count()
    assert got == {"ninety-seven": want}


def test_json_variant_stays_jvm_side(spark, sf_dir):
    """VARIANT path extraction is a JVM expression — no Python worker
    in the plan (the reason to prefer it over a JSON-parsing UDF)."""
    plan = _plan(QUERIES["json_variant"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # map-side partial aggregation before the exchange
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    """GROUPING SETS plans as ONE Expand + ONE exchange — the reason
    it beats N separate groupBys (N scans + N shuffles) for
    multi-granularity rollups."""
    plan = _plan(QUERIES["grouping_sets_sales"].fn(spark, sf_dir))
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("FileScan") == 1, plan


def test_cross_snapshot_dedup_joins_hashes_not_text(spark, sf_dir):
    """The anti-join key is the 64-char digest; the join subtree must
    not carry the text column (only digests shuffle at 100 TB)."""
    plan = _plan(QUERIES["dedup_cross_snapshot"].fn(spark, sf_dir))
    join_part = plan.split("Join")[1].split("FileScan")[0]
    assert "content_hash" in plan
    assert "LeftAnti" in plan
    # text is consumed by the scan-side projection that computes the
    # hash, never output past it
    for frag in plan.split("Project"):
        if "content_hash" in frag and "sha2" not in frag:
            assert "text#" not in frag.split("]")[0]


def test_passage_scrub_single_window_exchange(spark, sf_dir):
    """One exchange for the digest window + one for the doc-level agg
    — no hidden extra shuffles."""
    plan = _plan(QUERIES["passage_scrub"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" in plan


def test_histogram_partial_agg_and_tiny_window(spark, sf_dir):
    plan = _plan(QUERIES["corpus_token_histogram"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial_" in plan
    # the global-share window sits ABOVE the aggregate (plans print
    # output-first), i.e. it runs on the already-aggregated tiny frame
    assert plan.index("Window") < plan.index("HashAggregate")


def test_pagerank_final_plan_broadcasts_ranks(spark, sf_dir):
    """The 5-iteration loop stays LAZY (each round's rank table is
    materialized exactly once by its broadcast exchange inside the one
    final job): the plan must read the session-cached parquet
    edge/node tables (built once per corpus — round 5 moved the
    cache from localCheckpoint blocks to disk so it survives bench
    unpersist hygiene), join every rank table as a broadcast (the
    edge table never re-shuffles), and top-k via
    TakeOrderedAndProject."""
    plan = _plan(QUERIES["pagerank_suppliers"].fn(spark, sf_dir))
    assert "spark_pr_graph_" in plan  # cached graph parquet scan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # the only sanctioned shuffles are the per-round contribution
    # aggregations on skinny (dst, contrib) rows — never a sort-merge
    # join of the edge table against ranks
    assert "SortMergeJoin" not in plan


def test_interval_bucket_join_plans_as_equi_join(spark, sf_dir):
    """The bucketized point-in-interval join must plan the range
    predicate as an EQUI join on the bucket key (hash/SMJ) with the
    BETWEEN as a post-filter — never a nested-loop or cartesian,
    which is what a raw theta join degenerates to once neither side
    broadcasts."""
    plan = _plan(QUERIES["interval_bucket_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_pipeline_fuses_to_two_shuffles(spark, sf_dir):
    """The composed curation pipeline (normalize -> dedup -> quality
    gate -> split -> report) must plan as ONE job with exactly two
    hash exchanges: the dedup window on digest and the final
    (split, source) aggregate.  All the scalar stages fuse into the
    scan; no join ever appears."""
    plan = _plan(QUERIES["corpus_pipeline_e2e"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_stats_moments_single_pass(spark, sf_dir):
    """All five moment aggregates fuse into ONE aggregation pass
    (one partial/final pair, one exchange)."""
    plan = _plan(QUERIES["stats_moments"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan") == 1


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """<=> compiles to a hash-joinable key, not BroadcastNestedLoop."""
    plan = _plan(QUERIES["join_null_safe"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan


def test_schema_evolution_union_no_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["schema_evolution_union"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine can force each physical join strategy when the
    optimizer's default is wrong for a known workload: broadcast,
    shuffle-hash (no sort at 100 TB), and sort-merge."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    on = o.o_custkey == c.c_custkey
    assert "BroadcastHashJoin" in _plan(o.join(c.hint("broadcast"), on))
    assert "ShuffledHashJoin" in _plan(o.join(c.hint("shuffle_hash"), on))
    assert "SortMergeJoin" in _plan(o.join(c.hint("merge"), on))


def test_fuzzy_match_single_window_single_exchange(spark, sf_dir):
    """Sorted-neighborhood matching must plan ONE Window node carrying
    all w lead() columns over ONE block-key Exchange — never a self
    join, never a cartesian product.  Since r11 the pass lives in the
    session-cached snm_pair_table (built once, shared by the whole
    linkage family), so the window shape is pinned on the BUILD plan
    and every consumer is pinned to the cached parquet scan."""
    from dados_publicos_etl_spark.operators.linkage import (
        _build_snm_pairs,
    )

    build = _plan(_build_snm_pairs(spark, sf_dir))
    assert build.count("Window [") == 1
    assert build.count("Exchange") == 1
    assert "CartesianProduct" not in build
    assert "BroadcastNestedLoopJoin" not in build
    # consumers read the family cache, not a re-planned window pass
    for q in ("fuzzy_match_customers", "linkage_fellegi_sunter"):
        plan = _plan(QUERIES[q].fn(spark, sf_dir))
        assert "spark_snm_pairs_" in plan, q
        assert "Window [" not in plan, q
    # the entity queries read the cached component map — neither the
    # window pass nor the CC loop re-runs per consumer
    plan = _plan(QUERIES["entity_resolution_e2e"].fn(spark, sf_dir))
    assert "/comp" in plan
    assert "Window [" not in plan
    # golden_record_merge checkpoints its members table (comp joined
    # back to the dimension), so the final plan re-roots on the
    # checkpoint scan — pin that plus the absence of any re-planned
    # window/CC machinery
    plan = _plan(QUERIES["golden_record_merge"].fn(spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert "Window [" not in plan


def test_duplicate_spans_shuffle_digests_not_text(spark, sf_dir):
    """Span mining must hash spans to md5 INSIDE the explode (the raw
    text column dies at the scan projection) and aggregate with
    map-side partial combine."""
    plan = _plan(QUERIES["duplicate_ngram_spans"].fn(spark, sf_dir))
    assert "partial_count" in plan
    # the generator emits digests, not span strings
    gen = plan.split("Generate ")[1].split("\n")[0]
    assert "md5" in gen
    # the text column exists only below the generator (scan + tokenize)
    above_gen = plan.split("Generate ")[0]
    assert "text#" not in above_gen


def test_repeated_line_scrub_shuffles_digests_not_text(spark, sf_dir):
    """Line mining must hash segments to md5 INSIDE the explode (text
    dies at the tokenize projection); the repeated decision is a
    window over the (source, lh, doc_id) aggregate — no digest
    self-join; only the rebuild scan carries text."""
    plan = _plan(QUERIES["repeated_line_scrub"].fn(spark, sf_dir))
    # two Generates print (the skinny flagged-position explode first,
    # output-first ordering; the mining posexplode below): the MINING
    # generator must emit md5 digests, and no generator emits text
    gens = [seg.split("\n")[0] for seg in plan.split("Generate ")[1:]]
    assert any("md5" in g for g in gens), gens
    assert not any("text#" in g for g in gens), gens
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_span_length_report_plan(spark, sf_dir):
    """Span mining emits digests only; the merge is gaps-and-islands
    window arithmetic (two Window nodes: lag-break and running
    island id — Spark fuses them into one partition's sort); top-25
    via TakeOrdered."""
    plan = _plan(QUERIES["dup_span_length_report"].fn(spark, sf_dir))
    gens = [seg.split("\n")[0] for seg in plan.split("Generate ")[1:]]
    assert any("md5" in g for g in gens), gens
    assert not any("text#" in g for g in gens), gens
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunk_dedup_narrow_pass(spark, sf_dir):
    """Round-10 reshape pin (round-9 verdict What's-wrong #1): the
    FastCDC chunker must compute boundaries and digests as IN-ROW
    HOFs — text never rides a Generate, the chunk subtree is planned
    exactly once (no self-join), and no join carries text.  The only
    Generate explodes the skinny (clen, dig) struct array, and all
    exchanges move digest rows."""
    plan = _plan(QUERIES["cdc_chunk_dedup"].fn(spark, sf_dir))
    # no join anywhere — the shared-digest count is a window, so the
    # chunking subtree cannot be double-evaluated
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    # the Generate's output is the chunk struct, never text
    gen_lines = [seg.split("\n")[0] for seg in plan.split("Generate ")[1:]]
    assert len(gen_lines) == 1, gen_lines
    assert "text#" not in gen_lines[0], gen_lines[0]
    # text dies at the scan projection: it appears nowhere above the
    # Generate (plans print output-first, so "above" = before)
    above_gen = plan.split("Generate ")[0]
    assert "text#" not in above_gen
    # three skinny exchanges: (dig, doc_id) agg, dig window, doc agg
    assert plan.count("Exchange hashpartitioning") == 3, plan
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert not seg.split(")")[0].startswith("text"), seg[:80]
    # map-side partial aggregation before the first exchange
    assert "partial_count" in plan


def test_cdc_chunks_library_unbounded(spark):
    """The 4096-char bound is an ORACLE constraint, not an engine
    limit (round-9 verdict What's-wrong #2): a library call with
    max_chars=None chunks a doc far past _CDC_MAX_CHARS, and the
    chunks exactly tile the document."""
    from dados_publicos_etl_spark.operators.dedup import (
        _CDC_MAX_CHARS,
        cdc_chunks,
    )

    big = "the quick brown fox jumps over the lazy dog " * 200  # 8800 chars
    assert len(big) > _CDC_MAX_CHARS
    docs = spark.createDataFrame([(1, big), (2, big[:50])], ["doc_id", "text"])
    rows = cdc_chunks(docs, max_chars=None).collect()
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.clen
    assert per_doc == {1: len(big), 2: 50}
    assert all(r.clen > 0 for r in rows)
    # and the bounded form still raises loudly on the oversized doc
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_chars"):
        cdc_chunks(docs, max_chars=_CDC_MAX_CHARS).collect()


def test_exact_substring_scrub_text_stays_on_scan(spark, sf_dir):
    """The ExactSubstr rewrite must shuffle only digests and cut
    positions: every Generate emits skinny columns (never text), the
    mining subtree is window-based (no digest self-join), and the
    text column reaches the output only via the scan side of the
    final positions join — never through an Exchange."""
    plan = _plan(QUERIES["exact_substring_scrub"].fn(spark, sf_dir))
    gen_lines = [seg.split("\n")[0] for seg in plan.split("Generate ")[1:]]
    assert gen_lines, plan
    for g in gen_lines:
        # output list is the bracketed tail: [pos0#.., span_hash#..]
        assert "text#" not in g.rsplit("[", 1)[1], g
    # no text column in any exchange's partitioning or input
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert not seg.split(")")[0].startswith("text"), seg[:80]
    # the duplicated-span decision is a window, not a join of the
    # span table against itself: the only join is the final per-doc
    # positions join back onto the text scan
    assert plan.count("Join") == 1, plan
    assert "Window" in plan


def test_exact_substring_scrub_planted_duplicates(spark):
    """Planted corpus: a 12-token run shared by two docs is excised
    from BOTH; a unique doc passes through with its whitespace
    normalized; a doc that IS the duplicated run is fully scrubbed."""
    from dados_publicos_etl_spark.plans import QUERIES as Q

    run = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two three {run} outro closing words here now"),
            (2, f"different opening phrase {run} and a different ending too"),
            (3, "a totally unique document with no duplicated spans at all"),
            (4, run),
        ],
        ["doc_id", "text"],
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            r.doc_id: r
            for r in Q["exact_substring_scrub"].fn(spark, d).collect()
        }
    # every 10-token window inside the planted run is duplicated, so
    # all 12 run tokens go, plus any window straddling into context
    # shared by... docs 1/2 share ONLY the run, so exactly the run's
    # windows are flagged: tokens covered = the 12-token run.
    assert "alpha" not in out[1].scrubbed_text
    assert "lima" not in out[1].scrubbed_text
    assert out[1].scrubbed_text.startswith("intro one two three")
    assert out[1].scrubbed_text.endswith("outro closing words here now")
    assert out[1].n_removed_tokens == 12
    assert out[2].n_removed_tokens == 12
    assert out[3].n_removed_tokens == 0
    assert out[3].scrubbed_text == (
        "a totally unique document with no duplicated spans at all"
    )
    assert out[4].n_removed_tokens == 12
    assert out[4].scrubbed_text == ""


def test_sequence_packing_single_exchange(spark, sf_dir):
    """Shard-parallel packing: the per-shard window and the
    (shard, seq_bin) aggregation share ONE shard-key Exchange —
    the aggregation reuses the window's partitioning, and there is
    no global (partition-less) window anywhere."""
    plan = _plan(QUERIES["sequence_packing"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert plan.count("Window [") == 1
    # window is partitioned (a global cumsum would show an empty
    # partition spec: "windowspecdefinition(ord#..." with no shard)
    spec = plan.split("windowspecdefinition(")[1]
    assert spec.split(",")[0].startswith("shard")


def test_minhash_incremental_probe_broadcasts_increment(spark, sf_dir):
    """The persisted-index probe must broadcast the (tiny) incoming
    band table against one scan of the index — the index side carries
    no Exchange — and the verify joins are broadcasts too."""
    plan = _plan(QUERIES["dedup_minhash_incremental"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # the index is read as a plain parquet scan (skinny schema)
    idx_scan = [
        seg for seg in plan.split("FileScan parquet ")
        if "band_hash" in seg.split("\n")[0]
    ]
    assert idx_scan, "index scan missing from plan"


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE skew-join config must actually fire: a join
    with one hot key (90% of a 1M-row side) re-plans at runtime into
    SortMergeJoin(skew=true) with the hot partition split — the
    automatic remedy that handles moderate skew before the explicit
    salting operators (operators/skew.py) are needed."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    # thresholds scaled down so toy data exhibits "skew" by AQE's
    # byte-based definition; factor/advisory ratios as in production
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
    )
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB",
    )
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(0, 1_000_000).select(
            F.when(F.col("id") % 10 != 0, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias(
                "pay"
            ),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = big.join(small, "k").select(
            F.sum(F.length("pay")).alias("s")
        )
        j.collect()  # drive THIS DataFrame's query execution
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """Both sides bucketed on the join key => SortMergeJoin reads
    co-located bucket files and shuffles nothing; the plan's only
    Exchange is the final tiny group-by-priority aggregation."""
    from dados_publicos_etl_spark.operators.bucketing import (
        bucketed_orders_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_orders_join(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # exactly one Exchange: the post-join aggregation; the join
    # itself is exchange-free (the 100 TB claim)
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree
    assert plan.count("Exchange") == 1


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_dir):
    """Runtime row-level join pruning: with a selective dim filter,
    Spark injects bloom_filter_agg on the creation side and a
    might_contain semi-filter into the fact scan — the 100 TB
    mechanism that drops non-joining fact rows BEFORE the shuffle.
    Size thresholds are cluster-scale (10 GB application side), so
    the test scales them down, as the AQE skew test does."""
    from dados_publicos_etl_spark.io import read_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    # the semi-filter lands on the FACT side, keyed on its join key
    fact_side = plan.split("might_contain", 1)[1]
    assert "l_orderkey" in fact_side.split(")")[0] + fact_side[:200]


def test_geo_proximity_join_is_equi_join(spark, sf_dir):
    """Grid blocking must plan a hash/sort-merge EQUI-join on the
    cell key — a BETWEEN range condition on cell ids silently planned
    BroadcastNestedLoopJoin (O(n^2) comparisons), defeating the
    operator's whole purpose."""
    plan = _plan(QUERIES["geo_proximity_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


# Queries where BroadcastNestedLoopJoin is the CORRECT plan: the
# build side is a scalar/few-row aggregate or a calendar spine (the
# canonical scalar-subquery broadcast), not data-scale.
_BNLJ_OK = {
    "benford_audit",       # 1-row digit-total crossJoin
    "ivf_cell_balance",    # 1-row (mean, max) occupancy-stats crossJoin
    "dsir_importance_weights",  # 1-row mean-weight crossJoin
    "join_skew_report",    # 1-row key-totals crossJoin
    "bm25_topk",           # 1-row corpus stats (N, avgdl) crossJoin
    "class_balance_downsample",  # 1-row min-class-size floor crossJoin
    "hits_authorities",    # 1-row max-authority normalizer crossJoin
    "dq_report",           # scalar stats row
    "heavy_hitters_exact",  # 1-row N-total crossJoin onto candidates
    "stream_kl_drift",     # 1-row all-time event-total crossJoin
    "kmeans_lloyd_exact",   # k-row centroid table broadcast per round
    "nb_classifier_train_score",  # |classes| = 5-row model table
    "psi_drift",           # 1-row totals
    "q11_important_stock",  # TPC-H scalar HAVING subquery
    "q22_global_sales",     # TPC-H scalar AVG subquery
    "range_join_price_band",  # few-band broadcast range join
    "time_spine_zero_fill",   # 1-row bucket-bounds crossJoin (spine build)
    "lexical_logodds_divergence",  # 1-row totals
    "woe_information_value",  # 1-row good/bad totals
    "fk_orphan_audit",  # 1-row count x 1-row count per relation
    "basket_association_rules",  # 1-row n_baskets total
    "hybrid_rrf_fusion",  # 1-row query-token-set broadcast
    "neyman_allocation_sample",  # 1-row sum_w total
    "decile_lift_table",  # 1-row base-rate total
    "acf_daily_revenue",  # 7-row lag dimension crossJoin
    "countmin_sketch_estimate",  # d=4-row salt dimension crossJoin
    "bloom_filter_semijoin",  # 1-row filter-stats x 1-row key-count sides
    "selfjoin_size_cms",  # 4-row salt dimension + 1-row truth crossJoins
    # round-6 continuation: calendar-bounded pair joins and fixed
    # query panels — build sides that CANNOT grow with the corpus
    "kendall_tau_daily",   # daily-aggregate pair join (calendar-bounded)
    "theil_sen_trend",     # daily slope pair join (calendar-bounded)
    "retrieval_ndcg_at_k",  # fixed 20-row query panel broadcast
    "spearman_daily_rank_corr",  # daily tie-group joins (calendar-bounded)
    "ks_test_twosample",   # 1-row sizes crossJoin
    "diff_in_diff",        # 1-row midpoint scalar
    "classifier_prf1_report",  # inherits NB's |classes|-row model table
    "pca_power_iteration",  # 1-row norms crossJoin onto the 64-dim table
    # round 7
    "hll_intersection",  # 1-row register sums x 1-row exact counts
    "dsir_resample_e2e",  # inherits DSIR's 1-row mean-weight crossJoin
    "matryoshka_truncation_audit",  # fixed 10-row query panel broadcast
    # round 9
    "late_interaction_maxsim",  # fixed 8-row query panel broadcast
    "embedding_sign_hamming",   # fixed 8-row query panel broadcast
    "tfidf_cosine_neardup",     # 1-row corpus-size (N) crossJoin
    # round 10
    "knn_label_eval",  # query panel capped at 16 rows at ANY corpus
                       # size (vec_id div 61 < 16) broadcast against
                       # one scan; the != condition makes it a BNLJ
                       # with a bounded build side by construction
}


def test_no_catalog_query_plans_data_scale_nested_loops(spark, sf_dir):
    """Catalog-wide plan audit: NO CartesianProduct anywhere, and
    BroadcastNestedLoopJoin only where the build side is scalar-
    small by construction (whitelist).  Guards the whole catalog
    against the silent O(n^2) regression class found in the geo
    join's first version (BETWEEN on cell ids -> BNLJ)."""
    from dados_publicos_etl_spark.plans import QUERIES

    offenders = {}
    for name in sorted(QUERIES):
        try:
            plan = _plan(QUERIES[name].fn(spark, sf_dir))
        except Exception:
            continue  # execution-environment issues are other tests' job
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


# Queries whose Exchange SinglePartition feeds a Sort/Window over a
# table that is GROUP-BOUNDED by construction (cells, buckets,
# categories, calendar) — never corpus-scale.  Every other
# SinglePartition in the catalog must be the scalar-merge shape
# (parent is a zero-key aggregate).
_SP_GROUP_BOUNDED = {
    "chi_square_independence",  # window over the |A|x|B| cell table
    "mutual_information_screen",  # same cell-table shape
    "corpus_mix_rebalance",  # window over the per-source count table
    "temperature_mix_sampling",  # window over the per-lang count table
    "mixture_temperature_sweep",  # windows over the per-source count table
    "epoch_schedule_plan",  # windows over the per-source token table
    "corpus_token_histogram",  # window over the histogram buckets
    "decile_lift_table",  # final window over the 10-row decile table
    "target_encode_loo",  # window over the per-category stats table
    "survival_kaplan_meier",  # window over distinct event times
    # (calendar-bounded: lifetimes are whole hours of a finite span)
    "rolling_corr_daily",  # rolling window over the daily aggregate
    # (calendar-bounded: one row per day regardless of corpus size)
    "bh_fdr_correction",  # windows over the |classes|-row test table
}

_SCALAR_MERGE = (
    "HashAggregate(keys=[]",
    "SortAggregate(key=[]",
    "ObjectHashAggregate(keys=[]",
)


def _node_col(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+|-":
        i += 1
    return i


def test_no_catalog_query_plans_data_scale_single_partition(
    spark, sf_dir
):
    """Catalog-wide plan audit (round-6 verdict #6): every `Exchange
    SinglePartition` in every registered query's plan must be either
    (a) the scalar-merge shape — its parent operator is a ZERO-KEY
    aggregate combining partials into one row — or (b) a Sort/Window
    over a group-bounded table, allowlisted by name above.  Anything
    else is one task processing a data-scale relation — the global-
    window class this sweep exists to catch mechanically (it would
    have flagged pareto_frontier and corpus_global_shuffle, both
    found by hand before it existed)."""
    from dados_publicos_etl_spark.plans import QUERIES

    offenders = {}
    for name in sorted(QUERIES):
        try:
            plan = _plan(QUERIES[name].fn(spark, sf_dir))
        except Exception:
            continue  # execution-environment issues are other tests' job
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            col = _node_col(ln)
            parent = ""
            for j in range(i - 1, -1, -1):
                if lines[j].strip() and _node_col(lines[j]) < col:
                    parent = lines[j].strip().lstrip("*(0123456789) ")
                    break
            if any(s in parent for s in _SCALAR_MERGE):
                continue
            if name in _SP_GROUP_BOUNDED:
                continue
            offenders.setdefault(name, []).append(parent[:80])
    assert not offenders, offenders


def test_hive_partition_prune_reaches_file_listing(spark, sf_dir):
    """The partition-column filter must prune at the file-listing
    level: the scan's PartitionFilters carries the priority
    predicate, and the data filters do NOT re-check it row-wise
    (pruning replaced filtering)."""
    plan = _plan(QUERIES["hive_partition_prune"].fn(spark, sf_dir))
    scan = plan.split("FileScan parquet")[1]
    head = scan.split("ReadSchema")[0]
    assert "PartitionFilters: [" in head
    assert "1-URGENT" in head.split("PartitionFilters: [")[1].split("]")[0]


@pytest.mark.parametrize(
    "name",
    ["compaction_roundtrip", "retention_enforcement", "hive_partition_prune"],
)
def test_partitioned_roundtrip_on_zero_rows(spark, zero_row_sf_dir, name):
    """A zero-row partitioned write leaves no data file to infer a
    schema from: the read-back uses the schema stored with the
    artifact, returns zero rows, and a warm hit runs no job."""
    assert QUERIES[name].fn(spark, zero_row_sf_dir).count() == 0
    j0 = next_job_id(spark)
    QUERIES[name].fn(spark, zero_row_sf_dir)
    assert next_job_id(spark) - j0 == 0


def test_log_parse_stays_jvm_side(spark, sf_dir):
    """regexp_extract parsing of the text source must compile to JVM
    expressions — a Python-UDF parse here would serialize every log
    line through a worker at 100 TB."""
    plan = _plan(QUERIES["log_parse_text_source"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine before shuffle


def test_prefix_join_no_quadratic_join(spark, sf_dir):
    """The prefix-filtered similarity join must plan every join as an
    equi-join (shingle / doc_id keys) — no cartesian and no
    nested-loop anywhere, which is the entire point of prefix
    filtering vs all-pairs."""
    plan = _plan(QUERIES["dedup_prefix_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_frontier_broadcasts_frontier(spark, sf_dir):
    """The recover-rows join must broadcast the (tiny) frontier, not
    shuffle the part table."""
    plan = _plan(QUERIES["pareto_frontier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_proration_windows_share_one_partitioning(spark, sf_dir):
    """Both window passes partition on l_orderkey: the plan must
    reuse ONE hash partitioning for them (plus the fact-dim join
    exchange at most) — re-shuffling between windows would double
    the shuffle volume of the allocation at scale."""
    plan = _plan(QUERIES["proration_largest_remainder"].fn(spark, sf_dir))
    assert "Window" in plan
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 2, plan


def test_heavy_hitters_recount_is_broadcast_semi(spark, sf_dir):
    """Pass 2 of the heavy-hitter shape must recount ONLY the
    MG candidates: the candidate list joins back as a broadcast
    LeftSemi (bounded list, no full-key shuffle before the filter)."""
    plan = _plan(QUERIES["heavy_hitters_exact"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_global_row_number_avoids_single_partition_sort(spark, sf_dir):
    """The whole point of the operator: the ranking window runs per
    range-partition, never over a SinglePartition exchange (the
    naive global ROW_NUMBER plan)."""
    plan = _plan(QUERIES["global_row_number"].fn(spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    # the offset side is the broadcast
    assert "BroadcastHashJoin" in plan


def test_decile_lift_avoids_global_ntile(spark, sf_dir):
    """Round-6 re-shape: the fact-scale ranking must be the
    range-partitioned row_number + arithmetic tile assignment —
    never a SinglePartition NTILE window over the whole fact
    table."""
    plan = _plan(QUERIES["decile_lift_table"].fn(spark, sf_dir))
    assert "ntile" not in plan.lower()
    assert "row_number" in plan.lower()


def test_vocab_coverage_rank_is_range_partitioned(spark, sf_dir):
    """The vocabulary frequency rank grows with the corpus
    (near-unique terms at web scale) — it must ride the
    range-partitioned rank, not a global window sort."""
    plan = _plan(QUERIES["vocab_coverage"].fn(spark, sf_dir))
    assert "row_number" in plan.lower()
    # the pid-partitioned window, broadcast offset join
    assert "BroadcastHashJoin" in plan


def test_ranked_by_range_no_single_partition(spark, sf_dir):
    """The shared ranking helper itself: a fact-scale total order
    with NO SinglePartition exchange anywhere in the plan, and the
    returned total matches the relation's count."""
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_discount"
    )
    ranked, total, totals = ranked_by_range(
        li, [F.desc("l_discount"), "l_orderkey", "l_linenumber"]
    )
    assert totals == ()
    plan = _plan(ranked)
    assert "SinglePartition" not in plan
    assert ranked.count() == total
    # ranks are a dense 1..N permutation
    agg = ranked.agg(
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.count_distinct("rn").alias("nd"),
    ).collect()[0]
    assert (agg.lo, agg.hi, agg.nd) == (1, total, total)


def test_prefix_sums_multi_matches_single_calls(spark, sf_dir):
    """One ranked_by_range call with TWO running sums must return
    exactly the rn / per-column running sums / totals that two
    one-sum calls produce — the multi-sum form is what lets
    consumers (ks_test_twosample, quantile_normalize_grid) drop
    their extra sampling passes and totals jobs."""
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("c1"),
            F.sum(F.col("l_linenumber").cast("long")).alias("c2"),
        )
    )
    multi, n_m, (t1_m, t2_m) = ranked_by_range(li, [F.col("k")], ["c1", "c2"])
    one, n_1, (t1,) = ranked_by_range(li, [F.col("k")], ["c1"])
    two, n_2, (t2,) = ranked_by_range(li, [F.col("k")], ["c2"])
    assert (n_m, t1_m, t2_m) == (n_1, t1, t2) == (n_2, t1, t2)
    got = {
        r["k"]: (r["rn"], r["cum_c1"], r["cum_c2"])
        for r in multi.select("k", "rn", "cum_c1", "cum_c2").collect()
    }
    want1 = {r["k"]: (r["rn"], r["cum_c1"]) for r in one.collect()}
    want2 = {r["k"]: r["cum_c2"] for r in two.collect()}
    assert len(got) == n_m
    for k, (rn, ca, cb) in got.items():
        assert (rn, ca) == want1[k]
        assert cb == want2[k]


def test_ranking_skeleton_exists_once():
    """operators/ranking.py holds the ranged layout once: one
    repartitionByRange, one partition-id column, one eager
    checkpoint, shared by the rank-and-running-sums function and the
    running max.  The former one-sum and multi-sum copies are
    neither defined nor imported anywhere, and the rank column has
    one fixed name."""
    import ast
    import inspect
    import os

    import dados_publicos_etl_spark as pkg
    from dados_publicos_etl_spark.operators import ranking

    with open(ranking.__file__) as fh:
        src = fh.read()
    for call in ("repartitionByRange(", "spark_partition_id(", "localCheckpoint("):
        assert src.count(call) == 1, call
    gone = {"prefix_sums_by_range", "prefix_sums_multi_by_range"}
    offenders: list[str] = []
    roots = [os.path.dirname(pkg.__file__), os.path.dirname(__file__)]
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), filename=path)
                for node in ast.walk(tree):
                    if isinstance(node, ast.FunctionDef) and node.name in gone:
                        offenders.append(f"{f}:{node.lineno} def {node.name}")
                    if isinstance(node, ast.ImportFrom):
                        for alias in node.names:
                            if alias.name in gone:
                                offenders.append(f"{f}:{node.lineno} {alias.name}")
    assert not offenders, offenders
    assert "rn_col" not in inspect.signature(ranking.ranked_by_range).parameters


def test_lsh_band_join_exists_once():
    """The package holds one band-struct explode and one band-bucket
    self-join, both in operators/lsh.py (``band_table`` /
    ``candidate_pairs``), under the one key naming ``(band_idx,
    band_hash)``; no other module defines either function.  The
    deleted xxhash64 MinHash path is neither defined nor imported
    anywhere in the package or its tests."""
    import ast
    import os
    import re

    import dados_publicos_etl_spark as pkg

    explode = re.compile(r'\.alias\("(band_idx|chunk_idx|table_idx)"\)')
    self_join = re.compile(r'F\.col\(f?"a\.(band_idx|chunk_idx|table_idx)"\)')
    gone = {
        "minhash_signature",
        "hashed_shingles_from_tokens",
        "write_minhash_index",
        "probe_minhash_index",
    }
    explodes, joins, defs, offenders = [], [], [], []
    roots = [os.path.dirname(pkg.__file__), os.path.dirname(__file__)]
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    src = fh.read()
                if root == roots[0]:
                    explodes += [f] * len(explode.findall(src))
                    joins += [f] * len(self_join.findall(src))
                for node in ast.walk(ast.parse(src, filename=path)):
                    if isinstance(node, ast.FunctionDef):
                        if node.name in gone:
                            offenders.append(f"{f}:{node.lineno} def {node.name}")
                        if node.name in ("band_table", "candidate_pairs"):
                            defs.append(f"{f} {node.name}")
                    if isinstance(node, ast.ImportFrom):
                        for alias in node.names:
                            if alias.name in gone:
                                offenders.append(f"{f}:{node.lineno} {alias.name}")
    assert explodes == ["lsh.py"], explodes
    assert joins == ["lsh.py"], joins
    assert sorted(defs) == ["lsh.py band_table", "lsh.py candidate_pairs"], defs
    assert not offenders, offenders


def test_matryoshka_single_pass_plan(spark, sf_dir):
    """r12 reshape: all four per-dimension rankings are window
    columns over ONE pair scan and the overlap-with-full join is a
    rank predicate — the plan must carry NO sort-merge join and no
    checkpointed scan, and the only SinglePartition exchange is the
    final bounded 1-row aggregate."""
    plan = _plan(QUERIES["matryoshka_truncation_audit"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    # the query panel attaches via a broadcast nested-loop join
    # (non-equi neighbor_id != query_id), never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan
    # four rankings = four row_number windows over one pair scan
    assert plan.lower().count("row_number") >= 4


def test_rfm_melted_single_ranking(spark, sf_dir):
    """r12 reshape: the three RFM quintile rankings ride ONE melted
    ranked_by_range pass — the consumer plan (which reads the single
    materialized ranged layout) carries exactly ONE row_number
    window and no SinglePartition; the previous chained shape read
    three layouts through three windows."""
    plan = _plan(QUERIES["rfm_segmentation"].fn(spark, sf_dir))
    assert plan.lower().count("row_number") == 1
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_observation_fires_under_eager_local_checkpoint(spark, sf_dir):
    """r12 contract the iterative loops now rely on: an observed
    metric (CollectMetrics) is populated by the job an EAGER
    localCheckpoint runs, so per-round convergence statistics ride
    the checkpoint instead of paying a separate count job
    (connected_components, k-core, k-truss, Borůvka, ppr seed,
    dsir totals).  If a Spark upgrade stopped firing observations on
    checkpoint materialization, those loops would block on obs.get —
    this test fails fast instead."""
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    df = (
        spark.range(100)
        .withColumn("x", F.col("id") % 5)
        .observe(
            obs,
            F.sum((F.col("x") < 2).cast("long")).alias("nc"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint()
    )
    got: dict = {}
    t = threading.Thread(
        target=lambda: got.update(obs.get), daemon=True
    )
    t.start()
    t.join(timeout=30)
    assert got == {"nc": 40, "n": 100}, got
    # and the checkpointed data is intact
    assert df.count() == 100


def test_ntile_expr_matches_ntile_semantics(spark, sf_dir):
    """ntile_expr must reproduce NTILE's piecewise tile sizes
    exactly for N not divisible by the tile count."""
    from dados_publicos_etl_spark.operators.ranking import ntile_expr

    for n_rows, k in [(23, 10), (7, 10), (100, 10), (10, 10), (1, 10)]:
        rows = spark.range(1, n_rows + 1).select(
            F.col("id").alias("rn"),
            F.ntile(k).over(Window.orderBy("id")).alias("want"),
        )
        got = rows.select("rn", "want", ntile_expr("rn", n_rows, k).alias("got"))
        bad = got.filter(F.col("want") != F.col("got")).count()
        assert bad == 0, (n_rows, k)


def test_pareto_curve_has_no_single_partition(spark, sf_dir):
    """Global rank + global running sum both ride the range-
    partitioned prefix-sum helper: the WHOLE plan must be free of
    SinglePartition exchanges (the naive SUM() OVER (ORDER BY) plan
    is one task sorting the fact table)."""
    plan = _plan(QUERIES["pareto_revenue_curve"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "row_number" in plan.lower()


def test_pareto_frontier_has_no_single_partition(spark, sf_dir):
    """Round-7 re-shape (round-6 verdict's one flagged plan): the
    skyline's strictly-preceding running max runs over
    prefix_max_by_range's range partitions — TPC-H retail prices are
    near-unique, so the candidate table scales with parts and the
    old global window's Exchange SinglePartition was one task
    sorting it.  The whole plan must now be SinglePartition-free."""
    plan = _plan(QUERIES["pareto_frontier"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    # the earlier-partition maxes arrive as a broadcast, and the
    # local window partitions on the range-partition id
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(__rbr_pid" in plan


def test_ks_ecdf_has_no_single_partition_sort(spark, sf_dir):
    """The KS running gap must ride the range-partitioned prefix-sum
    machinery: no SinglePartition exchange may feed a Sort/Window
    (the naive SUM() OVER (ORDER BY val) plan).  The final 1-ROW
    aggregate's SinglePartition exchange is legitimate — it moves
    32 partial-aggregate rows, not data — so the pin checks what
    CONSUMES each SinglePartition exchange, not its existence."""
    plan = _plan(QUERIES["ks_test_twosample"].fn(spark, sf_dir))
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            parents = " ".join(lines[max(0, i - 2):i])
            assert "Sort " not in parents and "Window" not in parents, (
                "\n".join(lines[max(0, i - 3):i + 1])
            )
    # the running sum's window partitions on the range-partition id
    # (the ranged layout itself is behind the localCheckpoint scan)
    assert "hashpartitioning(__rbr_pid" in plan


def test_equidepth_has_no_single_partition(spark, sf_dir):
    """Equi-depth boundaries come from range-partitioned prefix sums
    + interval arithmetic — never a global cumulative window."""
    plan = _plan(QUERIES["equidepth_histogram"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_dbscan_neighbor_join_is_equi(spark, sf_dir):
    """The eps-grid neighbor join must plan as a hash/sort-merge
    EQUI-join on the cell key (side a explodes to its 3x3
    neighborhood) — a BETWEEN-shaped cell condition would plan the
    O(n^2) BroadcastNestedLoopJoin the grid exists to avoid."""
    plan = _plan(QUERIES["dbscan_core_points"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_generate_guard_rule_is_excluded(spark):
    """The tuned session must exclude InferFiltersFromGenerate: the
    rule's size(arr)>0 guard under explode() gets pushed below the
    projection that materialized the array, re-inlining the whole
    array construction into the filter (lambda bodies have no CSE),
    which re-tokenizes documents O(len) times per row — measured
    4-15x slowdowns on the shingle family (BENCH_NOTES round 6).
    The exclusion is results-invariant (fuzz dimension 15 sweeps the
    explode composition space); this pin keeps the perf fix from
    silently regressing.  The physical assertion: a post-explode
    plan over a COMPUTED array must contain no size(...) > 0 guard
    derived from the generator input."""
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "InferFiltersFromGenerate" in (excluded or "")

    from dados_publicos_etl_spark.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    toked = docs.select("doc_id", F.split(F.lower("text"), r"\s+").alias("t"))
    ex = toked.select("doc_id", F.explode("t").alias("tok"))
    plan = ex._jdf.queryExecution().executedPlan().toString()
    assert "size(" not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Driver-collect bound sweep (round-9 standing audit, r8 verdict #8)
# ---------------------------------------------------------------------------

# Queries with ANY internal driver collect, from the full 2x341-query
# audit (tools/collect_audit.py; recorded in COLLECT_AUDIT_r09.json).
# Two legal classes, nothing else:
#   CONSTANT — fixed query panels, per-partition offset scalars,
#     state micro-batches: may NOT grow with the corpus (bound 64).
#   TRAIN-CAPPED — quantizer training samples: bounded by a
#     plan-level limit at _IVF_TRAIN_CAP rows, MAY grow beneath it.
_COLLECT_TRAIN_CAPPED = {
    "dedup_semantic_cells",   # SemDeDup sample: min(n, _IVF_TRAIN_CAP)
    "ivf_cell_balance",       # IVF coarse sample (200 x 16, capped)
    "similarity_ivf",         # + fixed 10-query probe panel
    "similarity_ivf_exact",
    "similarity_ivf_persisted",
    "similarity_pq",          # PQ codebook sample (100 x 16, capped)
    "similarity_ivfpq",
    "stream_ann_probe",       # 5-vector probe panel + cached quantizer
}
_COLLECT_CONSTANT = {
    "bpe_encode_corpus", "corpus_global_shuffle", "decile_lift_table",
    "diff_in_diff", "dsir_importance_weights", "dsir_resample_e2e",
    "equidepth_histogram", "global_row_number", "hybrid_rrf_fusion",
    "jsonl_export_roundtrip", "kmeans_lloyd_exact",  # r12: driver-Lloyd
    "ks_test_twosample", "mann_whitney_u",
    "nb_score_reliability", "pareto_frontier", "pareto_revenue_curve",
    "pmi_collocations", "ppr_seeded", "quantile_normalize_grid",
    "rfm_segmentation", "sequence_gap_audit", "shard_manifest_checksum",
    "similarity_filtered_topk",
    "similarity_topk", "stream_kl_drift", "stream_late_drop",
    "stream_stream_outer_join", "stream_topk_windows", "theil_sen_trend",
    "token_budget_curation",  # r10: ranked_by_range P-row offsets
    "token_stream_offsets", "training_shard_assignment", "vocab_coverage",
}


def test_package_collect_sites_are_inventoried():
    """Static half of the audit: the number of ``.collect()`` CALL
    SITES in the package is pinned — counted via ast (Call nodes
    whose func is an Attribute named 'collect'), so comments and
    docstrings can't break the pin or mask a simultaneously added
    real site (round-9 ADVICE).  Adding one forces whoever adds it
    to re-run tools/collect_audit.py and extend the sweep lists
    above — the same maintenance contract as _BNLJ_OK."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    sites: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "collect"
                ):
                    sites.append(f"{f}:{node.lineno}")
    # 13 = r12's 16 less three of ranking.py's four P-row offset
    # collects, which became the one in ranking._ranged; r12 added
    # the two kmeans_lloyd_exact driver-Lloyd collects (k=4 seed
    # rows; k*dims = 64 centroid-component rows per round — both
    # constant in the corpus, swept by the 10x recorder below).
    assert len(sites) == 13, (
        f"{len(sites)} .collect() call sites (expected 13): {sites} "
        "— a site was added or removed; re-run "
        "tools/collect_audit.py and update "
        "_COLLECT_TRAIN_CAPPED/_COLLECT_CONSTANT."
    )


def test_build_once_caches_live_only_in_tmpstore():
    """Static inventory of session caches and temp dirs:
    ``tmpstore.session_artifact`` is the one build-once-per-corpus
    cache (key, fingerprint, lock, eviction, lifetime decided once)
    and ``tmpstore``'s one ``TempDirPool`` owns every per-run dir.
    Fails if any other package module defines a module-level
    ``_*_CACHE`` / ``_*_DIRS`` / ``_WORKSPACES`` dict, a module-level
    ``_*_DIRS`` list (a keep-alive list), constructs a
    ``TempDirPool``, or reaches for the helper's internals
    (``CACHE_LOCK``, ``corpus_fingerprint``) to hand-roll one — route
    the new cache through ``session_artifact`` and the new dir
    through ``tmpstore.new_dir`` / ``tmpstore.reroot`` instead."""
    import ast
    import os
    import re

    import dados_publicos_etl_spark as pkg

    cache_name = re.compile(r"_\w*_(CACHE|DIRS)|_WORKSPACES")
    dirs_name = re.compile(r"_\w*_DIRS")
    internals = {"CACHE_LOCK", "corpus_fingerprint"}
    root = os.path.dirname(pkg.__file__)
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or f == "tmpstore.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign):
                    targets, value = [node.target], node.value
                else:
                    continue
                called = (
                    value.func.id
                    if isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    else None
                )
                is_dict = (
                    isinstance(value, (ast.Dict, ast.DictComp))
                    or called == "dict"
                )
                is_list = (
                    isinstance(value, (ast.List, ast.ListComp))
                    or called == "list"
                )
                for t in targets:
                    if not isinstance(t, ast.Name):
                        continue
                    if (is_dict and cache_name.fullmatch(t.id)) or (
                        is_list and dirs_name.fullmatch(t.id)
                    ):
                        offenders.append(f"{f}:{node.lineno} {t.id}")
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    fn = node.func
                    if "TempDirPool" in (
                        getattr(fn, "id", None), getattr(fn, "attr", None)
                    ):
                        offenders.append(f"{f}:{node.lineno} TempDirPool()")
                    continue
                if isinstance(node, ast.ImportFrom):
                    names = {a.name for a in node.names}
                elif isinstance(node, ast.Attribute):
                    names = {node.attr}
                else:
                    continue
                for name in sorted(names & internals):
                    offenders.append(f"{f}:{node.lineno} {name}")
    assert not offenders, (
        f"hand-rolled caches or dir pools outside tmpstore.py: {offenders}"
        " — use tmpstore.session_artifact / new_dir / reroot"
    )


def test_portable_hash_and_memory_sink_live_once():
    """Static inventory of the portable hash and the memory-sink drive:
    ``functions.text.hex_long`` is the one md5-hex-prefix -> long
    expression, ``functions.numeric.leading_zero_rank`` the one
    leading-zero rank, and ``streaming.windows.run_memory_sink`` the
    one memory-sink stream runner.  Fails on any ``F.conv(...)`` or
    ``F.length(F.bin(...))`` outside ``functions/`` and on any
    ``.format("memory")`` outside ``run_memory_sink`` — call the
    helper instead of re-deriving it."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    def f_call(node, name: str) -> bool:
        fn = getattr(node, "func", None)
        return (
            isinstance(node, ast.Call)
            and isinstance(fn, ast.Attribute)
            and fn.attr == name
            and isinstance(fn.value, ast.Name)
            and fn.value.id == "F"
        )

    root = os.path.dirname(pkg.__file__)
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        in_functions = os.path.basename(dirpath) == "functions"
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            helper_lines: set[int] = set()
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.FunctionDef)
                    and node.name == "run_memory_sink"
                    and f == "windows.py"
                ):
                    helper_lines |= set(
                        range(node.lineno, node.end_lineno + 1)
                    )
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                if not in_functions and f_call(node, "conv"):
                    offenders.append(f"{f}:{node.lineno} F.conv")
                if (
                    not in_functions
                    and f_call(node, "length")
                    and node.args
                    and f_call(node.args[0], "bin")
                ):
                    offenders.append(f"{f}:{node.lineno} F.length(F.bin")
                fn = node.func
                if (
                    isinstance(fn, ast.Attribute)
                    and fn.attr == "format"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "memory"
                    and node.lineno not in helper_lines
                ):
                    offenders.append(f"{f}:{node.lineno} format('memory')")
    assert not offenders, (
        f"hand-rolled portable hash / memory sink: {offenders} — use"
        " functions.text.hex_long, functions.numeric.leading_zero_rank"
        " or streaming.windows.run_memory_sink"
    )


def test_observation_round_rule_and_conf_writes_live_once():
    """Static inventory of observed metrics, convergence loops and
    session conf writes: ``tmpstore.observed`` is the one
    ``Observation`` builder (audit counts, round change counts, seeds
    and normalizers all go through it or
    ``tmpstore.checkpoint_observed``), every convergence loop of
    ``operators/graph.py`` decides its ``break`` through
    ``tmpstore.Rounds.fixpoint`` (so a spent round bound raises), and
    ``session.py`` holds every runtime conf write (``scoped_conf``,
    ``read_nanos_as_long``).  Fails on any ``Observation(...)`` or
    ``.observe(...)`` call outside ``tmpstore.observed``, on any
    ``for`` loop in graph.py that checkpoints and breaks without
    calling ``.fixpoint(``, and on any ``<x>.conf.set(...)`` /
    ``<x>.conf.unset(...)`` outside session.py."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    def own_breaks(stmts) -> bool:
        """A ``break`` of the loop whose body is ``stmts`` (not of a
        nested loop or function)."""
        todo = list(stmts)
        while todo:
            node = todo.pop()
            if isinstance(node, ast.Break):
                return True
            if not isinstance(
                node, (ast.For, ast.While, ast.FunctionDef, ast.Lambda)
            ):
                todo.extend(ast.iter_child_nodes(node))
        return False

    def call_name(node) -> str | None:
        if not isinstance(node, ast.Call):
            return None
        return getattr(node.func, "attr", None) or getattr(
            node.func, "id", None
        )

    def called(node, names: set[str]) -> bool:
        return any(call_name(n) in names for n in ast.walk(node))

    root = os.path.dirname(pkg.__file__)
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            builder: set[int] = set()
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.FunctionDef)
                    and node.name == "observed"
                    and f == "tmpstore.py"
                ):
                    builder |= set(range(node.lineno, node.end_lineno + 1))
            for node in ast.walk(tree):
                name = call_name(node)
                if name in ("Observation", "observe") and (
                    node.lineno not in builder
                ):
                    offenders.append(f"{f}:{node.lineno} {name}")
                if (
                    name in ("set", "unset")
                    and getattr(getattr(node.func, "value", None), "attr", None)
                    == "conf"
                    and f != "session.py"
                ):
                    offenders.append(f"{f}:{node.lineno} conf.{name}")
                if (
                    f == "graph.py"
                    and isinstance(node, ast.For)
                    and own_breaks(node.body)
                    and called(node, {"localCheckpoint", "checkpoint_observed"})
                    and not called(node, {"fixpoint"})
                ):
                    offenders.append(f"{f}:{node.lineno} convergence loop")
    assert not offenders, (
        f"hand-rolled observed metrics, convergence loops or conf writes:"
        f" {offenders} — use tmpstore.observed / checkpoint_observed,"
        " tmpstore.Rounds, session.scoped_conf / read_nanos_as_long"
    )


def test_engine_tables_reopen_through_the_handle():
    """Static inventory of parquet opens: a table the engine wrote is
    reopened through ``tmpstore.open_table`` with the schema
    ``tmpstore.write_table`` stored, never by a schema-inference
    read.  Fails on any ``.read...parquet(...)`` chain without a
    ``.schema(...)`` outside ``io.open_parquet``, the one opener of
    external input — persist with ``write_table`` and reopen with
    ``open_table``."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    external = {("io.py", "open_parquet")}

    def chain(node) -> list[str]:
        """Attribute names along a call chain, outermost first."""
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    root = os.path.dirname(pkg.__file__)
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            allowed: set[int] = set()
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.FunctionDef)
                    and (f, node.name) in external
                ):
                    allowed |= set(range(node.lineno, node.end_lineno + 1))
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                names = chain(node.func)
                if (
                    names[:1] == ["parquet"]
                    and "read" in names
                    and "schema" not in names
                    and node.lineno not in allowed
                ):
                    offenders.append(f"{f}:{node.lineno}")
    assert not offenders, (
        f"schema-inference reopens of engine-written tables: {offenders}"
        " — use tmpstore.write_table / open_table"
    )


def test_external_parquet_opens_through_one_footer_read():
    """Static inventory of the external-parquet open: the schema of a
    table the engine did not write comes from one footer read through
    the lake filesystem (``io.parquet_footer``), and the event time is
    rescaled by one rule (``io.event_time``).  Fails on ``io.py`` or a
    ``streaming/`` module importing ``glob`` or ``pyarrow``, on a
    ``streaming/`` module calling ``os.path.isdir``, and on an integer
    ``div 1000`` timestamp rescale outside ``io.event_time``."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            with open(os.path.join(dirpath, f)) as fh:
                tree = ast.parse(fh.read(), filename=rel)
            opener = rel == "io.py" or rel.startswith("streaming")
            imported = {
                a.name.split(".")[0] for n in ast.walk(tree)
                if isinstance(n, ast.Import) for a in n.names
            } | {
                n.module.split(".")[0] for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom) and n.module
            }
            if opener and imported & {"glob", "pyarrow"}:
                offenders.append(f"{rel} imports {imported & {'glob', 'pyarrow'}}")
            rule: set[int] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and (rel, node.name) == (
                    "io.py", "event_time"
                ):
                    rule = set(range(node.lineno, node.end_lineno + 1))
            for node in ast.walk(tree):
                if (
                    rel.startswith("streaming")
                    and isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "os.path.isdir"
                ):
                    offenders.append(f"{rel}:{node.lineno} calls os.path.isdir")
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "div 1000" in node.value
                    and node.lineno not in rule
                ):
                    offenders.append(f"{rel}:{node.lineno} rescales a timestamp")
    assert not offenders, (
        f"external opens outside io.open_parquet / io.event_time: {offenders}"
    )


def test_lake_operations_use_the_hadoop_filesystem():
    """Static inventory of the lake operations: listing, reading,
    writing, renaming and deleting lake files go through the session's
    Hadoop ``FileSystem`` (``io._fs`` / ``io.put_file``), so every
    operation runs on any Hadoop URI.  Fails on a call to the local
    filesystem API (``os`` listing, creating, replacing or removing,
    ``shutil``, ``glob``, builtin ``open``) in one of them, and on
    ``io.py`` importing ``shutil``."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    lake = {
        "io.py": {
            "add_utf8_bom",
            "compact_partitions",
            "enforce_retention",
            "publish_version",
            "read_current_version",
        },
        "sources/ingest.py": {"land_file"},
        "audit.py": {"_append_row"},
    }
    local = {
        "open", "os.listdir", "os.walk", "os.makedirs", "os.replace",
        "os.remove", "os.path.exists", "os.path.getsize",
    }
    root = os.path.dirname(pkg.__file__)
    seen: set[str] = set()
    offenders: list[str] = []
    for rel, names in lake.items():
        with open(os.path.join(root, rel)) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        imported = {
            a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
            for a in n.names
        } | {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
        if rel == "io.py" and "shutil" in imported:
            offenders.append("io.py imports shutil")
        for fn in ast.walk(tree):
            if not (isinstance(fn, ast.FunctionDef) and fn.name in names):
                continue
            seen.add(fn.name)
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                call = ast.unparse(node.func)
                if call in local or call.startswith(("shutil.", "glob.")):
                    offenders.append(f"{rel}:{node.lineno} {fn.name} calls {call}")
    assert seen == set().union(*lake.values())
    assert not offenders, (
        f"lake operations on the local filesystem API: {offenders}"
        " — go through io._fs / io.put_file"
    )


def test_streaming_feeds_replay_through_one_writer_and_reader():
    """Static inventory of the micro-batch feeds in ``streaming/``: a
    one-file-per-trigger file stream is opened only by
    ``source.read_feed``, and a feed's replay order is pinned only by
    ``source.write_feed``'s ``FileSystem.setTimes`` walk.  Fails on a
    ``maxFilesPerTrigger`` option outside ``read_feed``, on a function
    calling ``os.utime`` or ``os.listdir`` (under any alias of ``os``),
    and on ``windows.py`` importing ``os``."""
    import ast
    import os

    import dados_publicos_etl_spark as pkg

    root = os.path.join(os.path.dirname(pkg.__file__), "streaming")
    offenders: list[str] = []
    found: set[str] = set()
    for f in sorted(os.listdir(root)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(root, f)) as fh:
            tree = ast.parse(fh.read(), filename=f)
        os_names = {
            a.asname or a.name for n in ast.walk(tree)
            if isinstance(n, ast.Import) for a in n.names if a.name == "os"
        }
        if f == "windows.py" and os_names:
            offenders.append("windows.py imports os")
        for top in tree.body:
            name = getattr(top, "name", "<module>")
            pins = False
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                call = node.func
                if any(
                    isinstance(a, ast.Constant) and a.value == "maxFilesPerTrigger"
                    for a in node.args
                ):
                    if (f, name) == ("source.py", "read_feed"):
                        found.add("read_feed reader")
                    else:
                        offenders.append(f"{f}:{node.lineno} {name} file-stream reader")
                if isinstance(call, ast.Attribute):
                    if call.attr == "setTimes" and name == "write_feed":
                        found.add("write_feed setTimes")
                    pins |= (
                        call.attr in ("utime", "listdir")
                        and isinstance(call.value, ast.Name)
                        and call.value.id in os_names
                    )
            if pins:
                offenders.append(f"{f}:{top.lineno} {name} pins mtimes with os")
    assert not offenders, (
        f"hand-built micro-batch feeds: {offenders}"
        " — write with streaming.source.write_feed, read with read_feed"
    )
    assert found == {"read_feed reader", "write_feed setTimes"}


def test_dump_plans_canonicalises_distinct_aggregate_expand():
    """Two runs of the same code may number ``RewriteDistinctAggregates``
    groups in either order; ``tools/dump_plans.normalize`` maps both to
    one plan, and still tells a plan whose filters pair a distinct
    column with another group apart."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from dump_plans import normalize

    def plan(first: str, second: str, a_gid: int, b_gid: int) -> str:
        return "\n".join([
            f"Aggregate [count(a#1) FILTER (WHERE (gid#9 = {a_gid})) AS a_nd#5L,"
            f" count(b#2) FILTER (WHERE (gid#9 = {b_gid})) AS b_nd#6L,"
            " first(count(1)#7L, true) FILTER (WHERE (gid#9 = 0)) AS n#8L]",
            f"+- Aggregate [{first}, {second}, gid#9], [{first}, {second},"
            " gid#9, count(1) AS count(1)#7L]",
            f"   +- Expand [[null, null, 0, x#3], [{first}, null, 1, null],"
            f" [null, {second}, 2, null]], [{first}, {second}, gid#9, x#3]",
            "      +- Relation [a#1,b#2,x#3] parquet",
        ])

    ab = normalize(plan("a#1", "b#2", 1, 2))
    assert normalize(plan("b#2", "a#1", 2, 1)) == ab
    assert normalize(plan("a#1", "b#2", 2, 1)) != ab


@pytest.mark.parametrize(
    "rows, partition_by", [(3, ["part"]), (0, ["part"]), (0, [])]
)
def test_open_table_runs_no_job(spark, tmp_path, rows, partition_by):
    """``open_table`` reopens a table, partitioned or zero-row, with
    the schema ``write_table`` returned: no job, the written rows,
    partition columns last."""
    from dados_publicos_etl_spark.tmpstore import open_table, write_table

    df = spark.createDataFrame(
        [(i, f"p{i % 2}", [float(i)]) for i in range(rows)],
        "id long, part string, xs array<double>",
    )
    table = write_table(df, str(tmp_path / "t"), partition_by)
    j0 = next_job_id(spark)
    back = open_table(spark, table)
    assert next_job_id(spark) - j0 == 0
    assert back.schema == table.schema
    assert back.columns == (
        ["id", "xs", "part"] if partition_by else ["id", "part", "xs"]
    )
    got = sorted(back.select("id", "part", "xs").collect())
    assert got == sorted(df.collect())


def test_driver_collects_bounded_at_10x(spark, tmp_path_factory):
    """Dynamic half: every collect-bearing query runs at smoke scale
    AND at an FK-consistent 10x replica under a collect-size
    recorder; CONSTANT-class queries must stay under a hard 64-row
    bound at 10x, TRAIN-CAPPED ones under _IVF_TRAIN_CAP.  This is
    the sweep that would have caught the r8 verdict's one
    scale-killer (SemDeDup collecting 6.25n training rows) the day
    it was written."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from dados_publicos_etl_spark.operators.similarity import (
        _IVF_TRAIN_CAP,
    )
    from dados_publicos_etl_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE
    from tools.scale_probe import replicate_corpus

    tenx = str(tmp_path_factory.mktemp("sf10x"))
    replicate_corpus(spark, SF_SMOKE, tenx, 10)

    sizes: list[int] = []
    orig = CDF.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    CDF.collect = spy
    offenders = {}
    try:
        for name in sorted(_COLLECT_TRAIN_CAPPED | _COLLECT_CONSTANT):
            for d, bound in (
                (SF_SMOKE, _IVF_TRAIN_CAP),
                (tenx,
                 _IVF_TRAIN_CAP
                 if name in _COLLECT_TRAIN_CAPPED else 64),
            ):
                sizes.clear()
                QUERIES[name].fn(spark, d).count()
                worst = max(sizes, default=0)
                if worst > bound:
                    offenders[(name, d)] = (worst, bound)
    finally:
        CDF.collect = orig
    assert not offenders, offenders


def test_rows_only_declarations_machine_readable():
    """Round-10 (r9 verdict item #8): every oracle-less query carries
    a machine-readable rows_only_reason, the registry rejects
    registrations without one, and __spark_entry__.rows_only()
    exports exactly the oracle-less set."""
    import pytest

    import __spark_entry__ as entry
    from dados_publicos_etl_spark.plans.registry import QuerySpec

    ro = entry.rows_only()
    oracleless = {
        n for n, s in QUERIES.items() if s.oracle is None
    }
    assert set(ro) == oracleless
    assert all(isinstance(v, str) and len(v) > 20 for v in ro.values())
    with pytest.raises(ValueError, match="rows_only_reason"):
        QuerySpec(name="x", fn=lambda s, d: None, oracle=None)


# ---------------------------------------------------------------------------
# Subtree-duplication audit (round-10; r9 verdict item #6)
# ---------------------------------------------------------------------------

# Queries allowed to keep SMALL duplicated expensive-rooted subtrees
# (each <= 3x, <= 16 plan nodes — re-verified by the artifact test
# below), with the reason re-execution is the right call.  The same
# maintenance contract as _BNLJ_OK: adding a query here requires a
# one-line justification; anything flagged by tools/subtree_audit.py
# and NOT listed fails the artifact test.
#
# Reason classes:
#  narrow-pass  — duplicated explode/hash map over the scan; the two
#                 consumers need different downstream shuffles, and
#                 re-running a narrow scan-stage pass is cheaper at
#                 corpus scale than materializing the exploded stream
#                 (the house re-scan-over-shuffle discipline).
#  tiny-base    — duplicated aggregate whose input is a scalar or
#                 few-row table; a checkpoint would cost more than
#                 the recompute.
#  self-join    — one derived table self-joined; the sides differ
#                 only by alias, their identical lower exchanges are
#                 runtime-reused (AQE stage reuse), and the residual
#                 duplicate is the thin post-shuffle layer.
#  ckpt-residual— <= 2x duplicate of a cheap aggregate ABOVE an
#                 already-checkpointed table (the heavy lineage is
#                 materialized once; only the small rollup repeats).
#  two-phase    — the algorithm intentionally reads its input twice
#                 (checksum pass + pruned re-scan).
_SUBTREE_DUP_OK = {
    "basket_association_rules": "self-join (basket table vs itself)",
    "benford_audit": "tiny-base (digit histogram rollup)",
    "bloom_filter_semijoin": "narrow-pass (filter build vs probe)",
    "bm25_topk": "narrow-pass (df pass vs tf scoring pass)",
    "corpus_mix_rebalance": "tiny-base (per-source count table)",
    "corpus_novelty_curve": "narrow-pass (first-seen min vs per-doc)",
    "correlation_matrix_daily": "self-join (daily series pairs)",
    "countmin_sketch_estimate": "narrow-pass (sketch build vs truth)",
    "dbscan_core_points": "narrow-pass (pair stream recomputed; a "
    "checkpoint benched 28x vs 5.7x at the 10x probe)",
    "decile_lift_table": "tiny-base (decile table rollups)",
    "dedup_minhash_lsh": "narrow-pass (band emit vs verify pass)",
    "dedup_prefix_join": "narrow-pass (prefix stream per join side; "
    "a checkpoint was MEASURED SLOWER — 3.9-4.6 s vs 2.1-2.3 s at "
    "sf0.1)",
    "dedup_simhash": "narrow-pass (signature emit vs verify pass)",
    "dsir_importance_weights": "narrow-pass (target vs corpus scoring)",
    "embedding_centroid_drift": "ckpt-residual (norms over cached sums)",
    "excerpt_containment_mining": "narrow-pass (span emit vs verify)",
    "forecast_backtest_naive": "self-join (train vs eval windows)",
    "frequent_triples": "self-join (3-way basket join)",
    "heavy_hitters_exact": "narrow-pass (3 exact passes by design)",
    "image_neardup_dhash": "narrow-pass (band emit vs hamming verify)",
    "ivf_cell_balance": "tiny-base (occupancy stats rollup)",
    "join_skew_report": "tiny-base (key-total rollups)",
    "k_truss_edges": "self-join (triangle support joins)",
    "kendall_tau_daily": "self-join (day-pair concordance)",
    "lexical_logodds_divergence": "narrow-pass (per-corpus counts)",
    "markov_transitions": "self-join (lagged event pairs)",
    "matryoshka_truncation_audit": "tiny-base (per-dim panel stats)",
    "merkle_table_diff": "two-phase (checksums, then pruned re-scan)",
    "minhash_calibration": "narrow-pass (est vs exact jaccard)",
    "n_hop_reachability": "self-join (hop expansion reuse)",
    "hits_authorities": "self-join (final chain consumed by MAX + "
    "values; ckpt benched slower at 1x and 10x — exchanges reused)",
    "pca_power_iteration": "self-join (gram per matvec consumer; "
    "ckpt benched 5.2x vs 1.8x at the 10x probe — exchanges reused)",
    "perplexity_filter": "narrow-pass (LM build vs scoring pass)",
    "psi_drift": "tiny-base (bucket share rollups)",
    "quantile_normalize_grid": "tiny-base (rank windows on tiny grid)",
    "rake_keyword_extraction": "narrow-pass (degree vs freq passes)",
    "retention_cohorts": "self-join (cohort vs activity month)",
    "seasonal_decompose": "tiny-base (daily series windows)",
    "selfjoin_size_cms": "tiny-base (sketch rollups)",
    "source_dup_overlap": "ckpt-residual (aggs over cached fp table)",
    "source_vocab_jaccard": "ckpt-residual (sizes over cached vocab)",
    "temperature_mix_sampling": "tiny-base (per-source mix table)",
    "tfidf_cosine_neardup": "ckpt-residual (norms over cached w)",
    "weekly_active_overlap": "self-join (week-pair user sets)",
    "winnowing_fingerprints": "narrow-pass (window mins vs verify)",
}


def test_subtree_audit_artifact_allowlisted():
    """Every query flagged by the last tools/subtree_audit.py run is
    either allowlisted above (with a reason) or must be fixed; and
    every surviving finding stays SMALL (no >= 4x duplication, no
    >= 17-node duplicated subtree — the cdc/tfidf-class defects the
    round-10 reshape eliminated)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..",
                        "SUBTREE_AUDIT.json")
    with open(path) as fh:
        audit = json.load(fh)
    flagged = set(audit["findings"])
    unexplained = flagged - set(_SUBTREE_DUP_OK)
    assert not unexplained, (
        f"queries with duplicated expensive subtrees and no "
        f"allowlist reason: {sorted(unexplained)} — fix them or add "
        "a justified _SUBTREE_DUP_OK entry"
    )
    # Heavy duplicates (>= 4x, or a >= 17-node tree twice) need an
    # EXPLICIT probed-and-rejected exemption: these two carried lazy
    # checkpoints in round 10 that the 10x scale probe measured
    # SLOWER (SCALE_r10.json notes, BENCH_NOTES r10 #8) — their
    # duplicated exchanges are runtime-reused, so the duplication is
    # planning-level, not execution-level.
    measured_ok = {"hits_authorities", "pca_power_iteration"}
    heavy = {
        q: f
        for q, fs in audit["findings"].items()
        for f in fs
        if (f["count"] >= 4 or f["nodes"] >= 17) and q not in measured_ok
    }
    assert not heavy, f"heavy duplicated subtrees survived: {heavy}"


def test_reshaped_queries_have_no_dup_subtrees(spark, sf_dir):
    """The queries re-shaped this round must stay clean: their plans
    carry NO duplicated expensive-rooted subtree at all (live check,
    not artifact)."""
    import sys as _sys

    sys_path_root = __file__.rsplit("/tests/", 1)[0]
    if sys_path_root not in _sys.path:
        _sys.path.insert(0, sys_path_root)
    from tools.subtree_audit import audit_plan

    for name in (
        "cdc_chunk_dedup",
        "exact_substring_scrub",
        "q11_important_stock",
        "classifier_prf1_report",
        "neyman_allocation_sample",
        # r11 reshapes: the linkage family over its session cache and
        # the batched max-plus layering
        "fuzzy_match_customers",
        "linkage_fellegi_sunter",
        "entity_resolution_e2e",
        "golden_record_merge",
        "dag_longest_path_layers",
        # r11 new operators, clean at birth
        "repeated_line_scrub",
        "dup_span_length_report",
    ):
        findings = audit_plan(QUERIES[name].fn(spark, sf_dir))
        assert not findings, (name, findings)
