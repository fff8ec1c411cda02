"""Deterministic sampling operators (north-star extension: corpus
curation needs reproducible samples — data mixes, eval splits, audit
subsets — not ``rand()``).

Both operators key the sampling decision on a cryptographic hash of
the ROW's stable id, never on partition-dependent randomness:

- the decision is reproducible across runs, engines, cluster sizes
  and partitionings (``F.rand`` is only per-partition-seeded, so a
  repartition reshuffles the sample);
- it needs no shuffle for the Bernoulli form — a narrow filter over
  the scan at 100 TB;
- the per-group fixed-size form is one window pass: hash-order within
  group is uniform, so rank <= k is a uniform k-sample without
  replacement per group.

Oracles reproduce the exact same md5-bucket decisions in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query


def hash_bucket(c: Column | str, buckets: int = 256) -> Column:
    """Uniform bucket in [0, buckets) from md5 of the id's string form.

    Uses the first 8 hex chars (32 bits) — enough entropy for rate
    control; identical SQL exists on any engine with md5().
    """
    col = F.col(c) if isinstance(c, str) else c
    return hex_long(F.md5(col.cast("string")), 8) % buckets


def sample_bernoulli(df: DataFrame, id_col: str, rate: float) -> DataFrame:
    """Deterministic Bernoulli sample: keep ~rate of rows, stable
    across runs/partitionings."""
    return df.filter(hash_bucket(id_col, 10_000) < int(rate * 10_000))


_RATES = {"en": 64, "es": 128, "fr": 128, "de": 128, "zh": 128}  # /256


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 256)
          < (CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())}
             ELSE 0 END)
    """,
    description="Stratified deterministic sampling: per-language keep "
    "rates (en 25%, others 50%) decided by md5(doc_id) bucket — "
    "reproducible on any engine/partitioning, zero shuffle.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample the dominant language (data-mix rebalancing)."""
    docs = read_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lang, r in _RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return docs.filter(hash_bucket("doc_id") < rate).select("doc_id", "lang")


_K_PER_GROUP = 20


@query(
    "sample_pergroup",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_K_PER_GROUP}
    """,
    description=f"Fixed-size uniform sample per group ({_K_PER_GROUP} "
    "docs/language): rank by md5(doc_id) within group — a "
    "deterministic reservoir; one window pass, skew-free.",
)
def sample_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _K_PER_GROUP)
    )


_SPLIT_DUCK_BUCKET = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 100)"
)


@query(
    "dataset_split",
    oracle=f"""
    WITH assigned AS (
      SELECT source,
             CASE WHEN {_SPLIT_DUCK_BUCKET} < 80 THEN 'train'
                  WHEN {_SPLIT_DUCK_BUCKET} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM assigned
    GROUP BY source, split
    """,
    description="Deterministic train/val/test split (80/10/10) keyed "
    "on md5(doc_id): assignment is row-local (no shuffle), stable "
    "across runs/engines/partitionings; per-source split counts "
    "verify stratification.",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based dataset split — the eval-leakage-safe way.

    Splitting by rand() re-deals the split every run (and on every
    repartition); splitting by position leaks correlated neighbors
    into eval.  A cryptographic-hash bucket of the stable doc id
    gives every document a permanent split assignment, reproducible
    on any engine — the property that matters when the corpus is
    rebuilt monthly at 100 TB and eval sets must stay frozen.
    """
    docs = read_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 100)
    assigned = docs.select(
        "source",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# Target corpus mix, parts per 1000 (sources absent from the map are
# dropped).  src0 is down-weighted (it is the held-out benchmark
# source in contamination_ngram); src1-3 dominate; src4 partial.
_MIX_TARGET = {"src0": 50, "src1": 250, "src2": 250, "src3": 250,
               "src4": 200}

_MIX_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGET.items()
)

_MIX_DUCK_BUCKET = (
    "(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 1000000)"
)


@query(
    "corpus_mix_rebalance",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
      FROM documents GROUP BY source
    ), tgt AS (
      SELECT source, n,
             CAST(CASE source {_MIX_CASE} ELSE 0 END AS DOUBLE) / 1000.0
               AS t
      FROM counts
    ), tot AS (
      SELECT source, n, t, MIN(n / t) OVER () AS total
      FROM tgt WHERE t > 0
    ), rates AS (
      SELECT source, n,
             CAST(floor((t * total / n) * 1000000) AS BIGINT) AS thr
      FROM tot
    ), kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {_MIX_DUCK_BUCKET} < r.thr
      GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n AS BIGINT) AS n_before,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
    description="Corpus mix rebalancing to target source shares: "
    "largest achievable corpus where every kept source hits its "
    "target proportion (total = min n_s/t_s), realized by "
    "deterministic md5-bucket sampling at floor(rate*1e6) "
    "thresholds — per-row decisions, engine-reproducible.",
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample sources to a target mixture.

    The mixture solve (total = min_s n_s/t_s, rate_s = t_s*total/n_s)
    runs on the per-source count table — dozens of rows — so the
    unpartitioned window is free; the expensive part is the per-row
    keep decision, which is a broadcast join of the 5-row rate table
    plus a narrow hash filter (no shuffle of the corpus).  Integer
    thresholds (floor(rate*1e6)) make the per-row decision identical
    on any engine computing the same doubles.
    """
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tchain = F.when(F.lit(False), 0.0)
    for k, v in _MIX_TARGET.items():
        tchain = tchain.when(F.col("source") == k, v / 1000.0)
    tgt = counts.select("source", "n", tchain.otherwise(0.0).alias("t"))
    tot = (
        tgt.filter(F.col("t") > 0)
        .withColumn(
            "total",
            F.min(F.col("n") / F.col("t")).over(W.partitionBy()),
        )
    )
    rates = tot.select(
        "source",
        "n",
        F.floor((F.col("t") * F.col("total") / F.col("n")) * 1_000_000)
        .cast("long")
        .alias("thr"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "thr")), "source")
        .filter(hash_bucket("doc_id", 1_000_000) < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n").cast("long").alias("n_before"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )

# ---------------------------------------------------------------------------
# Sequence packing — documents -> fixed-length training sequences
# ---------------------------------------------------------------------------

_PACK_SEQ_LEN = 512  # tokens per training sequence
_PACK_SHARDS = 16  # independent packing shards

_PACK_DUCK_SHARD = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % {_PACK_SHARDS})"
)


@query(
    "sequence_packing",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '\s+')) AS n_tok,
             {_PACK_DUCK_SHARD} AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ), c AS (
      SELECT shard, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY ord, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT shard,
           CAST(floor((cum - n_tok) / {_PACK_SEQ_LEN}) AS BIGINT) AS seq_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc_id
    FROM c
    GROUP BY shard, seq_bin
    """,
    description=f"Sequence packing for pretraining: documents are "
    f"hash-sharded ({_PACK_SHARDS} shards), deterministically ordered "
    "within their shard, token counts are stream-concatenated, and "
    f"each doc is assigned to the {_PACK_SEQ_LEN}-token training "
    "sequence where its first token lands (GPT-style contiguous "
    "packing, zero padding waste).  Per-(shard, sequence) doc and "
    "token counts are the packing manifest.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-parallel contiguous packing manifest.

    The running token total is windowed PER SHARD — never a global
    cumulative sum (a partition-less window is a single-partition
    bottleneck).  Sharded packing is what real pretraining pipelines
    do anyway: each data-loader worker owns a shard and packs its
    stream independently, so the only shuffle here is the one on the
    shard key, and shards scale with the cluster.  The deterministic
    md5 order inside a shard doubles as the corpus shuffle that
    training wants (hash order is uncorrelated with crawl order).
    """
    docs = read_table(spark, sf_dir, "documents")
    from dados_publicos_etl_spark.functions.text import tokens

    t = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        hash_bucket("doc_id", _PACK_SHARDS).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("ord"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("ord", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    assigned = t.select(
        "shard",
        "doc_id",
        "n_tok",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_SEQ_LEN
        )
        .cast("long")
        .alias("seq_bin"),
    )
    return assigned.groupBy("shard", "seq_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query(
    "weighted_sample_aes",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             -ln((CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS STRING)
                       || ':aes42'), 1, 6) AS BIGINT) AS DOUBLE) + 0.5)
                 / 16777216.0) / o_totalprice AS aes_key
      FROM orders
    ), ranked AS (
      SELECT o_orderkey, o_orderpriority,
             ROUND(o_totalprice, 2) AS o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY aes_key, o_orderkey) AS rk
      FROM keyed
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20
    """,
    description="Weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirtsas A-ES): each row draws u from a deterministic md5 "
    "uniform and ranks by -ln(u)/weight — the top-k per group is an "
    "exact weighted sample, in one window pass with no sequential "
    "draw loop.  Deterministic u (engine-portable hex-int md5) makes "
    "the 'random' sample reproducible AND oracle-checkable; weights "
    "here are order values (value-biased eval-set sampling).  The "
    "distributed-sampling algorithm when Bernoulli rates can't hit "
    "an exact k.",
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    u = (
        hex_long(
            F.md5(
                F.concat(F.col("o_orderkey").cast("string"), F.lit(":aes42"))
            ),
            6,
        ).cast("double")
        + 0.5
    ) / 16777216.0
    keyed = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        (-F.log(u) / F.col("o_totalprice")).alias("aes_key"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("aes_key", "o_orderkey")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 2000
_NEYMAN_BUCKETS = 10_000


@query(
    "neyman_allocation_sample",
    oracle=f"""
    WITH vals AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
      FROM orders
    ), moments AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM vals GROUP BY o_orderpriority
    ), strata AS (
      SELECT o_orderpriority, n,
             sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) AS sd,
             CAST(ROUND(n * sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n)
                                 / (n - 1)), 0) AS BIGINT) AS w
      FROM moments
    ), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w FROM strata),
    alloc AS (
      SELECT s.o_orderpriority, s.n, s.sd, s.w,
             ({_NEYMAN_BUDGET} * s.w) // t.sum_w AS n_target,
             -- threshold derives from n_target (<= budget), so the
             -- product is bounded by budget*buckets and can never
             -- overflow int64 regardless of stratum size (w ~ n*sd
             -- in the direct form overflows at TPC-H sf>=100)
             LEAST(((({_NEYMAN_BUDGET} * s.w) // t.sum_w)
                    * {_NEYMAN_BUCKETS}) // s.n,
                   {_NEYMAN_BUCKETS}) AS threshold
      FROM strata s CROSS JOIN tot t
    ), sampled AS (
      SELECT v.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_sampled
      FROM vals v JOIN alloc a ON a.o_orderpriority = v.o_orderpriority
      WHERE (CAST(('0x' || substr(md5(CAST(v.o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_NEYMAN_BUCKETS}) < a.threshold
      GROUP BY v.o_orderpriority
    )
    SELECT a.o_orderpriority,
           a.n AS n_pop,
           ROUND(a.sd, 4) AS sd,
           CAST(a.n_target AS BIGINT) AS n_target,
           COALESCE(s.n_sampled, 0) AS n_sampled
    FROM alloc a LEFT JOIN sampled s
      ON s.o_orderpriority = a.o_orderpriority
    """,
    description="Neyman-allocation stratified sampling (design-based "
    "optimal allocation): each stratum's share of the 2000-row budget "
    "is proportional to n_h * sd_h, so high-variance strata get more "
    "samples — the minimum-variance design for estimating the "
    "population mean at fixed budget.  Standard deviations come from "
    "exact integer moment sums; the allocation and the per-row "
    "md5-bucket keep decision are FULLY INTEGER (w = round(n*sd), "
    "threshold = (n_target*buckets) div n with n_target = "
    "(N*w) div sum_w — bounded products, overflow-proof), so the "
    "'optimal "
    "rates' and the sample membership are engine-exact, not just "
    "approximately equal.  One moments pass + one broadcast of the "
    "5-row allocation table back onto the scan.",
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round("o_totalprice", 0).cast("long").alias("x"),
    )
    moments = vals.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    sd = F.sqrt(
        (
            F.col("s2")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    strata = moments.select(
        "o_orderpriority",
        "n",
        sd.alias("sd"),
        F.round(F.col("n") * sd, 0).cast("long").alias("w"),
    ).localCheckpoint(eager=False)  # 5 rows; feeds tot AND alloc
    tot = strata.agg(F.sum("w").alias("sum_w"))
    alloc = strata.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n",
        "sd",
        F.expr(f"({_NEYMAN_BUDGET} * w) div sum_w").alias("n_target"),
        # threshold from n_target (<= budget): bounded product, no
        # int64 overflow at any stratum size — the direct
        # (budget*w*buckets) form wraps in non-ANSI Spark while the
        # oracle raises, diverging exactly at large sf
        F.least(
            F.expr(
                f"((({_NEYMAN_BUDGET} * w) div sum_w)"
                f" * {_NEYMAN_BUCKETS}) div n"
            ),
            F.lit(_NEYMAN_BUCKETS).cast("long"),
        ).alias("threshold"),
    )
    alloc = alloc.localCheckpoint(eager=False)  # feeds kept + output
    kept = (
        vals.join(
            F.broadcast(alloc.select("o_orderpriority", "threshold")),
            "o_orderpriority",
        )
        .filter(
            hash_bucket("o_orderkey", _NEYMAN_BUCKETS) < F.col("threshold")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return alloc.join(F.broadcast(kept), "o_orderpriority", "left").select(
        "o_orderpriority",
        F.col("n").alias("n_pop"),
        F.round("sd", 4).alias("sd"),
        F.col("n_target").cast("long").alias("n_target"),
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias(
            "n_sampled"
        ),
    )


# ---------------------------------------------------------------------------
# Leakage-safe dataset split (near-dup-component-aware)
# ---------------------------------------------------------------------------

def _leakage_split_oracle() -> str:
    from dados_publicos_etl_spark.functions.text import duck_shingles_sql
    from dados_publicos_etl_spark.operators.graph import _THRESH

    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, {duck_shingles_sql("text")} AS sh FROM documents
    ), blocked AS (
      SELECT doc_id, sh, list_min(sh) AS blk FROM t
    ), pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(a.sh || b.sh)) >= {_THRESH}
    ), edges AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION SELECT dst, src FROM pairs
    ), reach(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
    ), labels AS (
      SELECT n AS doc_id, MIN(m) AS label FROM reach GROUP BY n
    ), grouped AS (
      SELECT d.doc_id,
             COALESCE(l.label, d.doc_id) AS group_key
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT doc_id, group_key,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, group_key,
             CAST(('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM grouped
    )
    """


@query(
    "split_leakage_safe",
    oracle=_leakage_split_oracle(),
    description="Leakage-safe train/valid/test split: the split key "
    "is the document's NEAR-DUP COMPONENT (min-label over the "
    "blocked exact-Jaccard pair graph), not the document id — so a "
    "near-duplicate pair can never straddle train and test, the "
    "contamination mode that inflates eval scores when test "
    "documents have training near-copies (the Lee et al. "
    "deduplication finding).  Singleton docs key on themselves; "
    "membership is the deterministic md5 bucket (80/10/10).  "
    "Oracle: recursive-CTE transitive closure + the same md5 "
    "arithmetic.  Reuses the session-cached pair graph, so the "
    "marginal cost over dedup_components is one broadcast-ready "
    "left join + a hash projection.",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.graph import (
        connected_components,
        near_dup_pair_graph,
    )

    pairs = near_dup_pair_graph(spark, sf_dir)
    comps = connected_components(pairs, jumps=1).withColumnRenamed(
        "node", "doc_id"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    group = F.coalesce("label", "doc_id")
    bucket = hash_bucket(group, 100)
    return (
        docs.join(comps, "doc_id", "left")
        .select(
            "doc_id",
            group.alias("group_key"),
            F.when(bucket < 80, "train")
            .when(bucket < 90, "valid")
            .otherwise("test")
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling
# ---------------------------------------------------------------------------


@query(
    "class_balance_downsample",
    oracle="""
    WITH sized AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY 1
    ), floor_n AS (
      SELECT MIN(n) AS k FROM sized
    ), ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                         vec_id) AS rk
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(vec_id) AS BIGINT) AS min_kept_id,
           CAST(MAX(vec_id) AS BIGINT) AS max_kept_id
    FROM ranked, floor_n
    WHERE rk <= k
    GROUP BY label
    """,
    description="Class-balanced downsampling: every label keeps "
    "exactly min-class-size rows, chosen by the md5 hash order of "
    "the row id — the standard training-set rebalance, deterministic "
    "and engine-reproducible (no rand()), so reruns and backfills "
    "select the SAME rows.  One per-label window rank (bounded by "
    "class size) + a 1-row scalar floor broadcast; complements "
    "corpus_mix_rebalance (share targets) with the hard equal-count "
    "variant.",
)
def class_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    sized = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    floor_n = sized.agg(F.min("n").alias("k"))
    w = W.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = emb.select(
        "label", "vec_id", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("vec_id").cast("long").alias("min_kept_id"),
            F.max("vec_id").cast("long").alias("max_kept_id"),
        )
    )


# ---------------------------------------------------------------------------
# Token-balanced training shard assignment (serpentine over global rank)
# ---------------------------------------------------------------------------

_SHARD_N = 8


def _serpentine_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, shard): the serpentine deal over the
    range-partitioned global token rank — shared by the per-shard
    audit query and the manifest checksum query."""
    from dados_publicos_etl_spark.functions.text import tokens
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokens("text")).alias("n_tokens")
    )
    ranked, _, _ = ranked_by_range(
        sized, [F.col("n_tokens").desc(), F.col("doc_id")]
    )
    r = F.col("rn") - 1
    # `div` keeps the block index in exact integer arithmetic (no
    # float division anywhere in the assignment)
    block = F.expr(f"(rn - 1) div {_SHARD_N}")
    shard = F.when(block % 2 == 0, r % _SHARD_N).otherwise(
        _SHARD_N - 1 - (r % _SHARD_N)
    )
    return ranked.select(
        "doc_id", "n_tokens", shard.cast("long").alias("shard")
    )


@query(
    "training_shard_assignment",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '\\s+')) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sized
    ), assigned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN (r // {_SHARD_N}) % 2 = 0
                  THEN r % {_SHARD_N}
                  ELSE {_SHARD_N} - 1 - (r % {_SHARD_N}) END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY shard
    """,
    description=f"Token-balanced shard assignment for distributed "
    f"training dataloaders: rank documents by token count "
    f"descending (deterministic doc_id tie-break) and deal them "
    f"into {_SHARD_N} shards SERPENTINE (row r of block b takes "
    f"shard r%N when b is even, N-1-r%N when odd) — the classic "
    f"greedy balancing that bounds any shard's token excess by one "
    f"document per block, vs hash sharding whose imbalance grows "
    f"with length skew.  The global rank rides ranked_by_range "
    f"(range-partitioned, per-partition offsets, NO SinglePartition "
    f"exchange — the r5-verdict machinery), so the plan survives "
    f"100x; output is the per-shard audit (doc count + token "
    f"total), the table a training job reads to verify its shards "
    f"before an epoch.  Integer division semantics match across "
    f"engines (r and N non-negative).",
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _serpentine_shards(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled language sampling (multilingual mixing, alpha < 1)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3  # XLM-R's multilingual sampling temperature


@query(
    "temperature_mix_sampling",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS total
      FROM documents GROUP BY lang
    ), q AS (
      SELECT lang, n, total,
             pow(n / total, {_TEMP_ALPHA})
               / SUM(pow(n / total, {_TEMP_ALPHA})) OVER () AS qi
      FROM counts
    ), rates AS (
      SELECT lang, n,
             CAST(round(LEAST(1.0, qi * (total / 2.0) / n) * 1000000, 0)
                  AS BIGINT) AS thr
      FROM q
    ), kept AS (
      SELECT d.lang, COUNT(*) AS n_kept
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE {_MIX_DUCK_BUCKET} < r.thr
      GROUP BY d.lang
    )
    SELECT r.lang,
           CAST(r.n AS BIGINT) AS n_before,
           r.thr AS keep_thr_ppm,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    """,
    description=f"Temperature-scaled LANGUAGE sampling (the mT5/XLM-R "
    f"multilingual mixing rule, public papers): sampling share "
    f"q_i = p_i^a / sum p_j^a with a = {_TEMP_ALPHA}, which "
    f"up-weights low-resource languages and flattens the head — the knob "
    f"that keeps low-resource slices represented without training a "
    f"weighter.  The mixture solve runs on the per-source COUNT "
    f"table (dozens of rows — the unpartitioned window is free); "
    f"the per-document decision integerizes each keep probability "
    f"to a ppm threshold (round(p*1e6)) compared against the md5 "
    f"hash bucket, so the keep set is deterministic, engine-"
    f"portable, and reproducible from doc_id alone.  Corpus scan "
    f"side = one broadcast join + narrow filter, no shuffle of the "
    f"text.  Target sample size = N/2, capped per source at 100%.",
)
def temperature_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    counts = counts.withColumn(
        "total", F.sum("n").over(W.partitionBy())
    )
    q = counts.withColumn(
        "qi",
        F.pow(F.col("n") / F.col("total"), _TEMP_ALPHA)
        / F.sum(F.pow(F.col("n") / F.col("total"), _TEMP_ALPHA)).over(
            W.partitionBy()
        ),
    )
    # ROUND, not floor: the pow-derived keep probability can differ by
    # an ulp between engines, and floor amplifies that into a whole-ppm
    # threshold flip whenever p*1e6 sits at an integer boundary; round
    # only flips at .5, where both engines apply the same half-up rule
    rates = q.select(
        "lang",
        "n",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("qi") * (F.col("total") / 2.0) / F.col("n"),
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("thr"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("lang", "thr")), "lang")
        .filter(hash_bucket("doc_id", 1_000_000) < F.col("thr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "lang", "left").select(
        "lang",
        F.col("n").cast("long").alias("n_before"),
        F.col("thr").alias("keep_thr_ppm"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe k-fold assignment (group integrity = near-dup component)
# ---------------------------------------------------------------------------

_KFOLD_K = 5


def _group_kfold_oracle() -> str:
    from dados_publicos_etl_spark.functions.text import duck_shingles_sql
    from dados_publicos_etl_spark.operators.graph import _THRESH

    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, {duck_shingles_sql("text")} AS sh FROM documents
    ), blocked AS (
      SELECT doc_id, sh, list_min(sh) AS blk FROM t
    ), pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(a.sh || b.sh)) >= {_THRESH}
    ), edges AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION SELECT dst, src FROM pairs
    ), reach(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
    ), labels AS (
      SELECT n AS doc_id, MIN(m) AS label FROM reach GROUP BY n
    ), grouped AS (
      SELECT d.doc_id,
             COALESCE(l.label, d.doc_id) AS group_key
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT doc_id, group_key,
           CAST(CAST(('0x' || substr(
                 md5('kf:' || CAST(group_key AS VARCHAR)), 1, 8))
               AS BIGINT) % {_KFOLD_K} AS INT) AS fold
    FROM grouped
    """


@query(
    "group_kfold_assignment",
    oracle=_group_kfold_oracle(),
    description=f"Leakage-safe {_KFOLD_K}-fold cross-validation "
    "assignment: the fold key is the document's NEAR-DUP COMPONENT "
    "(split_leakage_safe's group key), hashed with a DIFFERENT salt "
    "('kf:') so folds are independent of the 80/10/10 split — a "
    "near-duplicate pair can never straddle folds, the group-k-fold "
    "integrity sklearn's GroupKFold enforces and distributed eval "
    "harnesses usually forget.  Deterministic md5 arithmetic makes "
    "assignments reproducible from doc text alone (reruns, "
    "backfills, and two engines agree); reuses the session-cached "
    "near-dup pair graph, so the marginal cost is one left join + "
    "a hash projection.",
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.graph import (
        connected_components,
        near_dup_pair_graph,
    )

    pairs = near_dup_pair_graph(spark, sf_dir)
    comps = connected_components(pairs, jumps=1).withColumnRenamed(
        "node", "doc_id"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    group = F.coalesce("label", "doc_id")
    fold = hash_bucket(
        F.concat(F.lit("kf:"), group.cast("string")), _KFOLD_K
    )
    return docs.join(comps, "doc_id", "left").select(
        "doc_id",
        group.alias("group_key"),
        fold.cast("int").alias("fold"),
    )


# ---------------------------------------------------------------------------
# Epoch schedule under repeat caps — data-constrained training plan
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4        # max epochs per source (data-constrained rule:
                      # value of repeated data decays past ~4 epochs)
_EPOCH_BUDGET_X = 2   # token budget as a multiple of the corpus total
_EPOCH_ALPHA = 0.7    # temperature on source shares (mild rebalancing)

from dados_publicos_etl_spark.operators.text import _BPE_ISH  # noqa: E402  (shared pretokenizer)


@query(
    "epoch_schedule_plan",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(lower(text),
                  ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER () AS total
      FROM tok
    ), share AS (
      SELECT source, n_tokens, total,
             pow(n_tokens / CAST(total AS DOUBLE), {_EPOCH_ALPHA})
               / SUM(pow(n_tokens / CAST(total AS DOUBLE),
                         {_EPOCH_ALPHA})) OVER () AS q
      FROM tot
    ), plan AS (
      SELECT source, n_tokens, q,
             LEAST(CAST({_EPOCH_CAP} AS DOUBLE),
                   q * {_EPOCH_BUDGET_X} * total / n_tokens) AS epochs
      FROM share
    )
    SELECT source, n_tokens,
           ROUND(q, 6) AS target_share,
           ROUND(epochs, 4) AS epochs,
           ROUND(epochs * n_tokens, 2) AS effective_tokens,
           ROUND(SUM(epochs * n_tokens) OVER ()
                 / ({_EPOCH_BUDGET_X}.0 * (SELECT SUM(n_tokens) FROM tok)),
                 6) AS budget_utilization
    FROM plan
    """,
    description="Epoch schedule under repeat caps — the "
    "data-constrained training plan (value of repeated data decays "
    "past ~4 epochs; public scaling-law results): temperature-"
    "adjusted source shares (a=0.7) allocate a token budget of 2x "
    "the corpus, per-source epochs cap at 4, and the report prices "
    "what the cap costs (budget_utilization < 1 means capped "
    "sources cannot absorb their allocation and the mixture must "
    "rebalance).  One token-count aggregate over |sources| groups; "
    "everything downstream is arithmetic on a 5-row table.  The "
    "pow/LEAST expression trees are identical on both engines and "
    "round identically (the temperature_mix_sampling discipline).",
)
def epoch_schedule_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bpe = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"
    tok = docs.groupBy("source").agg(
        F.sum(
            F.regexp_count(F.lower("text"), F.lit(bpe)).cast("long")
        ).cast("long").alias("n_tokens")
    )
    w = W.partitionBy()
    tot = tok.withColumn("total", F.sum("n_tokens").over(w))
    p = F.pow(F.col("n_tokens") / F.col("total").cast("double"), _EPOCH_ALPHA)
    share = tot.withColumn("q", p / F.sum(p).over(w))
    epochs = F.least(
        F.lit(float(_EPOCH_CAP)),
        F.col("q") * _EPOCH_BUDGET_X * F.col("total") / F.col("n_tokens"),
    )
    plan = share.withColumn("epochs", epochs)
    return plan.select(
        "source",
        "n_tokens",
        F.round("q", 6).alias("target_share"),
        F.round("epochs", 4).alias("epochs"),
        F.round(F.col("epochs") * F.col("n_tokens"), 2).alias(
            "effective_tokens"
        ),
        F.round(
            F.sum(F.col("epochs") * F.col("n_tokens")).over(w)
            / (float(_EPOCH_BUDGET_X) * F.col("total")),
            6,
        ).alias("budget_utilization"),
    )


# ---------------------------------------------------------------------------
# Token-stream offsets — each doc's position in the concatenated stream
# ---------------------------------------------------------------------------


@query(
    "token_stream_offsets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS token_start,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS token_end
    FROM tok
    """,
    description="Token-stream offsets: each document's exact "
    "[token_start, token_end) position in the concatenated training "
    "stream under the canonical doc_id order — the bookkeeping that "
    "maps a training-step token index back to its source document "
    "(data-ablation forensics, membership auditing, resumable "
    "packing all need it).  The global running sum rides "
    "ranked_by_range (range partitions + broadcast offsets — "
    "never the SinglePartition sort the naive SUM() OVER (ORDER BY) "
    "plans); token counts are exact integers, so offsets merge "
    "order-independently at any scale.",
)
def token_stream_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit(_BPE_ISH))
        .cast("long")
        .alias("n_tokens"),
    )
    cum, _, _ = ranked_by_range(tok, ["doc_id"], ["n_tokens"])
    return cum.select(
        "doc_id",
        "n_tokens",
        (F.col("cum_n_tokens") - F.col("n_tokens"))
        .cast("long")
        .alias("token_start"),
        F.col("cum_n_tokens").cast("long").alias("token_end"),
    )


# ---------------------------------------------------------------------------
# Domain (source) frequency capping — RefinedWeb/FineWeb-style
# ---------------------------------------------------------------------------

_DOMCAP_K = 40  # max docs kept per source


@query(
    "domain_frequency_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS INT) AS src_rank
      FROM documents
    )
    SELECT doc_id, source, src_rank,
           (src_rank <= {_DOMCAP_K}) AS kept
    FROM ranked
    """,
    description="Domain frequency capping (the RefinedWeb/FineWeb "
    f"curation step): at most {_DOMCAP_K} documents survive per "
    "source, chosen by a deterministic quality rank (n_chars DESC "
    "here — the slot where a real pipeline plugs its quality "
    "score; ties to the lower doc_id), so no single domain can "
    "dominate the training mix however lopsided the crawl is.  "
    "Scale shape: ONE window pass partitioned by source — the "
    "shuffle key is the domain, exactly the key the data is "
    "already skewed on, which is why real pipelines pair this with "
    "the salting diagnostics in operators/skew.py; the output "
    "keeps dropped rows WITH their rank so the cap's effect is "
    "auditable (filter kept=true to materialize the cut).",
)
def domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("src_rank"),
    ).withColumn("kept", F.col("src_rank") <= _DOMCAP_K)


# ---------------------------------------------------------------------------
# Shard manifest checksums — data-identity proof per training shard
# ---------------------------------------------------------------------------

_SERPENTINE_SQL = f"""sized AS (
      SELECT doc_id, text,
             len(string_split_regex(lower(text), '\\s+')) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, text, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sized
    ), assigned AS (
      SELECT doc_id, text, n_tokens,
             CASE WHEN (r // {_SHARD_N}) % 2 = 0
                  THEN r % {_SHARD_N}
                  ELSE {_SHARD_N} - 1 - (r % {_SHARD_N}) END AS shard
      FROM ranked
    )"""


@query(
    "shard_manifest_checksum",
    oracle=f"""
    WITH {_SERPENTINE_SQL}
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(bit_xor(CAST(('0x' || substr(md5(text), 1, 15))
                             AS BIGINT)) AS BIGINT) AS content_xor,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM assigned GROUP BY shard
    """,
    description="Per-shard data-identity manifest: alongside the doc "
    "and token counts, each training shard gets an ORDER-FREE "
    "content checksum — bit_xor of a 60-bit md5 prefix of every "
    "member document's text (xor commutes, so the checksum is "
    "independent of partitioning, task order, and engine) — plus "
    "the doc_id sum as a second independent invariant.  This is "
    "the receipt a training run records before an epoch and "
    "re-derives on resume/re-shard: counts alone miss a swapped "
    "document, the xor does not (any single-doc substitution flips "
    "it).  Scale shape: rides the range-partitioned serpentine "
    "rank, then one partial-aggregated GROUP BY to 8 rows; md5 is "
    "computed in the scan stage so text never shuffles.",
)
def shard_manifest_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        hex_long(F.md5(F.col("text").cast("binary")), 15).alias("content_h"),
    )
    return (
        _serpentine_shards(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr("bit_xor(content_h)").cast("long").alias("content_xor"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature sweep — the mixture knob evaluated across a grid in one pass
# ---------------------------------------------------------------------------

_SWEEP_TAUS = (20, 40, 60, 80, 100)  # alpha in percent; 100 = natural mix


@query(
    "mixture_temperature_sweep",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS total
      FROM documents GROUP BY source
    ), grid AS (
      SELECT c.source, c.n, c.total, g.tau,
             pow(c.n / c.total, g.tau / 100.0)
               / SUM(pow(c.n / c.total, g.tau / 100.0))
                   OVER (PARTITION BY g.tau) AS share
      FROM counts c
      CROSS JOIN (VALUES {', '.join(f'({t})' for t in _SWEEP_TAUS)}) g(tau)
    )
    SELECT CAST(tau AS INT) AS tau_pct, source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(round(share * 1000000, 0) AS BIGINT) AS share_ppm,
           CAST(round((share - n / total) * 1000000, 0) AS BIGINT)
             AS boost_ppm
    FROM grid
    """,
    description="Mixture temperature sweep: the multilingual/"
    "multi-source sampling rule q_i = p_i^a / sum p_j^a evaluated "
    f"for a in {{{', '.join(str(t/100) for t in _SWEEP_TAUS)}}} in ONE "
    "pass — the table a curation run reads to pick its temperature "
    "(how much head-flattening each setting buys, per source, as "
    "share and boost vs the natural mix in ppm).  Shares are "
    "ppm-integerized like temperature_mix_sampling, the established "
    "pow() seam treatment — with the known residual risk that a "
    "share landing within an ULP of a .5 ppm rounding boundary "
    "could flip the last ppm digit between engines' libm pow() "
    "(never observed on the fixture grid; the fully-rational "
    "alternative would need integer n^(tau/100) roots).  Scale "
    "shape: the sweep runs entirely on "
    "the per-source COUNT table (dozens of rows x 5 grid points — "
    "the windows are free); the corpus pays one partial-aggregated "
    "GROUP BY, once, for the whole grid.",
)
def mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    counts = counts.withColumn(
        "total", F.sum("n").over(W.partitionBy())
    )
    taus = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_TAUS])
    ).alias("tau")
    grid = counts.select("source", "n", "total", taus)
    powed = grid.withColumn(
        "pw", F.pow(F.col("n") / F.col("total"), F.col("tau") / 100.0)
    )
    share = F.col("pw") / F.sum("pw").over(W.partitionBy("tau"))
    return powed.select(
        F.col("tau").cast("int").alias("tau_pct"),
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(share * 1000000, 0).cast("long").alias("share_ppm"),
        F.round((share - F.col("n") / F.col("total")) * 1000000, 0)
        .cast("long")
        .alias("boost_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-budget curation (data-constrained selection) — round 10
# ---------------------------------------------------------------------------

_TB_NUM, _TB_DEN = 3, 5  # keep the best docs covering 60% of corpus tokens


@query(
    "token_budget_curation",
    oracle=rf"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, lang, source,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(toks)) AS BIGINT) AS score
      FROM (SELECT doc_id, lang, source,
                   string_split_regex(lower(text), '\s+') AS toks
            FROM documents)
    ), tot AS (
      SELECT CAST(SUM(n_toks) AS BIGINT) * {_TB_NUM} // {_TB_DEN}
               AS budget
      FROM t
    ), r AS (
      SELECT t.*,
             SUM(n_toks) OVER (ORDER BY score DESC, doc_id) AS cum
      FROM t
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cum <= (SELECT budget FROM tot)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN cum <= (SELECT budget FROM tot)
                         THEN n_toks ELSE 0 END) AS BIGINT)
             AS tokens_selected
    FROM r GROUP BY lang, source
    """,
    description="Token-budget curation (data-constrained selection): "
    "rank the corpus by a quality score (distinct-token count — the "
    "type-count proxy; any integer score slots in), then keep the "
    f"best documents until their cumulative token count reaches "
    f"{_TB_NUM}/{_TB_DEN} of the corpus — the selection step of a "
    "data-constrained scaling run (Muennighoff et al. 2023: when "
    "compute exceeds unique data, train on the best-k-token subset), "
    "reported per (lang, source) so the mixture impact of the cut is "
    "visible.  Scale shape: the global quality ordering and running "
    "token sum ride ranked_by_range (range partitions + "
    "P-row offset scan) — NO SinglePartition sort anywhere; the "
    "budget is exact integer arithmetic on the offset totals; the "
    "final rollup is one partial-aggregated GROUP BY.",
)
def token_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-under-budget over a global quality order.

    The oracle's ``SUM() OVER (ORDER BY score DESC, doc_id)`` is the
    semantics; the engine runs the house range-partitioned prefix-sum
    (operators/ranking.py) because the naive global window is ONE
    task sorting the corpus at 100 TB.  doc_id breaks score ties, so
    RANGE vs ROWS framing cannot diverge (every window peer group is
    a single row).
    """
    from dados_publicos_etl_spark.functions.text import tokens
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens("text")).cast("long").alias("n_toks"),
        F.size(F.array_distinct(tokens("text"))).cast("long").alias("score"),
    )
    ranked, _, (total_toks,) = ranked_by_range(
        t, [F.col("score").desc(), F.col("doc_id").asc()], ["n_toks"]
    )
    budget = total_toks * _TB_NUM // _TB_DEN
    sel = F.col("cum_n_toks") <= F.lit(budget)
    return ranked.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias("n_selected"),
        F.sum("n_toks").cast("long").alias("tokens_total"),
        F.sum(F.when(sel, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("tokens_selected"),
    )
