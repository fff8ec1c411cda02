"""Duplicate-cluster resolution via connected components (north-star
extension: pairwise near-dup detection is only half of dedup — the
pipeline must then group pairs into clusters and keep one survivor
per CLUSTER, or chains A~B~C keep two of three docs).

Spark-first design for the iterative part:

- Edges come from the deterministic pair stage (same blocked exact
  Jaccard as ``dedup_ngram_jaccard``), so engine and oracle agree on
  the graph.
- Components are computed by **min-label propagation**: every node
  starts labeled with its own id; each round every node takes the min
  of its label and its neighbors' labels; fixpoint after
  O(component diameter) rounds.  Each round is one shuffle
  (join + groupBy-min) — the standard Pregel-style formulation
  (GraphX/GraphFrames implement the same loop on a cluster).
- Near-dup clusters are shallow (diameter a handful), so the loop
  converges in a few rounds even at 100 TB; ``localCheckpoint``
  truncates the growing lineage each round so the plan stays flat.
- Convergence is the count of changed labels per round, observed on
  the round's checkpoint job (``tmpstore.Rounds`` bounds the rounds
  and raises ``FixpointNotReached`` instead of truncating).

The oracle reproduces the fixpoint declaratively with a recursive CTE
(transitive closure + MIN), which DuckDB terminates via recursive
UNION dedup.  This is the engine's genuinely-iterative algorithm
proof (SURVEY.md §2.B notes Spark lacks a native one).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.text import (
    duck_shingles_sql,
    jaccard_tokens,
    shingles_from_tokens,
    tokens,
)
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.session import machine_sized_shuffle
from dados_publicos_etl_spark.tmpstore import (
    Rounds,
    Table,
    checkpoint_observed,
    open_table,
    reroot,
    session_artifact,
    write_table,
)

_THRESH = 0.8


@machine_sized_shuffle
def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    initial_labels: DataFrame | None = None,
    jumps: int = 2,
) -> DataFrame:
    """Undirected connected components by min-label propagation with
    pointer jumping.

    ``edges`` is any DataFrame with two long id columns; returns
    (node, component) where component = min node id reachable.

    Each round does THREE hops inside one job:
      1. neighbor hop — every node takes min(label) over its
         neighbors (classic propagation, one step per round);
      2-3. two pointer jumps — every node then takes its LABEL's
         label (labels-with-labels self-join), twice, which quarters
         path lengths, so a chain of length L converges in O(log4 L)
         rounds instead of O(L).  This is the path-halving half of
         the large-star/small-star MapReduce CC algorithm, doubled
         because per-round fixed cost (checkpoint + convergence-count
         jobs) dominates the tiny label relation at every scale the
         per-round joins stay broadcast-able.

    Convergence is the changed-label count observed on each round's
    eager checkpoint; past ``max_iter`` changing rounds the call raises
    ``FixpointNotReached`` (``tmpstore.Rounds``).
    """
    both = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    both = both.distinct().localCheckpoint()

    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    if initial_labels is not None:
        # Warm start for INCREMENTAL maintenance: seed each node with
        # its previous component label where one exists (new nodes
        # self-label).  Converged old components propagate their min
        # in one hop, so rounds scale with the diameter of the NEW
        # edges' effect, not the whole graph's.  REQUIRES ``edges``
        # to still contain the full (old + new) edge set — a label is
        # a reachability claim, valid only while the old co-membership
        # holds; this accelerates convergence, it does not replace
        # edges.  Fixpoint is unchanged (pytest pins equality with
        # the cold run, including old-component merges).
        prev = initial_labels.select(
            F.col("node").alias("p_n"), F.col("label").alias("p_l")
        )
        labels = (
            labels.join(prev, labels.node == prev.p_n, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("p_l", F.col("label"))
                ).alias("label"),
            )
        )
    labels = labels.localCheckpoint()
    rounds = Rounds("connected_components", max_iter)
    for _ in rounds:
        # The label table is |V| rows over the DEDUP-PAIR graph —
        # orders of magnitude smaller than the corpus (only docs with
        # at least one near-dup edge appear), so broadcast it: the
        # edge table is then never shuffled per round and the only
        # exchange is the partial-aggregated neighbor-min (|V| rows).
        # Same reasoning as the PageRank rank broadcast; at
        # billions-of-duplicate-nodes scale drop the broadcast hints
        # and pre-repartition both/labels on the node key once.
        # hop 1: min over neighbors' labels
        nbr_min = (
            both.join(F.broadcast(labels), both.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.alias("l")
            .join(F.broadcast(nbr_min).alias("n"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
        )
        # hops 2+: ``jumps`` pointer jumps — follow my label's label.
        # One jump halves chain lengths; two quarter them, so long
        # SNM-block chains converge in ~log4 rounds instead of log2.
        # Each jump costs one more broadcast join INSIDE the same
        # round job, which is far cheaper than a whole extra round
        # WHEN the graph has chains (per-round fixed cost = checkpoint
        # job + count job + broadcast builds; measured on the sf0.01
        # linkage graph, vanilla local[8]: 6 rounds/5.7 s with one
        # jump vs 4 rounds/3.1 s with two, same fixpoint).  On
        # tiny-diameter graphs (dense near-dup clusters, which
        # converge in 2-3 rounds regardless) the second jump is pure
        # per-round overhead — the r12 dedup_components 0.62x
        # regression — so callers pass ``jumps=1`` there (r13, r12
        # verdict item 7).  jumps NEVER changes the fixpoint, only
        # the round count; convergence stays driver-checked.
        for _jmp in range(jumps):
            parent = stepped.select(
                F.col("node").alias("p_node"),
                F.col("label").alias("p_label"),
            )
            stepped = stepped.join(
                F.broadcast(parent), stepped.label == parent.p_node, "left"
            ).select(
                "node",
                F.least(
                    "label", F.coalesce("p_label", F.col("label"))
                ).alias("label"),
                "old_label",
            )
        new_labels, seen = checkpoint_observed(
            stepped,
            nc=F.sum((F.col("label") < F.col("old_label")).cast("long")),
        )
        labels = new_labels.drop("old_label")
        if rounds.fixpoint(not seen["nc"]):
            break
        labels = rounds.cut(labels, "cc_cut")
    return labels



def near_dup_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact-Jaccard near-dup pairs (src, dst), session-cached.

    dedup_components and dedup_quality_survivor consume the SAME
    pair graph, so the pair table (two longs per edge) is a session
    artifact.  Materializes the signature table before the self-join
    (same reasoning as dedup_ngram_jaccard: un-checkpointed, Catalyst
    inlines the shingle expression tree into both join sides and
    re-optimizes the doubled tree — measured 25s -> 2s at sf0.1),
    then persists the PAIR table to parquet so repeat consumers skip
    the join entirely.  DISK-backed, NOT a cached localCheckpoint: a
    host harness may unpersist all blocks between queries (bench.py
    does, for memory hygiene), and a localCheckpoint DataFrame cannot
    be recomputed once its blocks are gone.
    """

    def build(workdir: str):
        docs = read_table(spark, sf_dir, "documents")
        blocked = (
            docs.select("doc_id", tokens("text").alias("toks"))
            .select(
                "doc_id", shingles_from_tokens(F.col("toks")).alias("sh")
            )
            .withColumn("blk", F.array_min("sh"))
            .localCheckpoint()
        )
        a = blocked.alias("a")
        b = blocked.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.blk") == F.col("b.blk"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .filter(jaccard_tokens(F.col("a.sh"), F.col("b.sh")) >= _THRESH)
            .select(
                F.col("a.doc_id").alias("src"),
                F.col("b.doc_id").alias("dst"),
            )
        )
        return write_table(pairs, workdir + "/pairs")

    return open_table(spark, session_artifact("pair_graph", sf_dir, build))


@query(
    "dedup_components",
    oracle=f"""
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
    )
    SELECT n AS doc_id, MIN(m) AS component_id,
           CAST(COUNT(DISTINCT m) AS BIGINT) AS n_reachable
    FROM reach GROUP BY n
    """,
    description="Near-dup clusters: blocked exact-Jaccard pairs -> "
    "connected components by min-label propagation (one shuffle per "
    "round, localCheckpoint-truncated lineage); oracle = recursive "
    "CTE transitive closure.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = near_dup_pair_graph(spark, sf_dir)
    # jumps=1: dense near-dup clusters have tiny diameter (r13)
    comps = connected_components(pairs, jumps=1)
    # n_reachable = component size, from the final labels (all members
    # share the min-id label) — proves the fixpoint, not just the pair
    # stage.
    sizes = comps.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable")
    )
    return comps.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        "n_reachable",
    )


_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_TOPK = 20
# lineage-truncation period: large enough that a fixed 5-iteration run
# never checkpoints (see loop comment), small enough that open-ended
# runs keep Catalyst's plan bounded.
_PR_CKPT_EVERY = 8

def _pagerank_graph(spark: SparkSession, sf_dir: str):
    """Weighted edge table, node table, and node count for the
    customer->supplier purchase graph, built ONCE per (session,
    corpus) and parquet-backed: the tables never change across
    invocations on the same corpus, and building them (join +
    distinct + degree shuffle) dominated the query's wall time."""
    wedges, nodes, n = session_artifact(
        "pr_graph", sf_dir, partial(_build_pagerank_graph, spark, sf_dir)
    )
    return open_table(spark, wedges), open_table(spark, nodes), n


def _build_pagerank_graph(spark: SparkSession, sf_dir: str, workdir: str):
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # Pre-weight edges with 1/outdegree ONCE — the degree never
    # changes across iterations, so joining it per round would redo
    # the same shuffle _PR_ITERS times.  outdeg is |customers| rows
    # (tiny next to |E|): broadcast it so the edge table isn't
    # re-shuffled on src just to attach a weight.
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges = edges.join(F.broadcast(outdeg), "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    wtable = write_table(wedges, f"{workdir}/wedges")
    wedges_r = open_table(spark, wtable)
    nodes = (
        wedges_r.select(F.col("src").alias("node"))
        .union(wedges_r.select(F.col("dst").alias("node")))
        .distinct()
    )
    ntable = write_table(nodes, f"{workdir}/nodes")
    return wtable, ntable, open_table(spark, ntable).count()


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as plain SQL CTE chain.

    Aggregation inside a recursive member is not portable SQL, so the
    oracle unrolls the ``_PR_ITERS`` power-iteration steps into pr1..prK
    CTEs — byte-for-byte the same recurrence the Spark loop runs.
    """
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f"""pr{k} AS (
      SELECT nodes.node,
             (1 - {_PR_DAMP}) / (SELECT n FROM ncnt)
             + {_PR_DAMP} * COALESCE(s.contrib, 0) AS pr
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, SUM((1.0 / o.deg) * p.pr) AS contrib
        FROM edges e
        JOIN pr{k - 1} p ON e.src = p.node
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) s ON nodes.node = s.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), outdeg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), ncnt AS (
      SELECT COUNT(*) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1.0 / (SELECT n FROM ncnt) AS pr FROM nodes
    ),
    {chain}
    SELECT node AS supplier,
           ROUND(pr * (SELECT n FROM ncnt), 4) AS pr_norm
    FROM pr{_PR_ITERS}
    WHERE node LIKE 's%'
    ORDER BY pr_norm DESC, supplier
    LIMIT {_PR_TOPK}
    """


@query(
    "pagerank_suppliers",
    oracle=_pagerank_oracle(),
    description=f"PageRank ({_PR_ITERS} power iterations, damping "
    f"{_PR_DAMP}) over the customer->supplier purchase graph; top "
    f"{_PR_TOPK} suppliers by mean-normalized rank.  One join+agg "
    "shuffle per iteration, lineage truncated per round; oracle = "
    "the same recurrence unrolled into CTEs.",
)
@machine_sized_shuffle
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank on the order graph.

    The Pregel-style loop at Spark granularity: per iteration one
    edges⋈ranks join, one groupBy(dst) sum, one left join back onto
    the node set — two shuffles, both on the node key, so a cluster
    would co-partition edges and ranks once and reuse the exchange.
    Dangling nodes (suppliers, out-degree 0) simply contribute
    nothing; both sides implement the identical leaky formulation, so
    the differential check pins the semantics.

    Node ids are LONGS (customer c -> 2c, supplier s -> 2s+1), not
    'c<id>'/'s<id>' strings: every per-iteration hash — the edge
    distinct, the rank broadcast, the contribution aggregate — keys on
    them, and hashing/comparing 8-byte longs beats variable-length
    strings while shrinking shuffle and broadcast payloads.  The
    human-readable supplier label is rendered once at output.

    The node count is a driver-side scalar (one count action) — O(1)
    result, not a data collect.
    """
    wedges, nodes, n = _pagerank_graph(spark, sf_dir)
    n1 = max(n, 1)  # an empty graph (n = 0) ranks no rows
    pr = nodes.withColumn("pr", F.lit(1.0 / n1))
    for it in range(_PR_ITERS):
        # Rank table is |V| rows (tiny next to |E|): broadcast it so
        # the edge table never shuffles — per round the only exchange
        # is the partial-aggregated contribution sums.  At
        # billions-of-nodes scale drop the broadcast hint and
        # pre-repartition wedges and pr on the node key once instead.
        contrib = (
            wedges.join(F.broadcast(pr), wedges.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("pr")).alias("contrib"))
        )
        pr = nodes.join(
            F.broadcast(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (
                F.lit((1 - _PR_DAMP) / n1)
                + _PR_DAMP * F.coalesce("contrib", F.lit(0.0))
            ).alias("pr"),
        )
        # NO per-round checkpoint: each round's rank table is already
        # materialized exactly once by its broadcast exchange inside
        # the final job (nested exchanges execute once each), so a
        # checkpoint only adds a redundant job + block write per round
        # — measured 8x slower at sf0.1.  Truncate lineage RARELY,
        # purely to bound logical-plan depth on long iteration runs
        # (Catalyst cost grows with plan size, not the data).
        if (it + 1) % _PR_CKPT_EVERY == 0:
            pr = pr.localCheckpoint()
    return (
        pr.filter(F.col("node") % 2 == 1)
        .select(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")
            ).alias("supplier"),
            F.round(F.col("pr") * n, 4).alias("pr_norm"),
        )
        .orderBy(F.desc("pr_norm"), "supplier")
        .limit(_PR_TOPK)
    )


@query(
    "dedup_quality_survivor",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, {{shingles}} AS sh FROM documents
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
    ), comp AS (
      SELECT n AS doc_id, MIN(m) AS component_id FROM reach GROUP BY n
    ), ranked AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS component_id,
             d.n_chars AS quality,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(c.component_id, d.doc_id)
               ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component_id, CAST(quality AS BIGINT) AS quality,
           (rk = 1) AS keep
    FROM ranked
    """.format(shingles=duck_shingles_sql("text")),
    description="Quality-aware dedup survivorship: near-dup clusters "
    "(blocked Jaccard pairs -> distributed connected components) "
    "keep their HIGHEST-QUALITY member (longest doc, deterministic "
    "tie-break) instead of an arbitrary min-id — the curation rule a "
    "real corpus pipeline wants.  Cluster resolution runs on the "
    "skinny edge graph; quality joins back per doc; singleton docs "
    "survive trivially.  Oracle = recursive-CTE transitive closure + "
    "the same window.",
)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    pairs = near_dup_pair_graph(spark, sf_dir)
    comps = connected_components(pairs, jumps=1).select(
        F.col("node").alias("doc_id"), F.col("label").alias("comp")
    )
    ranked = (
        docs.select("doc_id", F.col("n_chars").alias("quality"))
        .join(comps, "doc_id", "left")
        .withColumn("component_id", F.coalesce("comp", "doc_id"))
    )
    w = W.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return ranked.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        "component_id",
        "quality",
        (F.col("rk") == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Bounded-hop cheapest path (Bellman-Ford relaxation rounds)
# ---------------------------------------------------------------------------

_BF_ROUNDS = 4
_BF_SOURCE = "s1"


def _bellman_ford_oracle() -> str:
    """Unrolled min-plus relaxation as a CTE chain (aggregation in a
    recursive member is not portable SQL — same trick as PageRank)."""
    steps = []
    for k in range(1, _BF_ROUNDS + 1):
        steps.append(
            f"""d{k} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT e.b AS node, p.dist + e.w AS dist
        FROM und e JOIN d{k - 1} p ON e.a = p.node
      ) u GROUP BY node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH wedges AS (
      SELECT 'c' || o_custkey AS c, 's' || l_suppkey AS s,
             MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, l_suppkey
    ), und AS (
      SELECT c AS a, s AS b, w FROM wedges
      UNION ALL
      SELECT s, c, w FROM wedges
    ), d0 AS (
      SELECT '{_BF_SOURCE}' AS node, CAST(0 AS BIGINT) AS dist
    ),
    {chain}
    SELECT node, CAST(dist AS BIGINT) AS dist_cents
    FROM d{_BF_ROUNDS}
    """


def _bf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted edge table, built once per (session,
    corpus) and parquet-backed — same disk-cache pattern as the
    PageRank graph: the orders x lineitem aggregate is the dominant
    cost and is identical across repeat runs."""
    table = session_artifact(
        "bf_edges", sf_dir, partial(_build_bf_edges, spark, sf_dir)
    )
    return open_table(spark, table)


def _build_bf_edges(spark: SparkSession, sf_dir: str, workdir: str) -> Table:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    wedges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.min(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("w")
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
            "w",
        )
    )
    und = wedges.select(
        F.col("c").alias("a"), F.col("s").alias("b"), "w"
    ).unionAll(
        wedges.select(F.col("s").alias("a"), F.col("c").alias("b"), "w")
    )
    return write_table(und, workdir + "/und")


@query(
    "cheapest_path_bounded",
    oracle=_bellman_ford_oracle(),
    description=f"Bounded-hop cheapest path: {_BF_ROUNDS} Bellman-Ford "
    "min-plus relaxation rounds over the undirected customer-supplier "
    "purchase graph, edge weight = cheapest lineitem (exact integer "
    "cents) between the pair, source supplier 's1'.  Each round is "
    "one equi-join shuffle (frontier x edges) + one min-aggregate — "
    "the Pregel SSSP recurrence — with localCheckpoint truncating "
    "lineage so the plan stays flat across rounds; distances stay "
    "int64 (<= hops x max edge weight).  Oracle = the same "
    "recurrence unrolled into CTEs, engine-identical by "
    "construction.  With PageRank, min-label components, Lloyd "
    "k-means and BPE training this is the fifth differential-checked "
    "iterative algorithm.",
)
@machine_sized_shuffle
def cheapest_path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _bf_edges(spark, sf_dir)
    dist = spark.createDataFrame(
        [(_BF_SOURCE, 0)], "node string, dist long"
    )
    for _ in range(_BF_ROUNDS):
        # The distance table is |V| rows (tiny vs |E|): broadcast it
        # so the edge table is never re-shuffled across rounds.
        relaxed = und.join(
            F.broadcast(dist), und.a == dist.node
        ).select(F.col("b").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # LAZY checkpoint (r12, the pagerank finding applied): the
            # next round's broadcast build materializes this round's
            # table anyway, and the checkpoint blocks then serve the
            # union's second reference — an EAGER checkpoint added one
            # redundant job + block write per relaxation round.
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.col("dist").alias("dist_cents"))


_KC_K = 2        # core threshold: keep nodes with >= K surviving neighbors
_KC_ROUNDS = 12  # peel round bound, shared with the unrolled oracle
_KC_MIN_ORDERS = 2  # co-purchase edge weight floor

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected part co-purchase edge list (u < v, w =
    number of same-order lineitem pairs, w >= _KC_MIN_ORDERS), built
    once per corpus and parquet-backed.  The self-join fans out only
    within an order (TPC-H orders hold <= 7 lines, so <= 21 pairs per
    order) — one shuffle on l_orderkey, bounded blow-up, safe at any
    corpus size.  Shared by the k-core peel and the Boruvka spanning
    forest.
    """
    table = session_artifact(
        "copurchase", sf_dir, partial(_build_copurchase_edges, spark, sf_dir)
    )
    return open_table(spark, table)


def _build_copurchase_edges(
    spark: SparkSession, sf_dir: str, workdir: str
) -> Table:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _KC_MIN_ORDERS)
    )
    return write_table(pairs, f"{workdir}/edges")


def _kcore_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized unweighted adjacency over _copurchase_edges."""
    pairs = _copurchase_edges(spark, sf_dir).select("u", "v")
    return pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _kcore_oracle() -> str:
    """Fixed-round onion peel unrolled into a CTE chain (the
    PageRank-oracle pattern: aggregation inside a recursive member is
    not portable SQL, so each peel round is its own CTE pair).  Every
    round CTE is MATERIALIZED: adj(r-1) is referenced three times per
    round, and an inlining planner would otherwise expand the chain
    3^R-fold."""
    steps = []
    for r in range(1, _KC_ROUNDS + 1):
        steps.append(
            f"""a{r} AS MATERIALIZED (
      SELECT u AS node FROM adj{r - 1}
      GROUP BY u HAVING COUNT(*) >= {_KC_K}
    ), adj{r} AS MATERIALIZED (
      SELECT p.u, p.v FROM adj{r - 1} p
      JOIN a{r} s ON p.u = s.node
      JOIN a{r} t ON p.v = t.node
    ), r{r} AS MATERIALIZED (
      SELECT node, {r} AS peel_round FROM a{r - 1}
      EXCEPT
      SELECT node, {r} AS peel_round FROM a{r}
    )"""
        )
    chain = ",\n    ".join(steps)
    layers = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM r{r}" for r in range(1, _KC_ROUNDS + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KC_MIN_ORDERS}
    ), adj0 AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), a0 AS MATERIALIZED (
      SELECT DISTINCT u AS node FROM adj0
    ),
    {chain}
    SELECT node AS l_partkey, CAST(peel_round AS INT) AS peel_round
    FROM (
      {layers}
      UNION ALL
      SELECT node, 0 AS peel_round FROM a{_KC_ROUNDS}
    )
    """


@query(
    "k_core_peel",
    oracle=_kcore_oracle(),
    description=f"Onion-layer {_KC_K}-core decomposition of the part "
    "co-purchase graph (edges = part pairs sharing >= "
    f"{_KC_MIN_ORDERS} same-order lineitem pairs): per node, the peel "
    "round at which it was removed (0 = survives in the core).  One "
    "degree-aggregate + two semi-joins per round, rolling adjacency "
    "localCheckpointed; oracle = the same fixed-round recurrence "
    "unrolled into CTEs.  Sixth differential-checked iterative "
    "algorithm.",
)
@machine_sized_shuffle
def k_core_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peel (Batagelj-Zaversnik semantics, bounded
    rounds).

    Spark-first shape: the rolling state is the *filtered adjacency*
    — each round computes degrees with one groupBy(u) shuffle, keeps
    nodes with degree >= k, and semi-joins the adjacency down to the
    survivor-induced subgraph.  The survivor set is |V| rows (tiny
    next to |E|), so both semi-joins broadcast; the only per-round
    exchange over edge-scale data is the degree aggregate, partial-
    aggregated map-side.  The eager checkpoint of the survivor set
    each round keeps lineage flat and makes the 12-layer union a
    linear plan, not an exponential recompute.  At billions of edges
    the broadcast hint drops and adjacency/survivors co-partition on
    the node key once — the recurrence is unchanged.

    Removal round is well-defined (degree-0 isolates fall out via the
    anti-join on the survivor set, same as the oracle's EXCEPT); a
    peel that needs more than _KC_ROUNDS rounds raises
    ``FixpointNotReached`` (``tmpstore.Rounds``), so the result is
    always the true 2-core.  Reference scope: graph analytics extend
    SURVEY.md §2.B (the reference ETL has no graph stage).
    """
    adj = _kcore_adjacency(spark, sf_dir)
    active = adj.select(F.col("u").alias("node")).distinct()
    layers = []
    prev_n = None
    rounds = Rounds("k_core_peel", _KC_ROUNDS)
    for r in rounds:
        # The survivor set (|V| rows) is the round's checkpoint: it
        # feeds three consumers (the removed anti-join + both
        # semi-joins) and anchors the next round's lineage.
        survivors, seen = checkpoint_observed(
            adj.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KC_K)
            .select(F.col("u").alias("node")),
            n=F.count(F.lit(1)),
        )
        # survivors ⊆ active every round, so an unchanged count means
        # this round's removed layer — and every later one — is empty
        if rounds.fixpoint(seen["n"] == prev_n):
            break
        prev_n = seen["n"]
        removed = active.join(survivors, "node", "left_anti").select(
            "node", F.lit(r).cast("int").alias("peel_round")
        )
        layers.append(removed)
        # Lazy checkpoint (materializes with the next round's count
        # action, no extra job): keeps every round's plan flat instead
        # of re-optimizing a 2r-deep semi-join chain — the chain was
        # pure replanning overhead, ~2x wall at sf0.1.
        adj = rounds.cut(
            adj.join(survivors, adj.u == survivors.node, "left_semi")
            .join(survivors, adj.v == survivors.node, "left_semi")
            .localCheckpoint(eager=False),
            "kc_cut",
        )
        active = survivors
    out = layers[0]
    for extra in layers[1:]:
        out = out.unionAll(extra)
    out = out.unionAll(
        active.select("node", F.lit(0).cast("int").alias("peel_round"))
    )
    return out.select(F.col("node").alias("l_partkey"), "peel_round")


_MSF_MAX_ROUNDS = 12  # Boruvka halves the component count per round:
                      # 2^12 components is far above any test graph
_MSF_JUMPS = 8        # fixed pointer-jump depth: collapses nomination
                      # chains up to 2^8 long with no per-step driver
                      # actions; kept under ~10 by the self-join
                      # chain rule (tmpstore.py)


def _boruvka_oracle() -> str:
    """Unrolled Boruvka rounds as a CTE chain (round-8 conversion,
    verdict #3 — completing the k-core/k-truss MATERIALIZED-CTE
    family so all 14 iterative algorithms are differential): per
    round a cross-component edge stamp, a per-component best-edge
    nomination (ROW_NUMBER over the globally-unique cost
    (w DESC, u, v) — exactly the engine's min-struct on (-w, u, v)),
    the conjoined-tree parent relation with the mutual pair broken
    toward the smaller id, _MSF_JUMPS pointer-jump CTEs (chains
    cannot exceed the per-round nomination count, so the fixed depth
    covers every chain up to 2^_MSF_JUMPS; the engine sizes its own
    jump count per round from n_nom and RAISES if a chain ever
    out-runs this unrolled depth — extra identity jumps here are
    harmless because an idempotent map is a pointer-jump fixpoint),
    and the label re-stamp.  Identity rounds after contraction
    completes are empty CTEs, mirroring the engine's early exit."""
    parts = [f"""
    WITH edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_KC_MIN_ORDERS}
    ), labels0 AS MATERIALIZED (
      SELECT DISTINCT node, node AS label FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
    )"""]
    for r in range(1, _MSF_MAX_ROUNDS + 1):
        parts.append(f""", cross{r} AS (
      SELECT e.u, e.v, e.w, lu.label AS cu, lv.label AS cv
      FROM edges e JOIN labels{r - 1} lu ON e.u = lu.node
                   JOIN labels{r - 1} lv ON e.v = lv.node
      WHERE lu.label <> lv.label
    ), nom{r} AS MATERIALIZED (
      SELECT comp, u AS eu, v AS ev, w AS ew, cu AS ecu, cv AS ecv
      FROM (
        SELECT comp, u, v, w, cu, cv,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY w DESC, u, v) AS rk
        FROM (SELECT cu AS comp, u, v, w, cu, cv FROM cross{r}
              UNION ALL
              SELECT cv AS comp, u, v, w, cu, cv FROM cross{r})
      ) WHERE rk = 1
    ), par{r}_0 AS MATERIALIZED (
      SELECT comp,
             CASE WHEN comp = ecu THEN ecv ELSE ecu END AS parent
      FROM nom{r}
    ), par{r}_b AS MATERIALIZED (
      SELECT p.comp,
             CASE WHEN q.parent = p.comp AND p.parent > p.comp
                  THEN p.comp ELSE p.parent END AS parent
      FROM par{r}_0 p LEFT JOIN par{r}_0 q ON p.parent = q.comp
    )""")
        prev = f"par{r}_b"
        for j in range(1, _MSF_JUMPS + 1):
            parts.append(f""", par{r}_{j} AS MATERIALIZED (
      SELECT p.comp, COALESCE(h.parent, p.parent) AS parent
      FROM {prev} p LEFT JOIN {prev} h ON p.parent = h.comp
    )""")
            prev = f"par{r}_{j}"
        parts.append(f""", labels{r} AS MATERIALIZED (
      SELECT l.node, COALESCE(m.parent, l.label) AS label
      FROM labels{r - 1} l LEFT JOIN {prev} m ON l.label = m.comp
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT DISTINCT eu AS u, ev AS v, ew AS w, "
        f"CAST({r} AS INT) AS round_added FROM nom{r}"
        for r in range(1, _MSF_MAX_ROUNDS + 1)
    )
    parts.append(f"""
    {unions}
    """)
    return "".join(parts)


@query(
    "boruvka_msf",
    oracle=_boruvka_oracle(),
    description="Maximum spanning forest of the part co-purchase "
    "graph by Boruvka rounds: every component nominates its "
    "strongest incident edge (one min-struct aggregate), nominated "
    "edges contract via fixed-depth pointer jumping on the "
    "conjoined-tree parent relation (pure lazy self-joins, no "
    "per-contraction convergence actions), O(log V) rounds total.  "
    "Globally-unique edge costs (-w, u, v) make the forest UNIQUE, "
    "so the pytest pins the exact edge set against an independent "
    "Kruskal — and since round 8 the unrolled-round MATERIALIZED-CTE "
    "oracle replays the whole contraction in DuckDB (nomination, "
    "mutual-pair rooting, pointer jumps, label re-stamp), making all "
    "14 iterative algorithms differential-checked.  The "
    "product-affinity backbone of recommendation pipelines.",
)
@machine_sized_shuffle
def boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boruvka spanning forest (maximum-weight orientation).

    Spark-first shape per round: two broadcast joins stamp component
    labels onto the static edge list (the label table is |V| rows,
    tiny next to |E|); one groupBy(component) min-struct aggregate
    nominates each component's best outgoing edge (cost =
    (-w, u, v), globally unique, so ties cannot exist and the forest
    is deterministic).  Contraction uses the classic conjoined-tree
    structure of the nomination graph: parent(c) = the partner
    component of c's nominated edge; exactly one mutual pair exists
    per merged group (both endpoints of the group's best edge
    nominate it), broken toward the smaller id to make a root; then
    _MSF_JUMPS lazy pointer-jump self-joins collapse every chain —
    NO per-step driver actions, unlike a generic connected-
    components call, which profiling showed dominates wall time
    here (its per-iteration counts + checkpoints, not data volume).
    Component count at least halves per round, so 100 TB needs the
    same ~log V rounds as sf0.001; the whole round is ~3 driver
    actions.  Early exit when no component nominates (graph fully
    contracted); a graph still nominating after _MSF_MAX_ROUNDS
    rounds raises ``FixpointNotReached`` (``tmpstore.Rounds``).
    """
    edges = _copurchase_edges(spark, sf_dir)  # u, v, w
    # (r10 probe note: running the rounds with AQE disabled — to fold
    # each round into one job — was MEASURED SLOWER here: AQE's
    # partition coalescing is what keeps each tiny shuffle at 1-2
    # tasks, and without it every stage schedules shuffle_partitions
    # tasks.)
    labels = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    forest = []
    rounds = Rounds("boruvka_msf", _MSF_MAX_ROUNDS)
    for rnd in rounds:
        lu = labels.select(
            F.col("node").alias("lu_n"), F.col("label").alias("cu")
        )
        lv = labels.select(
            F.col("node").alias("lv_n"), F.col("label").alias("cv")
        )
        cross = (
            edges.join(F.broadcast(lu), edges.u == lu.lu_n)
            .join(F.broadcast(lv), edges.v == lv.lv_n)
            .filter(F.col("cu") != F.col("cv"))
        )
        nominated, seen = checkpoint_observed(
            cross.select(F.col("cu").alias("comp"), "cu", "cv", "u", "v", "w")
            .unionAll(
                cross.select(
                    F.col("cv").alias("comp"), "cu", "cv", "u", "v", "w"
                )
            )
            .groupBy("comp")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("w")).alias("neg_w"),
                        F.col("u").alias("eu"),
                        F.col("v").alias("ev"),
                        F.col("w").alias("ew"),
                        F.col("cu").alias("ecu"),
                        F.col("cv").alias("ecv"),
                    )
                ).alias("edge")
            ),
            n=F.count(F.lit(1)),
        )
        n_nom = seen["n"]
        if rounds.fixpoint(n_nom == 0):
            break
        forest.append(
            nominated.select(
                F.col("edge.eu").alias("u"),
                F.col("edge.ev").alias("v"),
                F.col("edge.ew").alias("w"),
                F.lit(rnd).cast("int").alias("round_added"),
            )
        )
        # conjoined-tree contraction: parent = partner of my edge;
        # break each group's single mutual pair toward the min id,
        # then collapse chains with fixed lazy pointer jumps.
        parent = nominated.select(
            "comp",
            F.when(F.col("comp") == F.col("edge.ecu"), F.col("edge.ecv"))
            .otherwise(F.col("edge.ecu"))
            .alias("parent"),
        ).localCheckpoint(eager=False)
        # every jump references `parent` twice; without a checkpoint
        # the Catalyst plan TREE doubles per jump (2^J blow-up — the
        # RDD DAG shares, expression trees do not).  Lazy checkpoints
        # keep each jump's plan flat and cost zero extra jobs.
        pp = parent.select(
            F.col("comp").alias("q_c"), F.col("parent").alias("q_p")
        )
        parent = (
            parent.join(
                F.broadcast(pp), parent.parent == pp.q_c, "left"
            )
            .select(
                "comp",
                F.when(
                    (F.col("q_p") == F.col("comp"))
                    & (F.col("parent") > F.col("comp")),
                    F.col("comp"),
                )
                .otherwise(F.col("parent"))
                .alias("parent"),
            )
            .localCheckpoint(eager=False)
        )
        # Pointer-jump depth is SIZED PER ROUND and runs in ADAPTIVE
        # BATCHES (round-9 tuning; the jump joins dominated this
        # operator's wall 4 rounds running): each jump DOUBLES the
        # collapsed chain length, a chain cannot exceed n_nom - 1
        # hops, so `needed = bit_length(n_nom - 2)` jumps GUARANTEE
        # idempotency — but real nomination forests are far shallower
        # (random-ish nominations give O(log n) chains), so after
        # each 4-jump batch a one-job probe on the component-scale
        # map exits as soon as the map is already idempotent.  Late
        # rounds (n_nom small) pay 0-2 jumps and no probe at all.
        # The unrolled DuckDB oracle holds exactly _MSF_JUMPS jump
        # CTEs, so if the probe still finds a pending chain when the
        # oracle's depth budget is spent, we RAISE instead of
        # silently diverging (round-8 ADVICE, the k-truss
        # convergence discipline).  Extra oracle jumps beyond the
        # engine's dynamic count are identity maps — an idempotent
        # parent map is a fixpoint of pointer jumping — so a SHORTER
        # engine depth can never diverge.
        needed = 0 if n_nom <= 2 else (n_nom - 2).bit_length()
        done = 0
        while done < needed:
            batch = min(4, needed - done, _MSF_JUMPS - done)
            if batch == 0:
                raise RuntimeError(
                    f"boruvka_msf: round {rnd} nominated {n_nom} "
                    f"components with a parent chain longer than "
                    f"2^{_MSF_JUMPS}; the unrolled DuckDB oracle "
                    f"truncates at {_MSF_JUMPS} pointer-jump CTEs — "
                    "raise _MSF_JUMPS (engine and oracle together) "
                    "for graphs this adversarial."
                )
            for _ in range(batch):
                hop = parent.select(
                    F.col("comp").alias("h_c"), F.col("parent").alias("h_p")
                )
                parent = (
                    parent.join(
                        F.broadcast(hop), parent.parent == hop.h_c, "left"
                    )
                    .select(
                        "comp",
                        F.coalesce("h_p", F.col("parent")).alias("parent"),
                    )
                    .localCheckpoint(eager=False)
                )
            done += batch
            if done >= needed:
                break  # coverage proven, no probe needed
            m2 = parent.select(
                F.col("comp").alias("m_c"), F.col("parent").alias("m_p")
            )
            pending = (
                parent.join(
                    F.broadcast(m2), parent.parent == m2.m_c, "left"
                )
                .filter(
                    F.coalesce("m_p", F.col("parent")) != F.col("parent")
                )
                .limit(1)
                .count()
            )
            if pending == 0:
                break  # already idempotent — skip the remaining jumps
        # the per-round parquet re-root is load-bearing: it resets the
        # estimated stats each pointer jump squares (tmpstore.py)
        mapping = reroot(
            parent.select(
                F.col("comp").alias("old_comp"),
                F.col("parent").alias("new_comp"),
            ),
            "msf_map",
        )
        # lazy re-stamp: the next round's nominate count (or the
        # final forest action) materializes it.
        labels = (
            labels.join(
                F.broadcast(mapping), labels.label == mapping.old_comp, "left"
            )
            .select(
                "node",
                F.coalesce("new_comp", F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    if not forest:
        return labels.limit(0).select(
            F.col("node").alias("u"),
            F.col("node").alias("v"),
            F.col("node").alias("w"),
            F.lit(0).alias("round_added"),
        )
    out = forest[0]
    for extra in forest[1:]:
        out = out.unionAll(extra)
    # ONE distinct over the union instead of one per round:
    # round_added differs across rounds, so the global dedup equals
    # the oracle's per-round SELECT DISTINCT — for a quarter of the
    # final-action shuffles.
    return out.distinct()


# ---------------------------------------------------------------------------
# HITS hubs & authorities (eighth differential-checked iterative algorithm)
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_TOPK = 20


def _hits_oracle() -> str:
    """Unrolled HITS power iterations as a CTE chain (the PageRank
    oracle precedent).  Scores stay UNNORMALIZED integers inside the
    loop — without per-round normalization, hub_k / auth_k are exact
    path counts, summed as DECIMAL(38,0) on both engines (no float
    summation-order drift, no int64 wrap) — and only the final
    output divides by the max, a ratio of exact integers that lands
    on the identical double everywhere."""
    steps = [
        """a1 AS (
      SELECT dst AS s, CAST(COUNT(*) AS DECIMAL(38,0)) AS auth
      FROM edges GROUP BY dst
    )"""
    ]
    for k in range(1, _HITS_ROUNDS):
        steps.append(
            f"""h{k} AS (
      SELECT e.src AS c, SUM(a.auth) AS hub
      FROM edges e JOIN a{k} a ON e.dst = a.s
      GROUP BY e.src
    ),
    a{k + 1} AS (
      SELECT e.dst AS s, SUM(h.hub) AS auth
      FROM edges e JOIN h{k} h ON e.src = h.c
      GROUP BY e.dst
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    {chain}
    SELECT 's' || s AS supplier,
           ROUND(CAST(auth AS DOUBLE)
                 / CAST((SELECT MAX(auth) FROM a{_HITS_ROUNDS}) AS DOUBLE),
                 6) AS auth_norm
    FROM a{_HITS_ROUNDS}
    ORDER BY auth_norm DESC, supplier
    LIMIT {_HITS_TOPK}
    """


@query(
    "hits_authorities",
    oracle=_hits_oracle(),
    description=f"HITS hubs-and-authorities ({_HITS_ROUNDS} power "
    "iterations) over the customer->supplier purchase graph; top "
    f"{_HITS_TOPK} authority suppliers, max-normalized.  Scores stay "
    "UNNORMALIZED inside the loop (exact DECIMAL(38,0) path counts — "
    "per-round sqrt normalization would make every iteration "
    "float-summation-order-sensitive and oracle-unverifiable); only "
    "the output divides by the max authority, an exact-integer ratio "
    "identical on both engines.  One broadcast join + one "
    "partial-aggregated sum per half-iteration, over the SAME "
    "disk-cached edge table PageRank uses — the eighth "
    "differential-checked iterative algorithm.",
)
def hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark loop at Pregel granularity, mirroring pagerank_suppliers:
    the rank vector (|V| rows, tiny next to |E|) broadcasts each
    half-round so the edge table never shuffles; the only exchange is
    the partial-aggregated score sum.  Reuses the pagerank graph
    cache (node encoding c->2c, s->2s+1; weights ignored)."""
    wedges, _nodes, _n = _pagerank_graph(spark, sf_dir)
    edges = wedges.select("src", "dst")
    auth = edges.groupBy("dst").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("auth")
    )
    for _k in range(1, _HITS_ROUNDS):
        hub = (
            edges.join(F.broadcast(auth), edges.dst == auth.dst)
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
        )
        auth = (
            edges.join(F.broadcast(hub), edges.src == hub.src)
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
        )
    # the normalizer rides the checkpoint of the final auth table, so
    # the unrolled 5-aggregate chain executes exactly once; auth is
    # |suppliers| rows — model-sized, checkpoint-safe at any scale
    auth, seen = checkpoint_observed(auth, mx=F.max("auth"))
    # exact DECIMAL(38,0) path-count maximum; None only when auth (and
    # so the result) has no rows
    mx = seen["mx"]
    return (
        auth.select(
            F.concat(
                F.lit("s"),
                ((F.col("dst") - 1) / 2).cast("long").cast("string"),
            ).alias("supplier"),
            F.round(
                F.col("auth").cast("double")
                / F.lit(mx).cast("decimal(38,0)").cast("double"),
                6,
            ).alias("auth_norm"),
        )
        .orderBy(F.desc("auth_norm"), "supplier")
        .limit(_HITS_TOPK)
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the purchase graph
# ---------------------------------------------------------------------------


@query(
    "degree_assortativity",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), od AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS du FROM edges GROUP BY 1
    ), idg AS (
      SELECT dst, CAST(COUNT(*) AS BIGINT) AS dv FROM edges GROUP BY 1
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(du) AS BIGINT) AS sx,
             CAST(SUM(dv) AS BIGINT) AS sy,
             SUM(CAST(du AS DECIMAL(18,0)) * CAST(du AS DECIMAL(18,0)))
               AS sxx,
             SUM(CAST(dv AS DECIMAL(18,0)) * CAST(dv AS DECIMAL(18,0)))
               AS syy,
             SUM(CAST(du AS DECIMAL(18,0)) * CAST(dv AS DECIMAL(18,0)))
               AS sxy
      FROM edges JOIN od USING (src) JOIN idg USING (dst)
    )
    SELECT n AS n_edges,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_src_degree,
           ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_dst_degree,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS assortativity
    FROM m
    """,
    description="Degree assortativity of the customer->supplier "
    "purchase graph: the Pearson correlation between source "
    "out-degree and destination in-degree across edges — positive "
    "means high-degree customers favor popular suppliers "
    "(hub-to-hub concentration), the structural number that predicts "
    "whether the dedup/recommendation graph families will see skewed "
    "buckets.  Spark-first: degree tables are |V|-row aggregates "
    "broadcast onto the edge list (the edge table never shuffles); "
    "the correlation reduces to ONE partial-aggregated pass of exact "
    "integer/DECIMAL(38,0) moments (Cramer-style overflow "
    "discipline), and only the final 1-row Pearson formula touches "
    "doubles — identical IEEE tree on both engines.  Reuses the "
    "disk-cached PageRank edge table.",
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    wedges, _nodes, _n = _pagerank_graph(spark, sf_dir)
    edges = wedges.select("src", "dst")
    od = edges.groupBy("src").agg(F.count(F.lit(1)).alias("du"))
    idg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("dv"))
    dec = lambda c: F.col(c).cast("decimal(18,0)")
    m = (
        edges.join(F.broadcast(od), "src")
        .join(F.broadcast(idg), "dst")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("du").alias("sx"),
            F.sum("dv").alias("sy"),
            F.sum(dec("du") * dec("du")).alias("sxx"),
            F.sum(dec("dv") * dec("dv")).alias("syy"),
            F.sum(dec("du") * dec("dv")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(sx / F.col("n"), 6).alias("mean_src_degree"),
        F.round(sy / F.col("n"), 6).alias("mean_dst_degree"),
        F.round(
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Co-purchase projection top pairs (differential pin for the shared
# graph-family edge builder)
# ---------------------------------------------------------------------------

_CP_TOPK = 25


@query(
    "copurchase_top_pairs",
    oracle=f"""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT u, v, w FROM pairs
    WHERE w >= {_KC_MIN_ORDERS}
    ORDER BY w DESC, u, v
    LIMIT {_CP_TOPK}
    """,
    description="Bipartite projection of the order-part graph onto "
    f"parts: top-{_CP_TOPK} co-purchased part pairs by same-order "
    "pair count — the 'customers also bought' edge list, and the "
    "EXACT relation the k-core and Boruvka queries consume "
    "(_copurchase_edges), so this query differential-pins the whole "
    "graph family's shared input against DuckDB.  Scale shape: the "
    "self-join fans out only WITHIN an order (<= 7 lines -> <= 21 "
    "pairs), one shuffle on the order key, partial-aggregated pair "
    "counts, TakeOrdered top-k — never a global sort.",
)
def copurchase_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    return edges.select(
        "u", "v", F.col("w").cast("long").alias("w")
    ).orderBy(F.desc("w"), "u", "v").limit(_CP_TOPK)


# ---------------------------------------------------------------------------
# Label-propagation communities (ninth differential-checked iterative)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    steps = []
    for k in range(1, _LPA_ROUNDS + 1):
        steps.append(
            f"""cnt{k} AS (
      SELECT a.u AS node, l.label AS lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM adj a JOIN lp{k - 1} l ON a.v = l.node
      GROUP BY 1, 2
    ),
    lp{k} AS (
      SELECT node, lbl AS label FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rk
        FROM cnt{k}
      ) WHERE rk = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_KC_MIN_ORDERS}
    ), adj AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ), lp0 AS (
      SELECT DISTINCT u AS node, u AS label FROM adj
    ),
    {chain}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lp{_LPA_ROUNDS}
    GROUP BY 1
    ORDER BY n_members DESC, community
    LIMIT 20
    """


@query(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
    description=f"Label-propagation community detection "
    f"({_LPA_ROUNDS} semi-synchronous rounds) over the part "
    "co-purchase graph: every node adopts its neighbors' most "
    "frequent label with the deterministic (count DESC, label ASC) "
    "tie-break, making the classically order-sensitive LPA fully "
    "reproducible and oracle-checkable (unrolled CTEs, the "
    "PageRank/HITS precedent) — the ninth differential-checked "
    "iterative algorithm.  Spark shape per round: one broadcast of "
    "the |V|-row label table onto the edge list, one partial-"
    "aggregated (node, label) count, one node-keyed argmax window — "
    "the edge table never shuffles.  Output: top community sizes.",
)
@machine_sized_shuffle
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    adj = _kcore_adjacency(spark, sf_dir).localCheckpoint()
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _k in range(_LPA_ROUNDS):
        l2 = labels.select(
            F.col("node").alias("l_n"), F.col("label").alias("lbl")
        )
        cnt = (
            adj.join(F.broadcast(l2), adj.v == F.col("l_n"))
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("node").orderBy(F.desc("c"), "lbl")
        labels = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", F.col("lbl").alias("label"))
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dedup cluster-size report (the corpus-curation summary table)
# ---------------------------------------------------------------------------


@query(
    "dedup_cluster_report",
    oracle=f"""
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
    ), comp AS (
      SELECT n AS doc_id, MIN(m) AS cid FROM reach GROUP BY n
    ), allc AS (
      SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS cid
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), sizes AS (
      SELECT cid, COUNT(*) AS sz FROM allc GROUP BY cid
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
    description="Near-dup cluster-size report over the WHOLE corpus "
    "(singletons included via the anti-join complement): for each "
    "cluster size, how many clusters and how many documents — the "
    "one-page summary a curation run prints before deciding "
    "survivorship policy (a heavy tail of large clusters means "
    "boilerplate or mirror sites; a thin tail means organic "
    "near-dups).  Output is bounded by the number of DISTINCT "
    "cluster sizes (<= largest cluster), so the report is "
    "constant-size however large the corpus; the compute reuses the "
    "same blocked pair graph + iterative min-label closure as "
    "dedup_components.  Oracle = recursive-CTE closure + the same "
    "two-level histogram.",
)
def dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.io import read_table

    pairs = near_dup_pair_graph(spark, sf_dir)
    comps = connected_components(pairs, jumps=1)
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    allc = docs.join(
        comps.select(F.col("node").alias("doc_id"), "label"),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cid")
    )
    sizes = allc.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# k-truss decomposition (iterative edge peeling by triangle support)
# ---------------------------------------------------------------------------

_TRUSS_K = 4          # keep edges in >= (k-2) = 2 triangles
# peel round bound, shared with the unrolled oracle and set past the
# measured fixpoint (5/6/4 rounds at sf0.001/0.01/0.1): the extra
# oracle rounds are no-ops on the converged set, so the unroll is
# exact, and a graph needing more rounds raises FixpointNotReached
_TRUSS_ROUNDS = 8


def _truss_round_sql(prev: str, out: str) -> str:
    """One unrolled peel round as DuckDB CTEs: enumerate triangles of
    the current edge set (a<b<c edge-iterator, same join as
    triangle_count), count per-edge support, keep support >= k-2."""
    # MATERIALIZED is load-bearing: each round references the previous
    # edge set four times; un-materialized CTEs would inline (and
    # re-scan lineitem) exponentially across unrolled rounds
    return f"""
    tri_{out} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM {prev} e1
      JOIN {prev} e2 ON e2.a = e1.b
      JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
    ), supp_{out} AS MATERIALIZED (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS s FROM (
        SELECT x AS a, y AS b FROM tri_{out}
        UNION ALL SELECT y, z FROM tri_{out}
        UNION ALL SELECT x, z FROM tri_{out}
      ) GROUP BY a, b
    ), {out} AS MATERIALIZED (
      SELECT p.a, p.b
      FROM {prev} p JOIN supp_{out} s ON p.a = s.a AND p.b = s.b
      WHERE s.s >= {_TRUSS_K - 2}
    )"""


def _truss_oracle() -> str:
    from dados_publicos_etl_spark.plans.mining import _EDGES_SQL

    rounds = ",".join(
        _truss_round_sql(f"e{i}", f"e{i + 1}")
        for i in range(_TRUSS_ROUNDS)
    )
    return f"""
    WITH {_EDGES_SQL},
    e0 AS MATERIALIZED (SELECT a, b FROM edges),
    {rounds},
    final_tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e{_TRUSS_ROUNDS} e1
      JOIN e{_TRUSS_ROUNDS} e2 ON e2.a = e1.b
      JOIN e{_TRUSS_ROUNDS} e3 ON e3.a = e1.a AND e3.b = e2.b
    ), final_supp AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT x AS a, y AS b FROM final_tri
        UNION ALL SELECT y, z FROM final_tri
        UNION ALL SELECT x, z FROM final_tri
      ) GROUP BY a, b
    )
    SELECT e.a, e.b, f.support
    FROM e{_TRUSS_ROUNDS} e
    JOIN final_supp f ON e.a = f.a AND e.b = f.b
    """


def _truss_sides(edges: DataFrame) -> DataFrame:
    """(a, b) once per triangle side of the (a<b oriented) edge set:
    the a<b<c edge-iterator enumeration, one row per triangle."""
    # no broadcast hint on the edge table (round-8 ADVICE fix): a
    # real co-purchase edge set is not executor-broadcast-sized; AQE
    # picks broadcast at test scale from the checkpointed size stats
    # and falls back to shuffle joins at corpus scale
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    return (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
    )


def _truss_peel_once(edges: DataFrame) -> DataFrame:
    """One Spark peel round over the (tiny, a<b oriented) edge set."""
    supp = _truss_sides(edges).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("s")
    )
    return (
        edges.join(supp, ["a", "b"])
        .filter(F.col("s") >= _TRUSS_K - 2)
        .select("a", "b")
    )


@query(
    "k_truss_edges",
    oracle=_truss_oracle(),
    description=f"{_TRUSS_K}-truss decomposition of the item "
    "co-purchase graph: iteratively peel edges that sit in fewer "
    f"than k-2 = {_TRUSS_K - 2} triangles of the REMAINING graph "
    "until the survivor set is stable — the community-core extractor "
    "that is strictly stronger than k-core (cores bound degree, "
    "trusses bound TRIANGLE support, so bridges and hub spokes fall "
    "away).  Each peel round is one a<b<c edge-iterator triangle "
    "enumeration (join volume = sum of degree squared, the "
    "triangle_count plan) + one per-edge count + one semi filter — "
    "all on the bounded edge table, checkpointed per round; the "
    f"{_TRUSS_ROUNDS}-round bound sits past the measured fixpoint "
    "(Spark early-exits there and raises FixpointNotReached on a "
    "graph that needs more; the oracle's extra rounds are no-ops "
    "on the converged set — asserted by the peel-once-more pytest, "
    "the Boruvka idempotency discipline), and the oracle unrolls "
    "the identical recurrence into MATERIALIZED CTEs.  Twelfth "
    "differential-checked iterative algorithm.  Output: surviving "
    "edges with their in-truss support.",
)
@machine_sized_shuffle
def k_truss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.plans.mining import _co_edges

    edges, seen = checkpoint_observed(
        _co_edges(spark, sf_dir), n=F.count(F.lit(1))
    )
    rounds = Rounds("k_truss_edges", _TRUSS_ROUNDS)
    for _ in rounds:
        # a peel only removes edges, so an unchanged cardinality (the
        # previous round's is carried in ``seen``) is the fixpoint
        prev_n = seen["n"]
        edges, seen = checkpoint_observed(
            _truss_peel_once(edges), n=F.count(F.lit(1))
        )
        if rounds.fixpoint(seen["n"] == prev_n):
            break
    supp = _truss_sides(edges).groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return edges.join(supp, ["a", "b"]).select("a", "b", "support")
