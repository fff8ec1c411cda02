"""Fuzzy record linkage / entity resolution (north-star extension;
SURVEY.md §2.B dedup family — ENTITY-level dedup, where the text
dedup operators are DOCUMENT-level).

A training-data pipeline meets this the moment two sources describe
the same real-world entity with slightly different strings (vendor
names, author fields, site hostnames).  The classic scalable design
is **blocked sorted-neighborhood matching** (Hernández & Stolfo,
1995): never all-pairs — sort records by a discriminating key inside
bounded blocks and compare each record only with its w nearest
neighbors in sort order, then score survivors with an edit-distance
predicate.

Spark-first shape: block key = cheap prefix expression, neighbor
generation = ``lead()`` window inside the block (ONE shuffle on the
block key, ONE window pass computing all w leads, no global sort, no
cross join), scoring = ``F.levenshtein`` (JVM codegen).  Both the
window and the edit distance exist verbatim in DuckDB, so the whole
operator is oracle-checkable — rare for fuzzy matching.

At 100 TB: block sizes are bounded by construction (the prefix is
chosen so blocks fit a partition), the per-row work is w comparisons
(w = _SNM_WINDOW), and recall is tuned the standard way — multiple
passes with different block keys / sort keys, unioned; one pass is
registered here, the union is a trivial composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.tmpstore import (
    open_table,
    session_artifact,
    write_table,
)

_SNM_WINDOW = 3  # compare each record with its next w neighbors
_LEV_MAX = 2  # accept pairs within this edit distance
_BLOCK_LEN = 16  # block = first 16 chars of the name

# Extra fields the Fellegi-Sunter calibration compares; carried on
# the shared pair table so ONE window pass serves all four linkage
# queries (fld, SQL expr over customer).
_FS_FIELDS = [
    ("nation", "c_nationkey"),
    ("segment", "c_mktsegment"),
    ("bal_band", "CAST(floor(c_acctbal / 1000) AS BIGINT)"),
]

# The linkage family's shared machinery is two session artifacts
# (tmpstore.session_artifact), computed ONCE per (session, corpus) and
# parquet-backed — the portable_sig_table pattern (operators/dedup.py,
# BENCH_NOTES r7 #5) applied to record linkage.  ``snm_pairs`` is the
# UNFILTERED sorted-neighborhood candidate table (all w leads, with
# both sides' names and FS comparison fields), so the fuzzy matcher
# (lev filter), the FS calibration (is_match/agree projections), and
# the two entity queries (matched src/dst edges) are each a narrow
# projection of one scan.  ``snm_comp`` is the connected-components
# label map over the matched edges, the iterative half
# golden_record_merge and entity_resolution_e2e both need.  At 100 TB
# these are exactly the two tables an MDM pipeline PERSISTS next to
# the corpus (candidates + cluster map), not recomputes per consumer.


def _build_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (uncached) sorted-neighborhood pair plan: ONE Window node
    carrying every lead() over ONE block-key exchange, unpivoted by
    explode.  tests/test_plans.py pins this build plan; consumers go
    through ``snm_pair_table`` below."""
    cust = read_table(spark, sf_dir, "customer")
    win = W.partitionBy(
        F.substring("c_name", 1, _BLOCK_LEN)
    ).orderBy("c_name", "c_custkey")
    # all lead exprs share ONE window spec -> a single Window node
    # over one block-key shuffle; the neighbor list then unpivots
    # with explode in a second projection (generators can't host
    # window functions)
    base = cust.select(
        "c_custkey",
        "c_name",
        *[F.expr(expr).alias(f"{fld}0") for fld, expr in _FS_FIELDS],
        *[
            c
            for j in range(1, _SNM_WINDOW + 1)
            for c in (
                [
                    F.lead("c_custkey", j).over(win).alias(f"ck{j}"),
                    F.lead("c_name", j).over(win).alias(f"nm{j}"),
                ]
                + [
                    F.lead(F.expr(expr), j).over(win).alias(f"{fld}{j}")
                    for fld, expr in _FS_FIELDS
                ]
            )
        ],
    )
    neigh = base.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        *[F.col(f"{fld}0").alias(f"{fld}_a") for fld, _ in _FS_FIELDS],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"ck{j}").alias("custkey_b"),
                        F.col(f"nm{j}").alias("name_b"),
                        *[
                            F.col(f"{fld}{j}").alias(f"{fld}_b")
                            for fld, _ in _FS_FIELDS
                        ],
                    )
                    for j in range(1, _SNM_WINDOW + 1)
                ]
            )
        ).alias("nb"),
    )
    return neigh.filter(F.col("nb.custkey_b").isNotNull()).select(
        "custkey_a",
        F.col("nb.custkey_b").alias("custkey_b"),
        "name_a",
        F.col("nb.name_b").alias("name_b"),
        F.levenshtein("name_a", F.col("nb.name_b"))
        .cast("int")
        .alias("lev_dist"),
        *[F.col(f"{fld}_a") for fld, _ in _FS_FIELDS],
        *[
            F.col(f"nb.{fld}_b").alias(f"{fld}_b")
            for fld, _ in _FS_FIELDS
        ],
    )


def snm_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked sorted-neighborhood candidate pairs, unfiltered:
    (custkey_a, name_a, custkey_b, name_b, lev_dist, <fld>_a/<fld>_b
    for each FS field).  Built once per (session, corpus); row count
    is exactly <= w * n (linear in the table)."""
    from dados_publicos_etl_spark.session import iterative_shuffle

    def build(workdir: str):
        # machine-sized shuffle for the build: the pair parquet
        # inherits the window exchange's partition count, so a vanilla
        # session's 200 would write 200 tiny files that every cached
        # consumer then pays to list and read (no-op under the
        # engine's own sessions).
        with iterative_shuffle(spark):
            return write_table(
                _build_snm_pairs(spark, sf_dir), workdir + "/pairs"
            )

    return open_table(spark, session_artifact("snm_pairs", sf_dir, build))


def entity_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component label map (node, label) over the matched
    (lev <= _LEV_MAX) pair edges — the iterative half the two entity
    queries share, run once per (session, corpus) and parquet-backed
    alongside the pair table."""
    from dados_publicos_etl_spark.operators.graph import (
        connected_components,
    )

    def build(workdir: str):
        edges = (
            snm_pair_table(spark, sf_dir)
            .filter(F.col("lev_dist") <= _LEV_MAX)
            .select(
                F.col("custkey_a").alias("src"),
                F.col("custkey_b").alias("dst"),
            )
        )
        return write_table(connected_components(edges), workdir + "/comp")

    return open_table(spark, session_artifact("snm_comp", sf_dir, build))


def _snm_oracle() -> str:
    """Unrolled SNM oracle: one window computing all w leads, then a
    UNION ALL unpivot — LEAD offsets must be constants in portable
    SQL, so the w neighbor hops are unrolled like the PageRank
    oracle's iterations."""
    leads = ",\n             ".join(
        f"LEAD(c_custkey, {j}) OVER w AS ck{j}, "
        f"LEAD(c_name, {j}) OVER w AS nm{j}"
        for j in range(1, _SNM_WINDOW + 1)
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT c_custkey AS custkey_a, c_name AS name_a, "
        f"ck{j} AS custkey_b, nm{j} AS name_b FROM base"
        for j in range(1, _SNM_WINDOW + 1)
    )
    return f"""
    WITH base AS (
      SELECT c_custkey, c_name,
             {leads}
      FROM customer
      WINDOW w AS (PARTITION BY substring(c_name, 1, {_BLOCK_LEN})
                   ORDER BY c_name, c_custkey)
    ), neigh AS (
      {arms}
    )
    SELECT custkey_a, custkey_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS lev_dist
    FROM neigh
    WHERE custkey_b IS NOT NULL
      AND levenshtein(name_a, name_b) <= {_LEV_MAX}
    """


@query(
    "fuzzy_match_customers",
    oracle=_snm_oracle(),
    description="Entity-level fuzzy dedup via blocked "
    "sorted-neighborhood matching: customers sorted by name inside "
    f"{_BLOCK_LEN}-char-prefix blocks, each compared to its next "
    f"{_SNM_WINDOW} neighbors (one window pass computes all leads — "
    "one shuffle, no cross join), pairs within levenshtein "
    f"{_LEV_MAX} kept.  The rare fully-oracle-checkable fuzzy "
    "matcher.  The pass is the session-cached snm_pair_table the "
    "whole linkage family shares (build once, project per "
    "consumer).",
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One sorted-neighborhood pass over the customer table.

    All w lead() columns ride the SAME window spec, so Catalyst
    plans a single Window node over one block-key shuffle; the
    neighbor list is then unpivoted with explode (narrow).  The
    candidate count is exactly w * n rows before the edit-distance
    filter — linear in the table, the property that makes SNM the
    scalable alternative to a blocked self-join when blocks are
    still too big to pair within.  The pass itself lives in
    ``snm_pair_table`` (built once per session/corpus, shared with
    the FS calibration and both entity queries); this query is the
    edit-distance filter over that table.
    """
    return (
        snm_pair_table(spark, sf_dir)
        .filter(F.col("lev_dist") <= _LEV_MAX)
        .select("custkey_a", "custkey_b", "name_a", "name_b", "lev_dist")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic match weights
# ---------------------------------------------------------------------------


def _fs_oracle() -> str:
    leads = ",\n             ".join(
        f"LEAD(c_custkey, {j}) OVER w AS ck{j}, "
        f"LEAD(c_name, {j}) OVER w AS nm{j}, "
        + ", ".join(
            f"LEAD({expr}, {j}) OVER w AS {fld}{j}"
            for fld, expr in _FS_FIELDS
        )
        for j in range(1, _SNM_WINDOW + 1)
    )
    base_cols = ", ".join(f"{expr} AS {fld}0" for fld, expr in _FS_FIELDS)
    arms = "\n      UNION ALL ".join(
        "SELECT "
        f"CAST(levenshtein(c_name, nm{j}) <= {_LEV_MAX} AS INT) AS is_match, "
        + ", ".join(
            f"CAST({fld}0 = {fld}{j} AS INT) AS ag_{fld}"
            for fld, _ in _FS_FIELDS
        )
        + f" FROM base WHERE ck{j} IS NOT NULL"
        for j in range(1, _SNM_WINDOW + 1)
    )
    field_rows = "\n      UNION ALL ".join(
        f"SELECT '{fld}' AS field, is_match, ag_{fld} AS agree FROM pairs"
        for fld, _ in _FS_FIELDS
    )
    return f"""
    WITH base AS (
      SELECT c_custkey, c_name, {base_cols},
             {leads}
      FROM customer
      WINDOW w AS (PARTITION BY substring(c_name, 1, {_BLOCK_LEN})
                   ORDER BY c_name, c_custkey)
    ), pairs AS (
      {arms}
    ), long AS (
      {field_rows}
    ), stats AS (
      SELECT field,
             CAST(SUM(is_match) AS BIGINT) AS n_match,
             CAST(SUM(1 - is_match) AS BIGINT) AS n_nonmatch,
             CAST(SUM(is_match * agree) AS BIGINT) AS a_match,
             CAST(SUM((1 - is_match) * agree) AS BIGINT) AS a_nonmatch
      FROM long GROUP BY field
    )
    SELECT field, n_match, n_nonmatch,
           ROUND((a_match + 0.5) / (n_match + 1.0), 6) AS m_prob,
           ROUND((a_nonmatch + 0.5) / (n_nonmatch + 1.0), 6) AS u_prob,
           ROUND(ln(((a_match + 0.5) / (n_match + 1.0))
                    / ((a_nonmatch + 0.5) / (n_nonmatch + 1.0))), 6)
             AS w_agree,
           ROUND(ln((1.0 - (a_match + 0.5) / (n_match + 1.0))
                    / (1.0 - (a_nonmatch + 0.5) / (n_nonmatch + 1.0))), 6)
             AS w_disagree
    FROM stats
    """


@query(
    "linkage_fellegi_sunter",
    oracle=_fs_oracle(),
    description="Fellegi-Sunter probabilistic linkage weights: over "
    "the blocked sorted-neighborhood candidate pairs, per-field "
    "m-probabilities (P(agree | match), match proxied by the "
    "edit-distance rule the fuzzy matcher uses) and u-probabilities "
    "(P(agree | non-match)), Laplace-smoothed, with the standard "
    "ln(m/u) agreement and ln((1-m)/(1-u)) disagreement weights — "
    "the calibration table that turns ad-hoc fuzzy matching into "
    "scored probabilistic linkage.  Spark-first: candidate pairs "
    "come from ONE window pass (the SNM lead unroll — no cross "
    "join); agreements unpivot via stack(); everything downstream is "
    "a 3-row exact-count aggregate, so the 100 TB cost is the one "
    "block-key shuffle the fuzzy matcher already pays.",
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = snm_pair_table(spark, sf_dir).select(
        (F.col("lev_dist") <= _LEV_MAX).cast("int").alias("is_match"),
        *[
            (F.col(f"{fld}_a") == F.col(f"{fld}_b"))
            .cast("int")
            .alias(f"ag_{fld}")
            for fld, _ in _FS_FIELDS
        ],
    )
    stack_args = ", ".join(f"'{fld}', ag_{fld}" for fld, _ in _FS_FIELDS)
    long = pairs.select(
        "is_match",
        F.expr(
            f"stack({len(_FS_FIELDS)}, {stack_args}) as (field, agree)"
        ),
    )
    stats = long.groupBy("field").agg(
        F.sum("is_match").cast("long").alias("n_match"),
        F.sum(1 - F.col("is_match")).cast("long").alias("n_nonmatch"),
        F.sum(F.col("is_match") * F.col("agree")).cast("long").alias("a_match"),
        F.sum((1 - F.col("is_match")) * F.col("agree"))
        .cast("long")
        .alias("a_nonmatch"),
    )
    m = (F.col("a_match") + 0.5) / (F.col("n_match") + 1.0)
    u = (F.col("a_nonmatch") + 0.5) / (F.col("n_nonmatch") + 1.0)
    return stats.select(
        "field",
        "n_match",
        "n_nonmatch",
        F.round(m, 6).alias("m_prob"),
        F.round(u, 6).alias("u_prob"),
        F.round(F.log(m / u), 6).alias("w_agree"),
        F.round(F.log((1.0 - m) / (1.0 - u)), 6).alias("w_disagree"),
    )


# ---------------------------------------------------------------------------
# End-to-end entity resolution (fuzzy pairs -> components -> canonical)
# ---------------------------------------------------------------------------


def _er_oracle() -> str:
    leads = ",\n             ".join(
        f"LEAD(c_custkey, {j}) OVER w AS ck{j}, "
        f"LEAD(c_name, {j}) OVER w AS nm{j}"
        for j in range(1, _SNM_WINDOW + 1)
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT c_custkey AS a, ck{j} AS b FROM base "
        f"WHERE ck{j} IS NOT NULL "
        f"AND levenshtein(c_name, nm{j}) <= {_LEV_MAX}"
        for j in range(1, _SNM_WINDOW + 1)
    )
    return f"""
    WITH RECURSIVE base AS (
      SELECT c_custkey, c_name,
             {leads}
      FROM customer
      WINDOW w AS (PARTITION BY substring(c_name, 1, {_BLOCK_LEN})
                   ORDER BY c_name, c_custkey)
    ), pairs AS (
      {arms}
    ), edges AS (
      SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), reach(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
    ), comp AS (
      SELECT n AS custkey, MIN(m) AS entity_id FROM reach GROUP BY n
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(custkey) AS canonical_custkey
    FROM comp
    GROUP BY entity_id
    ORDER BY n_members DESC, entity_id
    LIMIT 25
    """


@query(
    "entity_resolution_e2e",
    oracle=_er_oracle(),
    description="End-to-end entity resolution: the fuzzy matcher's "
    "blocked sorted-neighborhood candidate pairs (edit distance <= "
    f"{_LEV_MAX}) feed connected components (min-label propagation + "
    "pointer jumping), and each resolved entity keeps its min-key "
    "member as canonical — pairwise matching alone under-merges "
    "(A~B, B~C leaves A and C separate records); the component step "
    "is what makes linkage ENTITY-level, exactly as dedup_components "
    "does for documents.  One window pass for candidates, the "
    "Pregel-style CC loop over the (tiny) pair graph, a 25-row "
    "output; both halves come from the linkage family's session "
    "cache (snm_pair_table / entity_cluster_table — built once, "
    "shared with golden_record_merge); oracle = the same pairs "
    "through a recursive-CTE transitive closure.",
)
def entity_resolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = entity_cluster_table(spark, sf_dir)
    return (
        comp.groupBy(F.col("label").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").alias("canonical_custkey"),
        )
        .orderBy(F.desc("n_members"), "entity_id")
        .limit(25)
    )


def _golden_oracle() -> str:
    leads = ",\n             ".join(
        f"LEAD(c_custkey, {j}) OVER w AS ck{j}, "
        f"LEAD(c_name, {j}) OVER w AS nm{j}"
        for j in range(1, _SNM_WINDOW + 1)
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT c_custkey AS a, ck{j} AS b FROM base "
        f"WHERE ck{j} IS NOT NULL "
        f"AND levenshtein(c_name, nm{j}) <= {_LEV_MAX}"
        for j in range(1, _SNM_WINDOW + 1)
    )
    return f"""
    WITH RECURSIVE base AS (
      SELECT c_custkey, c_name,
             {leads}
      FROM customer
      WINDOW w AS (PARTITION BY substring(c_name, 1, {_BLOCK_LEN})
                   ORDER BY c_name, c_custkey)
    ), pairs AS (
      {arms}
    ), edges AS (
      SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), reach(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
    ), comp AS (
      SELECT n AS custkey, MIN(m) AS entity_id FROM reach GROUP BY n
    ), members AS (
      SELECT comp.entity_id, c.c_custkey, c.c_name, c.c_mktsegment,
             CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM comp JOIN customer c ON c.c_custkey = comp.custkey
    ), best_name AS (
      SELECT entity_id, c_name AS golden_name,
             ROW_NUMBER() OVER (PARTITION BY entity_id
                                ORDER BY cents DESC, c_custkey) AS rn
      FROM members
    ), seg_mode AS (
      SELECT entity_id, c_mktsegment AS golden_segment,
             ROW_NUMBER() OVER (
               PARTITION BY entity_id
               ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
      FROM members GROUP BY entity_id, c_mktsegment
    ), rollup_m AS (
      SELECT entity_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(cents) AS BIGINT) AS golden_acctbal_cents
      FROM members GROUP BY entity_id
    )
    SELECT r.entity_id, r.n_members, bn.golden_name,
           r.golden_acctbal_cents, sm.golden_segment
    FROM rollup_m r
    JOIN best_name bn ON bn.entity_id = r.entity_id AND bn.rn = 1
    JOIN seg_mode sm ON sm.entity_id = r.entity_id AND sm.rn = 1
    WHERE r.n_members >= 2
    """


@query(
    "golden_record_merge",
    oracle=_golden_oracle(),
    description="Golden-record construction (field-level "
    "survivorship): each resolved entity (the fuzzy matcher's pairs "
    "through connected components) merges its duplicate member "
    "records FIELD BY FIELD under explicit survivorship rules — "
    "name from the highest-balance member (deterministic custkey "
    "tie-break), balance as the max, segment as the mode "
    "(count-then-alphabetical tie-break) — the MDM step after "
    "entity_resolution_e2e that produces the single record "
    "downstream joins consume, rather than just a cluster id.  "
    "Per-field argmax/mode are max_by/min_by HASH AGGREGATES with "
    "struct tie-breaks (no per-entity window sort — the richest-"
    "record pick folds into the same aggregate as the rollup), "
    "members come from one join of the (session-cached) component "
    "map back to the dimension; only multi-member entities emit.  "
    "Oracle = the "
    "equivalent survivorship windows over the recursive-CTE "
    "closure.",
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = entity_cluster_table(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    members = comp.join(
        cust, comp.node == cust.c_custkey
    ).select(
        F.col("label").alias("entity_id"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    members = members.localCheckpoint()  # matched-entity scale, reused 2x
    # survivorship picks are ARGMAX aggregates, not window sorts:
    # max_by/min_by with a struct tie-break fold the richest-record
    # name pick into the same hash aggregate as the rollup (no
    # per-partition sort, no rank-and-filter pass) — the shape that
    # survives 100x, where a partitionBy window would sort every
    # entity group
    roll = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("cents").cast("long").alias("golden_acctbal_cents"),
        F.max_by(
            "c_name",
            F.struct(
                F.col("cents").alias("c"),
                (-F.col("c_custkey")).alias("k"),
            ),
        ).alias("golden_name"),
    )
    # segment mode: two-level count then argmax with ties toward the
    # lexicographically smaller segment (min_by over (-cnt, seg))
    seg_mode = (
        members.groupBy("entity_id", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("entity_id")
        .agg(
            F.min_by(
                "c_mktsegment",
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("c_mktsegment").alias("s"),
                ),
            ).alias("golden_segment")
        )
    )
    return (
        roll.filter(F.col("n_members") >= 2)
        .join(seg_mode, "entity_id")
        .select(
            "entity_id",
            "n_members",
            "golden_name",
            "golden_acctbal_cents",
            "golden_segment",
        )
    )
