"""Second statistics/mining wave: rank statistics (Spearman,
Kolmogorov-Smirnov), link prediction over the co-purchase graph,
grid-blocked density clustering (DBSCAN core/border/noise), and a
fully PORTABLE HyperLogLog whose register construction — not just its
error bound — is differentially checked against DuckDB.

North-star §2.B widening (the reference at /root/reference stops at
CSV->parquet cleaning; these are the analytics/curation primitives a
training-data warehouse layers on top).  Every query here is
oracle-checked; the discipline is the same as plans/mining.py:

- rank statistics collapse the fact table to a BOUNDED intermediate
  (calendar days, value tie-groups) before any window runs;
- the one genuinely data-scale running sum (the KS ECDF) rides the
  range-partitioned prefix-sum machinery (operators/ranking.py) —
  never a SinglePartition window;
- every float is a single division of exact integers, rounded
  identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dados_publicos_etl_spark.functions.numeric import (
    epoch_micros,
    leading_zero_rank,
)
from dados_publicos_etl_spark.functions.text import hex_long
from dados_publicos_etl_spark.io import read_table
from dados_publicos_etl_spark.operators.ranking import ranked_by_range
from dados_publicos_etl_spark.plans.mining import _EDGES_SQL, _co_edges
from dados_publicos_etl_spark.plans.registry import query
from dados_publicos_etl_spark.session import machine_sized_shuffle
from dados_publicos_etl_spark.tmpstore import new_dir, open_table, write_table

# ---------------------------------------------------------------------------
# Spearman rank correlation (daily volume vs daily revenue, per class)
# ---------------------------------------------------------------------------


@query(
    "spearman_daily_rank_corr",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS cls, CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY cls, day
    ), rx AS (
      SELECT cls, x,
             2 * (SUM(CAST(COUNT(*) AS BIGINT)) OVER
                    (PARTITION BY cls ORDER BY x) - COUNT(*))
               + COUNT(*) + 1 AS r2x
      FROM daily GROUP BY cls, x
    ), ry AS (
      SELECT cls, y,
             2 * (SUM(CAST(COUNT(*) AS BIGINT)) OVER
                    (PARTITION BY cls ORDER BY y) - COUNT(*))
               + COUNT(*) + 1 AS r2y
      FROM daily GROUP BY cls, y
    ), ranked AS (
      SELECT d.cls, rx.r2x, ry.r2y
      FROM daily d
      JOIN rx ON rx.cls = d.cls AND rx.x = d.x
      JOIN ry ON ry.cls = d.cls AND ry.y = d.y
    ), m AS (
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(r2x) AS BIGINT) AS sx,
             CAST(SUM(r2y) AS BIGINT) AS sy,
             CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
             CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
             CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
      FROM ranked GROUP BY cls
    )
    SELECT cls, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))), 6)
             AS spearman_rho
    FROM m
    """,
    description="Spearman rank correlation between daily order count "
    "and daily revenue per priority class — the monotone-association "
    "screen that survives outliers and nonlinearity where Pearson "
    "does not.  Rank statistics are usually scale hostile (a global "
    "sort per group); here the fact table first collapses to the "
    "DAILY aggregate (calendar-bounded: ~2.5k rows per class at ANY "
    "corpus size), midranks come from tie-group cumulative counts "
    "(doubled to stay integer — r2 = 2*rank_before + ties + 1, exact "
    "on both engines), and rho is the Pearson formula over exact "
    "integer rank moments divided ONCE.  All windows run over the "
    "bounded daily/tie tables, never the facts; one fact-scale "
    "shuffle total (the daily GROUP BY).",
)
def spearman_daily_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("cls"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "y"
        ),
    )

    def midranks2(col: str, out: str) -> DataFrame:
        # doubled midrank per tie group: 2*(#rows strictly below) +
        # ties + 1 — integer-exact, engine-portable
        w = (
            Window.partitionBy("cls")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            daily.groupBy("cls", col)
            .agg(F.count(F.lit(1)).alias("ties"))
            .withColumn(
                out,
                2 * (F.sum("ties").over(w) - F.col("ties"))
                + F.col("ties")
                + 1,
            )
            .drop("ties")
        )

    ranked = daily.join(midranks2("x", "r2x"), ["cls", "x"]).join(
        midranks2("y", "r2y"), ["cls", "y"]
    )
    m = ranked.groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        "cls", "n_days", F.round(num / den, 6).alias("spearman_rho")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (exact D, no global window)
# ---------------------------------------------------------------------------

_KS_A = "1-URGENT"
_KS_B = "5-LOW"


@query(
    "ks_test_twosample",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS val,
             o_orderpriority AS pr
      FROM orders WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
    ), sizes AS (
      SELECT CAST(SUM(CASE WHEN pr = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN pr = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM cents
    ), ties AS (
      SELECT val,
             CAST(SUM(CASE WHEN pr = '{_KS_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN pr = '{_KS_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM cents GROUP BY val
    ), ecdf AS (
      SELECT SUM(s.n2 * t.c1 - s.n1 * t.c2)
               OVER (ORDER BY t.val) AS gap
      FROM ties t CROSS JOIN sizes s
    )
    SELECT s.n1, s.n2,
           CAST(MAX(ABS(e.gap)) AS BIGINT) AS d_num,
           ROUND(CAST(MAX(ABS(e.gap)) AS DOUBLE) / (s.n1 * s.n2), 6)
             AS d_stat,
           ROUND(CAST(MAX(ABS(e.gap)) AS DOUBLE) / (s.n1 * s.n2)
                 * sqrt(CAST(s.n1 AS DOUBLE) * s.n2 / (s.n1 + s.n2)), 6)
             AS ks_lambda
    FROM ecdf e CROSS JOIN sizes s
    GROUP BY s.n1, s.n2
    """,
    description="Exact two-sample Kolmogorov-Smirnov statistic between "
    f"the order-value distributions of '{_KS_A}' and '{_KS_B}' orders "
    "— the distribution-drift test that needs the WHOLE ECDF, not "
    "moments.  D = max|F1-F2| is computed cross-multiplied in exact "
    "integers (gap = n2*cum1 - n1*cum2 — no per-row division, no "
    "float ECDF), over the value TIE-GROUP table (one hash aggregate "
    "collapses the facts to distinct cent values).  The one "
    "data-scale ordered scan — the running gap over values — rides "
    "the range-partitioned prefix-sum machinery "
    "(operators/ranking.py): per-partition running sums plus a P-row "
    "offset table, NO SinglePartition window anywhere in the plan.  "
    "The sample sizes are that scan's grand totals; an empty tie "
    "table gives the oracle's zero rows, and one empty sample a NULL "
    "D and lambda.  Output: exact integer D numerator, D, and the "
    "sqrt(n1*n2/(n1+n2))-scaled KS lambda.",
)
def ks_test_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.filter(
        F.col("o_orderpriority").isin(_KS_A, _KS_B)
    ).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("val"),
        F.col("o_orderpriority").alias("pr"),
    )
    ties = cents.groupBy("val").agg(
        F.sum(F.when(F.col("pr") == _KS_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("pr") == _KS_B, 1).otherwise(0)).alias("c2"),
    )
    # ONE prefix pass carries BOTH samples' running counts, and the
    # sample sizes n1/n2 fall out of the same per-bucket stats
    # collect — the previous separate `ties.agg(...).first()` job
    # (a full extra execution of the ties subtree) is gone, and the
    # gap cumsum is assembled by linearity: cum_gap = n2*cum_c1 -
    # n1*cum_c2, the SAME exact integers as prefixing the per-row
    # gap directly.
    cums, _, (n1, n2) = ranked_by_range(ties, [F.col("val")], ["c1", "c2"])
    if n1 + n2 == 0:  # no tie group: the oracle's GROUP BY gives no row
        return spark.createDataFrame(
            [], "n1 int, n2 int, d_num long, d_stat double, ks_lambda double"
        )
    cum = cums.withColumn(
        "cum",
        F.lit(int(n2)) * F.col("cum_c1") - F.lit(int(n1)) * F.col("cum_c2"),
    )
    # one empty sample: D is undefined, NULL like the oracle's x / 0
    d = (
        F.max(F.abs(F.col("cum"))).cast("double") / (float(n1) * float(n2))
        if n1 and n2
        else F.lit(None).cast("double")
    )
    return cum.agg(
        F.lit(int(n1)).alias("n1"),
        F.lit(int(n2)).alias("n2"),
        F.max(F.abs(F.col("cum"))).cast("long").alias("d_num"),
        F.round(d, 6).alias("d_stat"),
        F.round(
            d * F.sqrt(F.lit(float(n1) * float(n2) / (float(n1) + float(n2)))),
            6,
        ).alias("ks_lambda"),
    )


# ---------------------------------------------------------------------------
# Link prediction: resource-allocation index over the co-purchase graph
# ---------------------------------------------------------------------------

_RA_SCALE = 1_000_000_000
_RA_TOPK = 25


@query(
    "link_prediction_ra",
    oracle=f"""
    WITH {_EDGES_SQL},
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL
      SELECT b AS u, a AS v FROM edges
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
    ), cand AS (
      SELECT x.u AS a, y.u AS b,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM({_RA_SCALE} // dz.d) AS BIGINT) AS ra_scaled
      FROM und x
      JOIN und y ON y.v = x.v AND x.u < y.u
      JOIN deg dz ON dz.node = x.v
      GROUP BY x.u, y.u
    ), non_edges AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = c.a AND e.b = c.b
      )
    )
    SELECT a, b, common_neighbors, ra_scaled,
           ROUND(CAST(ra_scaled AS DOUBLE) / {_RA_SCALE}, 6) AS ra_score
    FROM non_edges
    ORDER BY ra_scaled DESC, a, b
    LIMIT {_RA_TOPK}
    """,
    description="Link prediction over the part co-purchase graph via "
    "the resource-allocation index (Zhou et al. 2009 — empirically "
    "the strongest of the classic local indices): for every "
    "NON-edge pair, RA = sum over common neighbors z of 1/deg(z), "
    "kept exact as sum(floor(1e9/deg(z))) — integer floor division "
    "on both engines, so the score sum is order-independent and "
    "oracle-checkable where a float 1/deg sum would not be.  The "
    "'customers who bought X also bought Y' candidate generator: "
    "common neighbors come from ONE equi-join of the undirected "
    "adjacency with itself on the shared endpoint (wedge "
    "enumeration — volume is sum of deg^2, never |V|^2), existing "
    "edges anti-join away, top-25 by score with deterministic "
    "tie-break.  Degrees broadcast onto the wedge join; reuses the "
    "session-cached co-purchase edge list the whole graph family "
    "shares.",
)
def link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _co_edges(spark, sf_dir)
    und = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    x, y = und.alias("x"), und.alias("y")
    cand = (
        x.join(
            y,
            (F.col("y.v") == F.col("x.v")) & (F.col("x.u") < F.col("y.u")),
        )
        .join(
            F.broadcast(deg), F.col("node") == F.col("x.v")
        )
        .groupBy(F.col("x.u").alias("a"), F.col("y.u").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.expr(f"{_RA_SCALE} div d")).alias("ra_scaled"),
        )
    )
    non_edges = cand.join(edges, ["a", "b"], "left_anti")
    return (
        non_edges.withColumn(
            "ra_score",
            F.round(F.col("ra_scaled").cast("double") / _RA_SCALE, 6),
        )
        .orderBy(F.desc("ra_scaled"), "a", "b")
        .limit(_RA_TOPK)
    )


# ---------------------------------------------------------------------------
# DBSCAN core/border/noise classification via grid blocking
# ---------------------------------------------------------------------------

_DB_EPS = 0.02
_DB_MINPTS = 4  # neighbors within eps, EXCLUDING the point itself

_DB_PTS_SQL = f"""
    pts AS (
      SELECT c_custkey AS id,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS STRING)
                    || ':lat'), 1, 6) AS BIGINT) % 1000 AS DOUBLE)
               / 1000.0 AS x,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS STRING)
                    || ':lon'), 1, 6) AS BIGINT) % 1000 AS DOUBLE)
               / 1000.0 AS y
      FROM customer
    ), cells AS (
      SELECT id, x, y,
             CAST(floor(x / {_DB_EPS}) AS INT) AS cx,
             CAST(floor(y / {_DB_EPS}) AS INT) AS cy
      FROM pts
    ), nbr AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM cells a JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {_DB_EPS} * {_DB_EPS}
    ), ncount AS (
      SELECT c.id, CAST(COALESCE(k.n, 0) AS BIGINT) AS n_nbrs
      FROM cells c LEFT JOIN (
        SELECT id_a AS id, COUNT(*) AS n FROM nbr GROUP BY id_a
      ) k ON k.id = c.id
    ), core AS (
      SELECT id FROM ncount WHERE n_nbrs >= {_DB_MINPTS}
    ), labeled AS (
      SELECT nc.id,
             CASE WHEN nc.n_nbrs >= {_DB_MINPTS} THEN 'core'
                  WHEN EXISTS (SELECT 1 FROM nbr
                               JOIN core ON core.id = nbr.id_b
                               WHERE nbr.id_a = nc.id) THEN 'border'
                  ELSE 'noise' END AS role
      FROM ncount nc
    )
"""


@query(
    "dbscan_core_points",
    oracle=f"""
    WITH {_DB_PTS_SQL}
    SELECT role, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM labeled GROUP BY role
    """,
    description="DBSCAN density classification (eps-neighbor counting "
    "-> core / border / noise roles) over hash-synthesized planar "
    "points: core = >= 4 neighbors within eps, border = non-core "
    "with a core neighbor, noise = the rest — the density-based "
    "outlier/cluster screen (anomalous embeddings, sparse geo "
    "regions).  Spatial shape identical to geo_proximity_join: the "
    "eps-grid EQUI-join (side a explodes to its 3x3 neighborhood, "
    "side b keeps its home cell) guarantees every in-eps pair "
    "matches exactly once, so candidate volume ~ density x n, never "
    "O(n^2); neighbor counts are one hash aggregate, the border "
    "test ONE semi-join of the pair relation against the core set.  "
    "Output is 3 rows at any corpus size.  Planar squared distance "
    "keeps the oracle bit-exact.",
)
def dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")

    def coord(salt: str):
        return (
            hex_long(
                F.md5(
                    F.concat(F.col("c_custkey").cast("string"), F.lit(salt))
                ),
                6,
            )
            % 1000
        ).cast("double") / 1000.0

    cells = cust.select(
        F.col("c_custkey").alias("id"),
        coord(":lat").alias("x"),
        coord(":lon").alias("y"),
    ).select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / _DB_EPS).cast("int").alias("cx"),
        F.floor(F.col("y") / _DB_EPS).cast("int").alias("cy"),
    ).localCheckpoint(eager=False)
    # ^ three consumers (explode side, home side, ncount spine) —
    # checkpointed so the hash-coordinate synthesis isn't re-planned
    # per consumer (r10 subtree audit)
    a = cells.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("id_a", "xa", "ya", "cell.cx", "cell.cy")
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    dsq = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    # NOTE (r10): nbr feeds ncount AND the border semi-join, but a
    # lazy checkpoint here MATERIALIZES the pair relation — which
    # grows with density x n — and benched 28x (vs 5.7x) at the 10x
    # probe; the pair stream must be recomputed, not cached.
    nbr = (
        a.join(b, ["cx", "cy"])
        .filter((F.col("id_a") != F.col("id_b")) & (dsq <= _DB_EPS**2))
        .select("id_a", "id_b")
    )
    ncount = (
        cells.select("id")
        .join(
            nbr.groupBy(F.col("id_a").alias("id")).agg(
                F.count(F.lit(1)).alias("n")
            ),
            "id",
            "left",
        )
        .select("id", F.coalesce(F.col("n"), F.lit(0)).alias("n_nbrs"))
    )
    core = ncount.filter(F.col("n_nbrs") >= _DB_MINPTS).select("id")
    has_core_nbr = (
        nbr.join(core.withColumnRenamed("id", "id_b"), "id_b", "semi")
        .select(F.col("id_a").alias("id"))
        .distinct()
    )
    labeled = ncount.join(
        has_core_nbr.withColumn("has_core", F.lit(True)), "id", "left"
    ).select(
        "id",
        F.when(F.col("n_nbrs") >= _DB_MINPTS, "core")
        .when(F.col("has_core"), "border")
        .otherwise("noise")
        .alias("role"),
    )
    return labeled.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_points")
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog: register construction differentially checked
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (p = 6)


@query(
    "hll_portable_registers",
    oracle=f"""
    WITH keyed AS (
      SELECT md5(CAST(o_custkey AS VARCHAR)) AS h,
             o_orderkey % 2 AS half
      FROM orders
    ), hashed AS (
      SELECT half,
             CAST(('0x' || substr(h, 1, 2)) AS BIGINT) % {_HLL_M}
               AS bucket,
             CAST(('0x' || substr(h, 3, 6)) AS BIGINT) AS w
      FROM keyed
    ), ranks AS (
      SELECT half, bucket,
             CASE WHEN w = 0 THEN 25
                  ELSE 25 - length(bin(w)) END AS r
      FROM hashed
    ), regs AS (
      SELECT bucket,
             CAST(MAX(CASE WHEN half = 0 THEN r ELSE 0 END)
                  AS BIGINT) AS r_h0,
             CAST(MAX(CASE WHEN half = 1 THEN r ELSE 0 END)
                  AS BIGINT) AS r_h1,
             CAST(MAX(r) AS BIGINT) AS r_all
      FROM ranks GROUP BY bucket
    )
    SELECT s.b AS bucket,
           CAST(COALESCE(r_h0, 0) AS BIGINT) AS r_h0,
           CAST(COALESCE(r_h1, 0) AS BIGINT) AS r_h1,
           CAST(GREATEST(COALESCE(r_h0, 0), COALESCE(r_h1, 0))
                AS BIGINT) AS r_merged,
           CAST(COALESCE(r_all, 0) AS BIGINT) AS r_all
    FROM (SELECT unnest(range({_HLL_M})) AS b) s
    LEFT JOIN regs ON regs.bucket = s.b
    """,
    description=f"PORTABLE HyperLogLog over distinct customers in the "
    f"orders fact — the Count-Min discipline applied to HLL: "
    f"{_HLL_M} registers from md5-derived buckets (8 independent "
    "bits) and leading-zero ranks of the next 24 bits, where the "
    "rank is 25 - bit_length(w) via length(bin(w)) — exact integer "
    "string math identical on both engines, so the REGISTER TABLE "
    "itself is differentially checked, not just the estimate's "
    "error bound (Spark's own hll_sketch_agg stays rows-only by "
    "construction; this is the oracle-checkable twin).  "
    "Mergeability is proven in-query: registers built per "
    "deterministic data half merge by GREATEST and must equal the "
    "whole-corpus registers (asserted in pytest; the per-batch "
    "persistable distinct sketch).  Scale: one narrow hash map + "
    f"one partial-aggregated GROUP BY whose output is {_HLL_M} rows "
    "at any corpus size, spine-joined so empty registers exist as "
    "rank 0.",
)
def hll_portable_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    keyed = orders.select(
        F.md5(F.col("o_custkey").cast("string")).alias("h"),
        (F.col("o_orderkey") % 2).alias("half"),
    )
    hashed = keyed.select(
        "half",
        (hex_long("h", 2) % _HLL_M).alias("bucket"),
        hex_long("h", 6, start=3).alias("w"),
    )
    ranks = hashed.select(
        "half",
        "bucket",
        leading_zero_rank(F.col("w"), 25).cast("long").alias("r"),
    )
    regs = ranks.groupBy("bucket").agg(
        F.max(F.when(F.col("half") == 0, F.col("r")).otherwise(0)).alias(
            "m_h0"
        ),
        F.max(F.when(F.col("half") == 1, F.col("r")).otherwise(0)).alias(
            "m_h1"
        ),
        F.max("r").alias("m_all"),
    )
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    return (
        spine.join(regs, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("m_h0"), F.lit(0)).cast("long").alias("r_h0"),
            F.coalesce(F.col("m_h1"), F.lit(0)).cast("long").alias("r_h1"),
            F.greatest(
                F.coalesce(F.col("m_h0"), F.lit(0)),
                F.coalesce(F.col("m_h1"), F.lit(0)),
            )
            .cast("long")
            .alias("r_merged"),
            F.coalesce(F.col("m_all"), F.lit(0)).cast("long").alias("r_all"),
        )
    )


# ---------------------------------------------------------------------------
# PCA power iteration over the exact integer Gram matrix
# ---------------------------------------------------------------------------


def _pca_oracle() -> str:
    from dados_publicos_etl_spark.plans.mining import _GRAM_SQL

    return f"""
    WITH {_GRAM_SQL},
    full_g AS (
      SELECT dim_i AS i, dim_j AS j, g FROM gram
      UNION ALL
      SELECT dim_j AS i, dim_i AS j, g FROM gram WHERE dim_i < dim_j
    ), v1 AS (
      SELECT i, SUM(g) AS v FROM full_g GROUP BY i
    ), v2 AS (
      SELECT f.i, SUM(f.g * v1.v) AS v
      FROM full_g f JOIN v1 ON v1.i = f.j GROUP BY f.i
    ), norms AS (
      SELECT (SELECT MAX(ABS(v)) FROM v1) AS n1,
             (SELECT MAX(ABS(v)) FROM v2) AS n2
    )
    SELECT v2.i AS dim,
           ROUND(CAST(v2.v AS DOUBLE) / CAST(n.n2 AS DOUBLE), 6)
             AS eigvec_ratio,
           ROUND(CAST(n.n2 AS DOUBLE) / CAST(n.n1 AS DOUBLE), 6)
             AS lambda_growth
    FROM v2 CROSS JOIN norms n
    """


@query(
    "pca_power_iteration",
    oracle=_pca_oracle(),
    description="Dominant principal direction of the embedding corpus "
    "by POWER ITERATION over the exact integer Gram matrix — the "
    "tenth differential-checked iterative algorithm, and the PCA "
    "step that usually hides behind float BLAS made "
    "oracle-verifiable: X'X comes from embedding_gram_matrix's "
    "int8-quantized exact cells (the corpus collapses to 2080 "
    "integers in ONE Arrow pass — the only data-wide work), and two "
    "v <- Gv rounds run as broadcast joins over that 64x64 cell "
    "table in DECIMAL(38,0)/HUGEINT arithmetic (v2 entries stay "
    "under ~4e27 at sf100 — no overflow, no float accumulation, so "
    "both engines agree bit-for-bit until the final normalize).  "
    "Output: the unit-free eigenvector direction v2/max|v2| and the "
    "infinity-norm growth ratio max|v2|/max|v1| (the power-method "
    "dominant-eigenvalue estimate), each ONE correctly-rounded "
    "double division of exact decimals.  At 100 TB the iteration "
    "cost is independent of corpus size — every round touches only "
    "the d^2 cell table.",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.plans.mining import embedding_gram_matrix

    gram = embedding_gram_matrix(spark, sf_dir)
    full_g = gram.select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "g"
    ).unionAll(
        gram.filter(F.col("dim_i") < F.col("dim_j")).select(
            F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), "g"
        )
    )
    # NOTE (r10): the subtree audit flags the Gram subtree planned
    # once per matvec consumer, but lazy checkpoints here benched
    # 5.2x (vs 1.8x) at the 10x probe — checkpoint materialization
    # runs outside AQE coalescing, and the duplicated exchanges are
    # runtime-reused anyway.  Allowlisted as ckpt-residual.
    g18 = full_g.withColumn("g", F.col("g").cast("decimal(18,0)"))
    v1 = (
        g18.groupBy("i")
        .agg(F.sum("g").alias("v"))
        .select("i", F.col("v").cast("decimal(18,0)").alias("v"))
    )
    v2 = (
        g18.join(
            F.broadcast(
                v1.select(F.col("i").alias("j"), F.col("v").alias("vj"))
            ),
            "j",
        )
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("vj")).alias("v"))
    )
    norms = (
        v1.agg(F.max(F.abs(F.col("v"))).alias("n1"))
        .crossJoin(v2.agg(F.max(F.abs(F.col("v"))).alias("n2")))
    )
    return v2.crossJoin(F.broadcast(norms)).select(
        F.col("i").alias("dim"),
        F.round(
            F.col("v").cast("double") / F.col("n2").cast("double"), 6
        ).alias("eigvec_ratio"),
        F.round(
            F.col("n2").cast("double") / F.col("n1").cast("double"), 6
        ).alias("lambda_growth"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b over the daily (volume, revenue) series
# ---------------------------------------------------------------------------


@query(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY day
    ), pairs AS (
      SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END
               AS conc,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END
               AS disc
      FROM daily a JOIN daily b ON a.day < b.day
    ), cd AS (
      SELECT CAST(SUM(conc) AS BIGINT) AS c,
             CAST(SUM(disc) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM pairs
    ), tx AS (
      SELECT CAST(COALESCE(SUM(k * (k - 1) // 2), 0) AS BIGINT) AS n1
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM daily GROUP BY x) t
    ), ty AS (
      SELECT CAST(COALESCE(SUM(k * (k - 1) // 2), 0) AS BIGINT) AS n2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM daily GROUP BY y) t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           cd.c AS concordant, cd.d AS discordant,
           ROUND((cd.c - cd.d)
                 / (sqrt(CAST(cd.n0 - tx.n1 AS DOUBLE))
                    * sqrt(CAST(cd.n0 - ty.n2 AS DOUBLE))), 6) AS tau_b
    FROM cd, tx, ty
    """,
    description="Kendall tau-b between daily order volume and daily "
    "revenue — the rank-concordance twin of spearman_daily_rank_corr "
    "(tau's pairwise definition is more robust to a few wild days; "
    "together they complete the classical rank-statistics pair).  "
    "Kendall is notorious for its O(n^2) pair enumeration; here n is "
    "the CALENDAR-BOUNDED daily table (the facts collapse in one "
    "partial-aggregated pass first), so the pair self-join is "
    "~3M rows at a 7-year calendar REGARDLESS of corpus size.  "
    "Concordant/discordant verdicts are exact integer sign tests; "
    "tie corrections n1/n2 come from tie-group aggregates; tau-b is "
    "one double division of exact integers, rounded identically on "
    "both engines.",
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "y"
        ),
    )
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    cd = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .select(
            F.when(prod > 0, 1).otherwise(0).alias("conc"),
            F.when(prod < 0, 1).otherwise(0).alias("disc"),
        )
        .agg(
            F.sum("conc").alias("c"),
            F.sum("disc").alias("d"),
            F.count(F.lit(1)).alias("n0"),
        )
    )

    def tie_corr(col: str, out: str) -> DataFrame:
        return (
            daily.groupBy(col)
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("k * (k - 1) div 2")), F.lit(0)
                ).alias(out)
            )
        )

    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    j = (
        cd.crossJoin(tie_corr("x", "n1"))
        .crossJoin(tie_corr("y", "n2"))
        .crossJoin(n_days)
    )
    return j.select(
        "n_days",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d"))
            / (
                F.sqrt((F.col("n0") - F.col("n1")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("n2")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                  AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY d
    ), slopes AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ), ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn,
             COUNT(*) OVER () AS n
      FROM slopes
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           ROUND(AVG(s), 6) AS sen_slope_cents_per_day
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    """,
    description="Theil-Sen robust trend of daily revenue: the MEDIAN "
    "of all pairwise slopes — the trend estimator that shrugs off "
    "outlier days where OLS (multiple_regression_cramer's family) "
    "gets dragged.  Slopes are correctly-rounded doubles of exact "
    "integer differences (identical on both engines), enumerated "
    "over the CALENDAR-BOUNDED daily table (the facts collapse "
    "first; ~3M pairs at a 7-year calendar regardless of corpus "
    "size).  The median selection runs on the range-partitioned "
    "global rank (operators/ranking.py) — no SinglePartition sort "
    "of the pair table — taking the middle one/two ranks and "
    "averaging (<= 2 values, so even the float mean is "
    "order-deterministic).",
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "y"
        )
    )
    # The daily table AQE-coalesces to one partition (it is tiny), so
    # without an explicit spread the pair-enumerating BNLJ — the one
    # data-expanding step (~n_days^2/2 rows) — runs as a SINGLE task.
    # Repartitioning the streamed side first costs one micro-shuffle
    # of n_days rows and parallelizes the expansion; the explode
    # factor is knowledge the optimizer does not have (guide §8).
    k = spark.sparkContext.defaultParallelism
    a = daily.repartition(k).alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("b.d") > F.col("a.d")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d")).cast("double")
        ).alias("s")
    )
    ranked, n, _ = ranked_by_range(slopes, [F.col("s")])
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    return ranked.filter(F.col("rn").isin(k1, k2)).agg(
        # no pair: the oracle's MAX over zero rows is NULL, not 0
        F.lit(n or None).cast("long").alias("n_pairs"),
        F.round(F.avg("s"), 6).alias("sen_slope_cents_per_day"),
    )


# ---------------------------------------------------------------------------
# DAG longest-path layering (topological depth) — 11th iterative algorithm
# ---------------------------------------------------------------------------


@query(
    "dag_longest_path_layers",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    nodes AS (
      SELECT a AS v FROM edges UNION SELECT b AS v FROM edges
    ), walk(v, len) AS (
      SELECT v, 0 FROM nodes
      UNION
      SELECT e.b, w.len + 1 FROM walk w JOIN edges e ON e.a = w.v
    )
    SELECT v AS item, CAST(MAX(len) AS BIGINT) AS layer
    FROM walk GROUP BY v
    """,
    description="Longest-path layering of the co-purchase DAG (edges "
    "oriented a < b, so acyclic by construction): layer(v) = length "
    "of the longest path reaching v — the topological DEPTH that "
    "schedules dependency stages (build systems, lineage graphs, "
    "feature DAGs).  Eleventh differential-checked iterative "
    "algorithm, computed by MAX-PLUS PATH SQUARING (r11; the "
    "per-round relaxation loop was driver-job-floor-bound at ~13 "
    "rounds x 2 actions — measured 3.3 s normalized for both the "
    "eager per-round and the lazily-batched shapes, 1.2 s for the "
    "squaring): dist(u,v) starts as the edge list (d = 1) and each "
    "squaring round extends it with max-plus composition "
    "dist ∘ dist, so k rounds cover all paths up to 2^k edges — "
    "6 rounds > the 49-edge bound the % 50 item domain puts on any "
    "acyclic path, with NO data-dependent driver probe at all; the "
    "closure is bounded at |V|^2 <= 2,500 rows BY CONSTRUCTION "
    "(top-K edge cut over a 50-item domain), which is what makes "
    "squaring the right trade here — on an unbounded node domain "
    "the closure is |V|^2 and per-layer relaxation wins instead.  "
    "layer(v) = max(0, max over u of dist(u,v)).  All six rounds "
    "chain as lazy checkpoints materialized by the ONE output "
    "action.  Oracle = the DuckDB recursive CTE enumerating all "
    "(node, path-length) pairs — finite because the DAG bounds "
    "length by |V|.",
)
@machine_sized_shuffle
def dag_longest_path_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _co_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    dist = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.lit(1).alias("d")
    ).localCheckpoint(eager=False)
    # 2^6 = 64 > 49 = the longest possible acyclic path over the
    # <= 50-node item domain (items are l_partkey % 50 in
    # _EDGES_SQL), so exactly 6 squarings ALWAYS reach the closure —
    # no changed-row probe, no driver round-trips between rounds.
    # The lazy checkpoints keep the plan tree linear (each round
    # references dist three times; unchecked that is 3^6 plan
    # nodes) while the single count/collect on the result
    # materializes the whole chain in one job cascade.
    for _ in range(6):
        left = dist.select(
            "u", F.col("v").alias("mid"), F.col("d").alias("d1")
        )
        right = dist.select(
            F.col("u").alias("mid2"), "v", F.col("d").alias("d2")
        )
        comp = left.join(right, left.mid == right.mid2).select(
            "u", "v", (F.col("d1") + F.col("d2")).alias("d")
        )
        dist = (
            dist.unionAll(comp)
            .groupBy("u", "v")
            .agg(F.max("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    longest = dist.groupBy("v").agg(F.max("d").alias("m"))
    return nodes.join(longest, nodes.node == longest.v, "left").select(
        F.col("node").alias("item"),
        F.coalesce("m", F.lit(0)).cast("long").alias("layer"),
    )


# ---------------------------------------------------------------------------
# RFC-4180 CSV torture round-trip
# ---------------------------------------------------------------------------

_CSV_TORTURE_SQL = (
    "concat('pre\"', substr(text, 1, 40), '\";', chr(10), 'x,', "
    "chr(13), chr(10), '\"\"tail')"
)


@query(
    "csv_rfc4180_roundtrip",
    oracle=f"""
    SELECT doc_id, md5({_CSV_TORTURE_SQL}) AS h
    FROM documents
    """,
    description="RFC-4180 CSV dialect torture round-trip: every "
    "document embeds the worst of CSV in one value — interior "
    "double quotes, the field delimiter, bare LF, a CRLF pair, and "
    "a leading quote-pair — then the table writes through Spark's "
    "CSV sink (quoteAll + doubled-quote escaping) and reads back "
    "through the CSV source (multiLine), and the md5 of every "
    "recovered value must equal the oracle's md5 of the SAME value "
    "built relationally, proving byte-lossless round-trip per row.  "
    "The quoting/escaping contract the reference's single-file CSV "
    "writer (script.py's df.to_csv) never has to prove; multiLine "
    "CSV parsing is the one scan shape that is NOT trivially "
    "splittable — exactly why a lakehouse converts such feeds to "
    "parquet on ingest (io.convert_csv_to_parquet).",
)
def csv_rfc4180_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    torture = docs.select(
        "doc_id",
        F.expr(
            "concat('pre\"', substr(text, 1, 40), '\";', chr(10), "
            "'x,', chr(13), chr(10), '\"\"tail')"
        ).alias("torture"),
    )
    out_dir = new_dir("csv_rfc", "spark_csv_rfc_")
    (
        torture.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(out_dir)
    )
    back = (
        spark.read.schema("doc_id long, torture string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(out_dir)
    )
    return back.select("doc_id", F.md5("torture").alias("h"))


# ---------------------------------------------------------------------------
# Equi-depth histogram boundaries (optimizer-stats / binning primitive)
# ---------------------------------------------------------------------------

_EQD_B = 16


@query(
    "equidepth_histogram",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS val
      FROM lineitem
    ), ties AS (
      SELECT val, CAST(COUNT(*) AS BIGINT) AS cnt FROM cents GROUP BY val
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM ties
    ), cum AS (
      SELECT val, cnt, SUM(cnt) OVER (ORDER BY val) AS cum FROM ties
    )
    SELECT g.k AS bucket, c.val AS upper_value,
           CAST(c.cum AS BIGINT) AS cum_rows
    FROM cum c CROSS JOIN tot
    JOIN (SELECT unnest(range(1, {_EQD_B} + 1)) AS k) g
      ON {_EQD_B} * (c.cum - c.cnt) < g.k * tot.n
     AND g.k * tot.n <= {_EQD_B} * c.cum
    """,
    description=f"Equi-depth histogram boundaries ({_EQD_B} buckets "
    "over line-item price cents) — the optimizer-statistics / "
    "feature-binning primitive: boundary k is the smallest value "
    "whose cumulative count reaches k*n/B, i.e. ~n/B rows per "
    "bucket however skewed the values (equi-WIDTH histograms "
    "collapse under skew; this is what ANALYZE builds).  Scale "
    "shape: the facts collapse to the value TIE-GROUP table in one "
    "hash aggregate, the cumulative count rides the "
    "range-partitioned prefix-sum machinery (NO SinglePartition "
    "window), and each tie row emits exactly the boundary indices "
    "it is first to cross via integer interval arithmetic "
    "(16*cum_prev < k*n <= 16*cum) — a sequence() explode bounded "
    f"by {_EQD_B} total output rows.  All comparisons exact int64.",
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    ties = (
        li.select(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("val")
        )
        .groupBy("val")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum, _, (n,) = ranked_by_range(ties, [F.col("val")], ["cnt"])
    b = _EQD_B
    # integer floors via div; k covers (B*cum_prev/n, B*cum/n]
    lo = F.expr(f"({b} * (cum_cnt - cnt)) div {int(n)} + 1")
    hi = F.expr(f"({b} * cum_cnt) div {int(n)}")
    return (
        cum.filter(hi >= lo)
        .select(
            F.explode(F.expr(f"sequence(({b} * (cum_cnt - cnt)) div {int(n)} + 1,"
                             f" ({b} * cum_cnt) div {int(n)})")).alias("bucket"),
            F.col("val").alias("upper_value"),
            F.col("cum_cnt").cast("long").alias("cum_rows"),
        )
        .filter((F.col("bucket") >= 1) & (F.col("bucket") <= b))
    )


# ---------------------------------------------------------------------------
# Quantile normalization onto a reference distribution (grid resolution)
# ---------------------------------------------------------------------------

_QN_Q = 64
_QN_A = "BUILDING"   # reference distribution
_QN_B = "MACHINERY"  # distribution to normalize


@query(
    "quantile_normalize_grid",
    oracle=f"""
    WITH a_ties AS (
      SELECT CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS val,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer WHERE c_mktsegment = '{_QN_A}' GROUP BY val
    ), a_tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM a_ties
    ), a_cum AS (
      SELECT val, cnt, SUM(cnt) OVER (ORDER BY val) AS cum FROM a_ties
    ), a_bounds AS (
      SELECT g.k, c.val
      FROM a_cum c CROSS JOIN a_tot
      JOIN (SELECT unnest(range(1, {_QN_Q} + 1)) AS k) g
        ON {_QN_Q} * (c.cum - c.cnt) < g.k * a_tot.n
       AND g.k * a_tot.n <= {_QN_Q} * c.cum
    ), b_ties AS (
      SELECT CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS val,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer WHERE c_mktsegment = '{_QN_B}' GROUP BY val
    ), b_tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM b_ties
    ), b_cum AS (
      SELECT val, cnt, SUM(cnt) OVER (ORDER BY val) AS cum FROM b_ties
    ), b_q AS (
      SELECT ({_QN_Q} * cum + n - 1) // n AS q,
             CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM b_cum CROSS JOIN b_tot
      GROUP BY q
    )
    SELECT b_q.q AS bucket, b_q.n_rows,
           a_bounds.val AS mapped_value
    FROM b_q JOIN a_bounds ON a_bounds.k = b_q.q
    """,
    description=f"Quantile normalization of the {_QN_B} segment's "
    f"balance distribution onto the {_QN_A} segment's — the "
    "distribution-alignment transform (batch-effect removal, score "
    "calibration across cohorts): each value maps to the reference "
    f"value at the same quantile, at a fixed {_QN_Q}-point grid "
    "resolution (the practical formulation — exact ECDF matching "
    "is this with Q = n).  Composes the equi-depth machinery "
    "twice: the reference's boundary table (Q rows, broadcast) and "
    "the target's tie-group quantile positions (ceil(Q*cum/n) in "
    "exact integer arithmetic), joined on the grid index.  Both "
    "cumulative counts ride range-partitioned prefix sums; "
    "everything is exact int64, output is <= Q rows at any corpus "
    "size.",
)
def quantile_normalize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    q = _QN_Q

    # r12: ONE ranged prefix pass for BOTH segments instead of two.
    # The two tie tables melt into one relation tagged sg (0 = the
    # reference segment, 1 = the target), ordered (sg, val); with
    # per-segment indicator value columns, the multi-column running
    # sums restricted to each segment's rows ARE that segment's
    # within-segment cumulative counts (the other segment contributes
    # zeros), and both grand totals fall out of the same offsets
    # collect.  Halves the sampling passes, materializations and
    # collects of the previous two-call shape; cumulative integers
    # are unchanged, so the oracle hash is too.
    ties = (
        cust.filter(F.col("c_mktsegment").isin(_QN_A, _QN_B))
        .select(
            F.when(F.col("c_mktsegment") == _QN_A, 0)
            .otherwise(1)
            .alias("sg"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("val"),
        )
        .groupBy("sg", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "sg",
            "val",
            "cnt",
            F.when(F.col("sg") == 0, F.col("cnt")).otherwise(0).alias("ca"),
            F.when(F.col("sg") == 1, F.col("cnt")).otherwise(0).alias("cb"),
        )
    )
    cums, _, (a_n, b_n) = ranked_by_range(ties, ["sg", "val"], ["ca", "cb"])
    a_cum = cums.filter(F.col("sg") == 0).withColumnRenamed("cum_ca", "cum")
    b_cum = cums.filter(F.col("sg") == 1).withColumnRenamed("cum_cb", "cum")
    a_bounds = (
        a_cum.filter(
            F.expr(f"({q} * cum) div {int(a_n)}")
            >= F.expr(f"({q} * (cum - cnt)) div {int(a_n)} + 1")
        )
        .select(
            F.explode(
                F.expr(
                    f"sequence(({q} * (cum - cnt)) div {int(a_n)} + 1,"
                    f" ({q} * cum) div {int(a_n)})"
                )
            ).alias("k"),
            F.col("val").alias("mapped_value"),
        )
        .filter((F.col("k") >= 1) & (F.col("k") <= q))
    )
    b_q = (
        b_cum.select(
            F.expr(f"({q} * cum + {int(b_n)} - 1) div {int(b_n)}").alias("q"),
            "cnt",
        )
        .groupBy("q")
        .agg(F.sum("cnt").alias("n_rows"))
    )
    return b_q.join(
        F.broadcast(a_bounds), b_q.q == a_bounds.k
    ).select(
        F.col("q").alias("bucket"), "n_rows", "mapped_value"
    )


# ---------------------------------------------------------------------------
# Parquet codec round-trip matrix
# ---------------------------------------------------------------------------

_PQ_CODECS = ("none", "snappy", "gzip", "zstd")

# most recent codec round-trip root, for the footprint pytest
LAST_CODEC_DIR: list = [None]

@query(
    "parquet_codec_roundtrip",
    oracle=f"""
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS checksum_cents
      FROM orders
    )
    SELECT c.codec, base.n_rows, base.checksum_cents
    FROM base CROSS JOIN (
      SELECT unnest(['{"','".join(_PQ_CODECS)}']) AS codec
    ) c
    """,
    description="Parquet compression-codec round-trip matrix: the "
    "orders projection writes once per codec (uncompressed, snappy, "
    "gzip, zstd — the storage/CPU trade the table-layout decision "
    "actually weighs at 100 TB) and each copy reads back to the "
    "same exact row count and integer-cents checksum, proving codec "
    "choice never touches values.  The oracle is the relational "
    "identity fanned across the codec list; a pytest additionally "
    "pins that each directory's files carry the codec-specific "
    "extension (so the option demonstrably took effect) and "
    "compares on-disk footprints.",
)
def parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    root = new_dir("codec_rt", "spark_codec_rt_")
    LAST_CODEC_DIR[0] = root
    parts = []
    for codec in _PQ_CODECS:
        table = write_table(orders, f"{root}/{codec}", compression=codec)
        parts.append(
            open_table(spark, table).agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("checksum_cents"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Difference-in-differences estimator
# ---------------------------------------------------------------------------


@query(
    "diff_in_diff",
    oracle="""
    WITH b AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events
    ), cells AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS treated,
             CASE WHEN epoch_us(ts) > b.mid THEN 1 ELSE 0 END AS post,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, b GROUP BY treated, post
    ), m AS (
      SELECT MAX(CASE WHEN treated = 1 AND post = 1
                      THEN CAST(cents AS DOUBLE) / n END) AS m_t_post,
             MAX(CASE WHEN treated = 1 AND post = 0
                      THEN CAST(cents AS DOUBLE) / n END) AS m_t_pre,
             MAX(CASE WHEN treated = 0 AND post = 1
                      THEN CAST(cents AS DOUBLE) / n END) AS m_c_post,
             MAX(CASE WHEN treated = 0 AND post = 0
                      THEN CAST(cents AS DOUBLE) / n END) AS m_c_pre,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM cells
    )
    SELECT n_events,
           ROUND(m_t_pre, 4) AS treated_pre,
           ROUND(m_t_post, 4) AS treated_post,
           ROUND(m_c_pre, 4) AS control_pre,
           ROUND(m_c_post, 4) AS control_post,
           ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4)
             AS did_cents
    FROM m
    """,
    description="Difference-in-differences estimator over the event "
    "stream: users split into treatment/control by the md5 "
    "experiment-assignment hash (ab_test_zscore's bucketing), time "
    "split pre/post at the corpus midpoint, and the causal effect "
    "estimate is the classic interaction of the four cell means — "
    "the quasi-experimental readout (feature launches, pricing "
    "changes) that controls for both group baselines and secular "
    "trends where a naive pre/post or treated/control comparison "
    "confounds.  ONE conditional aggregate produces the four cells "
    "as exact integer (cents, count) partials; each mean is a "
    "single correctly-rounded division and the DiD combination of "
    "four doubles is the same IEEE expression tree on both engines.",
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.sampling import hash_bucket

    ev = read_table(spark, sf_dir, "events")
    ts_us = epoch_micros("ts")
    lo, hi = ev.agg(F.min(ts_us), F.max(ts_us)).first()
    # no events: no midpoint, and the oracle's one row of NULL means
    mid = None if lo is None else (lo + hi) // 2
    cells = ev.groupBy(
        hash_bucket(F.col("user_id"), 2).alias("treated"),
        F.when(ts_us > mid, 1).otherwise(0).alias("post"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )

    def cell(t: int, p: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("cents").cast("double") / F.col("n"),
            )
        )

    m = cells.agg(
        cell(1, 1).alias("m_t_post"),
        cell(1, 0).alias("m_t_pre"),
        cell(0, 1).alias("m_c_post"),
        cell(0, 0).alias("m_c_pre"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return m.select(
        "n_events",
        F.round("m_t_pre", 4).alias("treated_pre"),
        F.round("m_t_post", 4).alias("treated_post"),
        F.round("m_c_pre", 4).alias("control_pre"),
        F.round("m_c_post", 4).alias("control_post"),
        F.round(
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre")),
            4,
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Classifier precision / recall / F1 report (per class)
# ---------------------------------------------------------------------------

# ensure the NB query is registered before we wrap its oracle
import dados_publicos_etl_spark.operators.classify  # noqa: E402,F401
from dados_publicos_etl_spark.plans.registry import QUERIES  # noqa: E402


def _prf1_oracle() -> str:
    nb = QUERIES["nb_classifier_train_score"].oracle
    return f"""
    WITH preds AS ({nb}),
    m AS (
      SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM preds GROUP BY true_lang, pred_lang
    ), classes AS (
      SELECT true_lang AS cls FROM m UNION SELECT pred_lang FROM m
    ), tp AS (
      SELECT true_lang AS cls, CAST(SUM(n) AS BIGINT) AS tp
      FROM m WHERE true_lang = pred_lang GROUP BY true_lang
    ), tt AS (
      SELECT true_lang AS cls, CAST(SUM(n) AS BIGINT) AS n_true
      FROM m GROUP BY true_lang
    ), pt AS (
      SELECT pred_lang AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
      FROM m GROUP BY pred_lang
    )
    SELECT c.cls,
           CAST(COALESCE(tt.n_true, 0) AS BIGINT) AS n_true,
           CAST(COALESCE(pt.n_pred, 0) AS BIGINT) AS n_pred,
           CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
           ROUND(CASE WHEN COALESCE(pt.n_pred, 0) = 0 THEN 0.0
                 ELSE CAST(COALESCE(tp.tp, 0) AS DOUBLE) / pt.n_pred END,
                 6) AS precision_c,
           ROUND(CASE WHEN COALESCE(tt.n_true, 0) = 0 THEN 0.0
                 ELSE CAST(COALESCE(tp.tp, 0) AS DOUBLE) / tt.n_true END,
                 6) AS recall_c,
           ROUND(CASE WHEN COALESCE(tt.n_true, 0) + COALESCE(pt.n_pred, 0)
                           = 0 THEN 0.0
                 ELSE 2.0 * COALESCE(tp.tp, 0)
                      / (COALESCE(tt.n_true, 0) + COALESCE(pt.n_pred, 0))
                 END, 6) AS f1_c
    FROM classes c
    LEFT JOIN tp ON tp.cls = c.cls
    LEFT JOIN tt ON tt.cls = c.cls
    LEFT JOIN pt ON pt.cls = c.cls
    """


@query(
    "classifier_prf1_report",
    oracle=_prf1_oracle(),
    description="Per-class precision / recall / F1 over the Naive "
    "Bayes classifier's held-out predictions — the evaluation "
    "report that joins exact ROC-AUC (threshold-free ranking "
    "quality) and Cohen's kappa (chance-corrected agreement) to "
    "complete the classifier-evaluation family with the per-class "
    "decision metrics a model card actually prints.  The test-set "
    "predictions collapse to the |classes|^2 confusion matrix in "
    "one partial-aggregated pass (the ONLY data-scale work is the "
    "NB scoring pipeline itself, already oracle-checked); "
    "precision/recall are single divisions of exact counts and F1 "
    "uses the one-division identity 2tp/(n_true + n_pred) — no "
    "compound float expression to drift.  Empty classes report 0 "
    "by convention.",
)
def classifier_prf1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dados_publicos_etl_spark.operators.classify import (
        nb_classifier_train_score,
    )

    preds = nb_classifier_train_score(spark, sf_dir)
    # LAZY checkpoint: the confusion matrix is |langs|^2 rows but its
    # lineage is the ENTIRE NB train+score pipeline, and five
    # consumers reference it (classes x2, tp, tt, pt) — without the
    # checkpoint Catalyst re-plans the whole tokenize/explode/score
    # subtree five times (r10 subtree audit, tools/subtree_audit.py).
    m = preds.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    classes = (
        m.select(F.col("true_lang").alias("cls"))
        .unionAll(m.select(F.col("pred_lang").alias("cls")))
        .distinct()
    )
    tp = (
        m.filter(F.col("true_lang") == F.col("pred_lang"))
        .groupBy(F.col("true_lang").alias("cls"))
        .agg(F.sum("n").alias("tp"))
    )
    tt = m.groupBy(F.col("true_lang").alias("cls")).agg(
        F.sum("n").alias("n_true")
    )
    pt = m.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n").alias("n_pred")
    )
    # r12: tp/tt/pt are |classes|-row aggregates of the checkpointed
    # confusion matrix (languages — bounded at any corpus scale), but
    # size ESTIMATES over an RDD-scan lineage made the planner pick
    # sort-merge joins (6 exchanges + sorts at sf0.1).  Broadcast
    # hints pin the correct strategy: 3 BroadcastHashJoins, zero
    # extra exchanges (guide §3.1 "estimates are often badly wrong").
    j = (
        classes.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(tt), "cls", "left")
        .join(F.broadcast(pt), "cls", "left")
        .select(
            "cls",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return j.select(
        "cls",
        "n_true",
        "n_pred",
        "tp",
        F.round(
            F.when(F.col("n_pred") == 0, 0.0).otherwise(
                F.col("tp").cast("double") / F.col("n_pred")
            ),
            6,
        ).alias("precision_c"),
        F.round(
            F.when(F.col("n_true") == 0, 0.0).otherwise(
                F.col("tp").cast("double") / F.col("n_true")
            ),
            6,
        ).alias("recall_c"),
        F.round(
            F.when((F.col("n_true") + F.col("n_pred")) == 0, 0.0).otherwise(
                2.0 * F.col("tp") / (F.col("n_true") + F.col("n_pred"))
            ),
            6,
        ).alias("f1_c"),
    )


# ---------------------------------------------------------------------------
# Retrieval quality: P@10 / MRR / NDCG@10 over exact cosine ranking
# ---------------------------------------------------------------------------

# integer-scaled DCG discounts: round(1e9 / log2(rank + 1)), rank 1..10,
# and their prefix sums (IDCG for r relevant = PREFIX[r]).  Literal on
# BOTH engines so no libm log2 enters the differential check.
_NDCG_DISC = [1000000000, 630929754, 500000000, 430676558, 386852807,
              356207187, 333333333, 315464877, 301029996, 289064826]
_NDCG_PREFIX = [0, 1000000000, 1630929754, 2130929754, 2561606312,
                2948459119, 3304666306, 3637999639, 3953464516,
                4254494512, 4543559338]
_NDCG_QUERIES = 20  # fixed query panel: cost stays linear in corpus
_NDCG_K = 10


@query(
    "retrieval_ndcg_at_k",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe, label AS q_label
      FROM embeddings WHERE vec_id < {_NDCG_QUERIES}
    ), scored AS (
      SELECT q.q_id,
             CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND(
                 list_sum(list_transform(list_zip(e.embedding, qe),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                 4) DESC,
               e.vec_id) AS rn
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ), top AS (
      SELECT q_id, rn, rel FROM scored WHERE rn <= {_NDCG_K}
    ), agg AS (
      SELECT q_id,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(SUM(rel * list_extract(
               {_NDCG_DISC}, rn)) AS BIGINT) AS dcg_scaled,
             MIN(CASE WHEN rel = 1 THEN rn END) AS first_rel
      FROM top GROUP BY q_id
    )
    SELECT q_id, n_rel,
           ROUND(CAST(n_rel AS DOUBLE) / {_NDCG_K}, 6) AS p_at_k,
           ROUND(CASE WHEN first_rel IS NULL THEN 0.0
                 ELSE 1.0 / first_rel END, 6) AS mrr,
           ROUND(CASE WHEN n_rel = 0 THEN 0.0
                 ELSE CAST(dcg_scaled AS DOUBLE)
                      / list_extract({_NDCG_PREFIX}, n_rel + 1) END, 6)
             AS ndcg_at_k
    FROM agg
    """,
    description=f"Retrieval-quality evaluation (P@{_NDCG_K}, MRR, "
    f"NDCG@{_NDCG_K}) of exact-cosine ranking for a fixed "
    f"{_NDCG_QUERIES}-query panel, relevance = same label — the "
    "metric harness every retrieval/ANN stack is judged by, made "
    "differentially checkable: ranking ties break on rounded cosine "
    "+ vec_id (portable), and the DCG log2 discounts are "
    "PRE-SCALED INTEGER LITERALS shared by both engines "
    "(round(1e9/log2(rank+1))), so DCG/IDCG accumulate as exact "
    "integer sums in any order and only the final NDCG ratio "
    "divides — no libm log2 difference can enter the check.  The "
    "fixed panel keeps cost linear in corpus size (panel x N "
    "brute-force pairs); at 100 TB swap the candidate source for "
    "the IVF/LSH retrievers (the metrics compose unchanged — "
    "that is the point of separating candidate generation from "
    "evaluation).",
)
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("q_label"),
    )
    from dados_publicos_etl_spark.functions.vector import cosine

    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.when(F.col("label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("rel"),
            F.round(
                cosine(F.col("embedding"), F.col("qe")), 4
            ).alias("cos_r"),
            "vec_id",
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_r"), "vec_id")
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NDCG_K)
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISC])
    prefix = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    agg = top.groupBy("q_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.col("rel") * F.element_at(disc, F.col("rn")))
        .cast("long")
        .alias("dcg_scaled"),
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rel"),
    )
    return agg.select(
        "q_id",
        "n_rel",
        F.round(F.col("n_rel").cast("double") / _NDCG_K, 6).alias("p_at_k"),
        F.round(
            F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                1.0 / F.col("first_rel")
            ),
            6,
        ).alias("mrr"),
        F.round(
            F.when(F.col("n_rel") == 0, 0.0).otherwise(
                F.col("dcg_scaled").cast("double")
                / F.element_at(
                    prefix, (F.col("n_rel") + 1).cast("int")
                )
            ),
            6,
        ).alias("ndcg_at_k"),
    )


# ---------------------------------------------------------------------------
# Sequence gap audit (missing-id ranges without a global window)
# ---------------------------------------------------------------------------

_GAP_TOPK = 20


@query(
    "sequence_gap_audit",
    oracle=f"""
    WITH ids AS (
      SELECT DISTINCT o_orderkey AS id FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ), bounds AS (
      SELECT CAST(MIN(id) AS BIGINT) AS lo, CAST(MAX(id) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ids
    ), gap_starts AS (
      SELECT i.id + 1 AS gap_start
      FROM ids i CROSS JOIN bounds b
      WHERE i.id < b.hi
        AND NOT EXISTS (SELECT 1 FROM ids x WHERE x.id = i.id + 1)
    )
    SELECT g.gap_start,
           b.hi - b.lo + 1 - b.n AS total_missing
    FROM gap_starts g CROSS JOIN bounds b
    ORDER BY g.gap_start
    LIMIT {_GAP_TOPK}
    """,
    description="Sequence-gap audit over a feed's key space (the "
    "URGENT-priority order keys stand in for an incremental feed "
    "that SHOULD have delivered a contiguous id range): the first "
    "missing id after each present id (gap starts), plus the exact "
    "total missing count from min/max/count arithmetic — the "
    "completeness check for ingest feeds that promise dense "
    "surrogate keys (a gap = lost batch or failed partition).  "
    "Deliberately WINDOW-FREE: the classic LEAD(id) formulation "
    "plans a SinglePartition global sort at corpus scale; here gap "
    "starts come from one self-ANTI-join on id+1 (keys only, "
    "hash-partitioned) and the total from a 1-row bounds aggregate "
    "— every stage partition-parallel, TakeOrdered for the "
    f"deterministic first-{_GAP_TOPK} report.",
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ids = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    lo, hi, n = ids.agg(F.min("id"), F.max("id"), F.count("id")).first()
    if not n:  # no ids: no gap starts, the oracle's zero rows
        lo = hi = 0
    nxt = ids.select((F.col("id") + 1).alias("gap_start"))
    present = ids.select(F.col("id").alias("gap_start"))
    gap_starts = (
        nxt.filter(F.col("gap_start") <= hi)
        .join(present, "gap_start", "left_anti")
    )
    total_missing = hi - lo + 1 - n
    return (
        gap_starts.withColumn(
            "total_missing", F.lit(total_missing).cast("long")
        )
        .orderBy("gap_start")
        .limit(_GAP_TOPK)
    )
