"""Differential fuzzing: hypothesis-generated relational queries run
on BOTH engines and compared exactly.

The hand-written catalog pins each operator once; the fuzzer sweeps
the COMPOSITION space (predicate x projection x group-by x aggregate)
where engine-semantics mismatches hide — null ordering, numeric
widening, predicate short-circuiting, empty-group behavior.  Every
generated query uses only constructs with engine-identical semantics
(exact integer aggregates, cents-integer sums — the repo's standard
oracle-stability rules), so ANY diff is a real defect, not noise.

Determinism: examples derive from hypothesis's seeded generator and
the fixture data; a failing example shrinks to a minimal query.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dados_publicos_etl_spark.io import read_table
from oracle_harness import compare

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

SF_DIR = SF_SMOKE

_NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_STR_COLS = ["l_returnflag", "l_linestatus"]
_STR_VALS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
}
_CMP = ["<", "<=", ">", ">=", "=", "<>"]


@st.composite
def predicates(draw):
    """A random AND/OR tree (depth <= 2) of portable comparisons."""

    def leaf():
        if draw(st.booleans()):
            c = draw(st.sampled_from(_NUM_COLS))
            op = draw(st.sampled_from(_CMP))
            v = round(draw(st.floats(0, 100)), 2)
            return f"({c} {op} {v})"
        c = draw(st.sampled_from(_STR_COLS))
        v = draw(st.sampled_from(_STR_VALS[c]))
        op = draw(st.sampled_from(["=", "<>"]))
        return f"({c} {op} '{v}')"

    n = draw(st.integers(1, 3))
    glue = draw(st.sampled_from([" AND ", " OR "]))
    return glue.join(leaf() for _ in range(n))


@st.composite
def agg_queries(draw):
    """(group_cols, agg_exprs) with engine-exact semantics only."""
    groups = draw(
        st.lists(st.sampled_from(_STR_COLS), unique=True, max_size=2)
    )
    aggs = []
    for i in range(draw(st.integers(1, 3))):
        c = draw(st.sampled_from(_NUM_COLS))
        kind = draw(st.sampled_from(["count", "min", "max", "cents_sum"]))
        if kind == "count":
            aggs.append((f"a{i}", "CAST(COUNT(*) AS BIGINT)", None))
        elif kind == "cents_sum":
            aggs.append(
                (
                    f"a{i}",
                    f"CAST(SUM(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS BIGINT)",
                    None,
                )
            )
        else:
            aggs.append((f"a{i}", f"ROUND({kind.upper()}({c}), 2)", None))
    return groups, aggs


_FUZZ = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_FUZZ
@given(pred=predicates(), q=agg_queries())
def test_random_filter_group_agg_matches_duckdb(spark, pred, q):
    groups, aggs = q
    li = read_table(spark, SF_DIR, "lineitem")
    filtered = li.filter(F.expr(pred))
    agg_cols = [F.expr(sql).alias(name) for name, sql, _ in aggs]
    if groups:
        df = filtered.groupBy(*groups).agg(*agg_cols)
    else:
        df = filtered.agg(*agg_cols)
    select = ", ".join(
        groups + [f"{sql} AS {name}" for name, sql, _ in aggs]
    )
    group_sql = f" GROUP BY {', '.join(groups)}" if groups else ""
    oracle = f"SELECT {select} FROM lineitem WHERE {pred}{group_sql}"
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(pred=predicates())
def test_random_filter_projection_matches_duckdb(spark, pred):
    li = read_table(spark, SF_DIR, "lineitem")
    df = li.filter(F.expr(pred)).select(
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) "
               "AS BIGINT)").alias("rev_cents"),
    )
    oracle = (
        "SELECT l_orderkey, l_linenumber, "
        "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"
        f" AS rev_cents FROM lineitem WHERE {pred}"
    )
    compare(df, oracle, SF_DIR)


@st.composite
def order_predicates(draw):
    prios = [
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    ]
    n = draw(st.integers(1, 2))
    glue = draw(st.sampled_from([" AND ", " OR "]))
    leaves = []
    for _ in range(n):
        if draw(st.booleans()):
            v = round(draw(st.floats(0, 400000)), 2)
            op = draw(st.sampled_from(_CMP))
            leaves.append(f"(o_totalprice {op} {v})")
        else:
            v = draw(st.sampled_from(prios))
            op = draw(st.sampled_from(["=", "<>"]))
            leaves.append(f"(o_orderpriority {op} '{v}')")
    return glue.join(leaves)


@_FUZZ
@given(lpred=predicates(), opred=order_predicates(), how=st.sampled_from(
    ["inner", "left_semi", "left_anti"]))
def test_random_join_matches_duckdb(spark, lpred, opred, how):
    """Random two-sided predicates x join type over the orderkey
    equi-join — inner/semi/anti each exercise different null/dedup
    semantics."""
    li = read_table(spark, SF_DIR, "lineitem").filter(F.expr(lpred))
    o = read_table(spark, SF_DIR, "orders").filter(F.expr(opred))
    joined = li.join(o, li.l_orderkey == o.o_orderkey, how)
    if how == "inner":
        df = joined.groupBy("o_orderpriority").agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents"),
        )
        oracle = f"""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE ({lpred}) AND ({opred})
        GROUP BY o_orderpriority
        """
    else:
        word = "IN" if how == "left_semi" else "NOT IN"
        df = joined.groupBy("l_returnflag").agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n")
        )
        oracle = f"""
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem WHERE ({lpred}) AND l_orderkey {word}
          (SELECT o_orderkey FROM orders WHERE {opred})
        GROUP BY l_returnflag
        """
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(pred=predicates(), mod=st.integers(2, 7))
def test_random_null_semantics_match_duckdb(spark, pred, mod):
    """NULL semantics sweep — the testdata has no organic NULLs, so
    inject them IDENTICALLY on both sides (doc_id-hash based) and
    compare COUNT(col) vs COUNT(*), null-skipping MIN/MAX, and
    GROUP BY over a nullable key.  Three-valued predicate logic on
    the nullable column is exercised by the WHERE clause."""
    null_q = f"CASE WHEN l_orderkey % {mod} = 0 THEN NULL ELSE l_quantity END"
    null_g = (
        f"CASE WHEN l_linenumber % {mod} = 1 THEN NULL "
        "ELSE l_returnflag END"
    )
    li = read_table(spark, SF_DIR, "lineitem")
    df = (
        li.withColumn("nq", F.expr(null_q))
        .withColumn("ng", F.expr(null_g))
        .filter(F.expr(pred))
        .groupBy("ng")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_rows"),
            F.expr("CAST(COUNT(nq) AS BIGINT)").alias("n_nonnull"),
            F.expr("ROUND(MIN(nq), 2)").alias("mn"),
            F.expr("ROUND(MAX(nq), 2)").alias("mx"),
        )
    )
    oracle = f"""
    SELECT {null_g} AS ng,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT({null_q}) AS BIGINT) AS n_nonnull,
           ROUND(MIN({null_q}), 2) AS mn,
           ROUND(MAX({null_q}), 2) AS mx
    FROM lineitem WHERE {pred}
    GROUP BY {null_g}
    """
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(
    pred=predicates(),
    part=st.sampled_from(_STR_COLS),
    fn=st.sampled_from(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"]),
    direction=st.sampled_from(["ASC", "DESC"]),
)
def test_random_window_ranking_matches_duckdb(spark, pred, part, fn, direction):
    """Window-function sweep: ranking functions over random
    partitions/orderings.  NOTE (l_orderkey, l_linenumber) is NOT
    unique in the synthetic lineitem; this stays deterministic
    because rows tied on the full ORDER BY are identical in every
    OUTPUT column too — any tie permutation yields the same sorted
    result set.  (The frame-aggregate sweep below had to add the
    summed column to the tie-break for the same reason.)"""
    order = (
        f"l_quantity {direction}, l_orderkey, l_linenumber"
    )
    li = read_table(spark, SF_DIR, "lineitem")
    df = (
        li.filter(F.expr(pred))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr(
                f"{fn} OVER (PARTITION BY {part} ORDER BY {order})"
            ).alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )
    oracle = f"""
    SELECT l_orderkey, l_linenumber, rk FROM (
      SELECT l_orderkey, l_linenumber,
             {fn} OVER (PARTITION BY {part} ORDER BY {order}) AS rk
      FROM lineitem WHERE {pred})
    WHERE rk <= 5
    """
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(
    pred=predicates(),
    ops=st.lists(
        st.sampled_from(["upper", "lower", "trim", "reverse"]),
        min_size=1,
        max_size=3,
    ),
    a=st.integers(1, 5),
    b=st.integers(1, 8),
)
def test_random_string_pipelines_match_duckdb(spark, pred, ops, a, b):
    """String-function composition sweep: chained case/trim/reverse
    transforms plus substr windows over concatenated key columns —
    the scalar-function surface where off-by-one (1-based substr)
    and empty-string semantics bite."""
    expr = "l_returnflag || '-' || l_linestatus || '-' " \
           "|| CAST(l_orderkey AS STRING)"
    for op in ops:
        expr = f"{op}({expr})"
    expr = f"substr({expr}, {a}, {b})"
    li = read_table(spark, SF_DIR, "lineitem")
    df = (
        li.filter(F.expr(pred))
        .select(F.expr(expr).alias("s"))
        .groupBy("s")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
    )
    oracle = f"""
    SELECT {expr} AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE {pred} GROUP BY s
    """
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(
    pred=predicates(),
    part=st.sampled_from(_STR_COLS),
    fn=st.sampled_from(["SUM", "MIN", "MAX", "COUNT"]),
    direction=st.sampled_from(["ASC", "DESC"]),
    prec=st.integers(0, 5),
    foll=st.integers(0, 5),
    unbounded=st.sampled_from(["none", "prec", "foll"]),
)
def test_random_frame_aggregates_match_duckdb(
    spark, pred, part, fn, direction, prec, foll, unbounded
):
    """Window FRAME sweep: running/sliding aggregates over random
    ROWS frames — the frame-boundary arithmetic (x PRECEDING /
    y FOLLOWING / UNBOUNDED, inclusive bounds) where off-by-one
    disagreements between engines would hide.  The aggregated column
    is exact integer cents, and the ORDER BY tie-break ends in that
    SAME cents column: (l_orderkey, l_linenumber) is NOT unique in
    the synthetic lineitem (first fuzz run proved it — tied rows
    carried different prices and the two engines ordered them
    differently), so the sort must make tied rows interchangeable
    w.r.t. every output column for frames to be deterministic."""
    lo = "UNBOUNDED PRECEDING" if unbounded == "prec" else f"{prec} PRECEDING"
    hi = "UNBOUNDED FOLLOWING" if unbounded == "foll" else f"{foll} FOLLOWING"
    cents = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    arg = "*" if fn == "COUNT" else cents
    over = (
        f"{fn}({arg}) OVER (PARTITION BY {part} "
        f"ORDER BY l_quantity {direction}, l_orderkey, l_linenumber, {cents} "
        f"ROWS BETWEEN {lo} AND {hi})"
    )
    li = read_table(spark, SF_DIR, "lineitem")
    df = (
        li.filter(F.expr(pred))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr(f"CAST({over} AS BIGINT)").alias("v"),
        )
    )
    oracle = f"""
    SELECT l_orderkey, l_linenumber, CAST({over} AS BIGINT) AS v
    FROM lineitem WHERE {pred}
    """
    compare(df, oracle, SF_DIR)


@_FUZZ
@given(
    pred=predicates(),
    mode=st.sampled_from(["ROLLUP", "CUBE"]),
    cols=st.lists(
        st.sampled_from(
            ["l_returnflag", "l_linestatus", "qbucket"]
        ),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_random_rollup_cube_matches_duckdb(spark, pred, mode, cols):
    """Multi-granularity aggregation sweep: random ROLLUP/CUBE
    column sets (including a derived bucket column) with exact
    integer aggregates — exercises the Expand-generated null rows,
    subtotal ordering and grouping-column nullability semantics
    across engines.  No source column is nullable, so every NULL in
    the output is a rollup subtotal marker and must appear in the
    identical set of rows on both engines.

    KNOWN ENGINE DIVERGENCE (found by this sweep's first run): over
    an EMPTY input relation, DuckDB emits the grand-total row
    (COUNT=0 — the SQL-standard global-aggregate behavior of the ()
    grouping set) while Spark emits zero rows.  The HAVING clause
    normalizes that one case so the sweep stays exact on the rest of
    the space."""
    colspec = ", ".join(cols)
    sql = f"""
    SELECT {colspec},
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM (SELECT *, CAST(l_quantity AS INT) % 3 AS qbucket
          FROM lineitem WHERE {pred})
    GROUP BY {mode} ({colspec})
    HAVING COUNT(*) > 0
    """
    li = read_table(spark, SF_DIR, "lineitem")
    li.createOrReplaceTempView("lineitem")
    df = spark.sql(sql)
    compare(df, sql, SF_DIR)


@_FUZZ
@given(
    lpred=predicates(),
    opred=order_predicates(),
    form=st.sampled_from(["in", "not_in", "exists", "scalar_avg"]),
)
def test_random_subquery_predicates_match_duckdb(spark, lpred, opred, form):
    """Subquery-predicate sweep: IN / NOT IN / correlated EXISTS /
    scalar-aggregate comparisons with random predicates on both
    sides — decorrelation, empty-subquery semantics (IN over empty
    => false, NOT IN over empty => true, NULL scalar comparison =>
    filtered) must agree across engines.  The scalar form compares
    in EXACT integer cross-multiplied cents (x*count > sum) so no
    float average can sit on a comparison boundary."""
    if form == "in":
        sub = (f"l_orderkey IN (SELECT o_orderkey FROM orders "
               f"WHERE {opred})")
    elif form == "not_in":
        sub = (f"l_orderkey NOT IN (SELECT o_orderkey FROM orders "
               f"WHERE {opred})")
    elif form == "exists":
        sub = (f"EXISTS (SELECT 1 FROM orders WHERE "
               f"o_orderkey = l_orderkey AND ({opred}))")
    else:
        sub = (
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            f" * (SELECT COUNT(*) FROM orders WHERE {opred})"
            " > (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)"
            f" AS BIGINT)) AS BIGINT) FROM orders WHERE {opred})"
        )
    sql = f"""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM lineitem
    WHERE ({lpred}) AND ({sub})
    GROUP BY l_returnflag
    """
    read_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("lineitem")
    read_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders")
    compare(spark.sql(sql), sql, SF_DIR)


# dimension 9: set operations x per-engine date-function rendering.
# Spark and DuckDB spell date arithmetic differently (date_add vs
# + INTERVAL), so this dimension renders the SAME logical expression
# per engine — the first fuzz family where the two SQL texts differ.
_DATE_FNS = {
    # name -> (spark renderer, duckdb renderer); n is the free knob
    "shift_days": (
        lambda n: f"date_add(CAST(o_orderdate AS DATE), {n})",
        lambda n: (
            "CAST(CAST(o_orderdate AS DATE)"
            f" + ({n}) * INTERVAL 1 DAY AS DATE)"
        ),
    ),
    "add_months": (
        lambda n: f"add_months(CAST(o_orderdate AS DATE), {n})",
        lambda n: (
            "CAST(CAST(o_orderdate AS DATE)"
            f" + ({n}) * INTERVAL 1 MONTH AS DATE)"
        ),
    ),
    "trunc_month": (
        lambda n: "trunc(CAST(o_orderdate AS DATE), 'MM')",
        lambda n: "CAST(date_trunc('month', o_orderdate) AS DATE)",
    ),
    "last_day": (
        lambda n: "last_day(CAST(o_orderdate AS DATE))",
        lambda n: "last_day(CAST(o_orderdate AS DATE))",
    ),
}


@_FUZZ
@given(
    pred_a=order_predicates(),
    pred_b=order_predicates(),
    setop=st.sampled_from(
        ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
         "INTERSECT ALL", "EXCEPT ALL"]
    ),
    fn=st.sampled_from(sorted(_DATE_FNS)),
    n=st.integers(-45, 45),
)
def test_random_set_ops_with_dates_match_duckdb(
    spark, pred_a, pred_b, setop, fn, n
):
    """Set-operation sweep over date-derived keys: INTERSECT/EXCEPT/
    UNION (and their ALL multiset forms) between two randomly
    predicated scans of orders, keyed on a per-engine-rendered date
    expression — distinct-vs-multiset semantics, date arithmetic
    month-end clamping (add_months / + INTERVAL MONTH), and
    trunc/last_day edge dates must agree exactly across engines."""
    render_spark, render_duck = _DATE_FNS[fn]
    sd, dd = render_spark(n), render_duck(n)

    def body(dexpr, datefmt):
        # render the date key as an ISO string IN the query: pandas
        # has no date dtype, so a raw DATE column round-trips as
        # datetime64 from DuckDB but object(date) from Spark and the
        # exact comparison would diff on formatting, not semantics
        return (
            f"SELECT {datefmt.format(d=dexpr)} AS d, "
            f"o_orderpriority AS prio "
            f"FROM orders WHERE {pred_a} "
            f"{setop} "
            f"SELECT {datefmt.format(d=dexpr)} AS d, "
            f"o_orderpriority AS prio "
            f"FROM orders WHERE {pred_b}"
        )

    read_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders")
    compare(
        spark.sql(body(sd, "date_format({d}, 'yyyy-MM-dd')")),
        body(dd, "strftime({d}, '%Y-%m-%d')"),
        SF_DIR,
    )


# dimension 10: aggregation grouped on per-engine-rendered date keys
# (reuses dimension 9's renderers — GROUP BY pushes the rendered
# expression through partial aggregation, a different plan shape
# from the set-op scan).
@_FUZZ
@given(
    pred=order_predicates(),
    fn=st.sampled_from(sorted(_DATE_FNS)),
    n=st.integers(-45, 45),
)
def test_random_date_key_aggregation_matches_duckdb(spark, pred, fn, n):
    """Group-by over a date-derived key: per-engine date arithmetic
    feeding a partial-aggregated GROUP BY with exact integer cents —
    month-end clamping and trunc boundaries must bucket identically
    across engines."""
    render_spark, render_duck = _DATE_FNS[fn]

    def body(dexpr, datefmt):
        return (
            f"SELECT {datefmt.format(d=dexpr)} AS d_key, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) "
            "AS BIGINT) AS cents "
            f"FROM orders WHERE {pred} GROUP BY d_key"
        )

    read_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders")
    compare(
        spark.sql(body(render_spark(n), "date_format({d}, 'yyyy-MM-dd')")),
        body(render_duck(n), "strftime({d}, '%Y-%m-%d')"),
        SF_DIR,
    )


# dimension 11: nested CASE WHEN expression trees inside aggregates
# (conditional aggregation is the catalog's single most-used idiom —
# dq_report, funnel, erasure, WOE all build on it; this dimension
# sweeps the composition space of predicate x branch-value x
# aggregate where short-circuit and null-branch semantics could
# diverge).
@st.composite
def case_exprs(draw):
    """A random 2-3-branch CASE WHEN over portable leaves, producing
    an exact integer (cents or constant) per branch; ELSE optional
    (NULL fallthrough exercises null-skipping aggregate semantics)."""
    n_branches = draw(st.integers(1, 3))
    branches = []
    for _ in range(n_branches):
        c = draw(st.sampled_from(_NUM_COLS))
        op = draw(st.sampled_from(_CMP))
        v = round(draw(st.floats(0, 100)), 2)
        val = draw(
            st.sampled_from(
                [
                    "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)",
                    "CAST(l_quantity AS BIGINT)",
                    str(draw(st.integers(-5, 5))),
                ]
            )
        )
        branches.append(f"WHEN {c} {op} {v} THEN {val}")
    has_else = draw(st.booleans())
    else_part = " ELSE 0" if has_else else ""  # no ELSE -> NULL
    return "CASE " + " ".join(branches) + else_part + " END"


@_FUZZ
@given(
    pred=predicates(),
    cexpr=case_exprs(),
    agg=st.sampled_from(["SUM", "MIN", "MAX", "COUNT"]),
    grp=st.sampled_from(_STR_COLS),
)
def test_random_case_when_aggregates_match_duckdb(
    spark, pred, cexpr, agg, grp
):
    """Nested CASE WHEN trees feeding SUM/MIN/MAX/COUNT: branch
    ordering, missing-ELSE NULL fallthrough (NULLs must be skipped by
    the aggregate, and an all-NULL group must yield NULL for
    SUM/MIN/MAX but 0 for COUNT) and predicate short-circuiting must
    agree exactly."""
    body = (
        f"SELECT {grp}, "
        f"CAST({agg}({cexpr}) AS BIGINT) AS agg_val, "
        "CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM lineitem WHERE {pred} GROUP BY {grp}"
    )
    read_table(spark, SF_DIR, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    compare(spark.sql(body), body, SF_DIR)


# dimension 12: integer arithmetic expression trees with per-engine
# division rendering.  Spark's `div` truncates toward zero while
# DuckDB's `//` FLOORS — they disagree on every negative quotient —
# so the tree renders trunc-division per engine (Spark `a div b`,
# DuckDB trunc over exact double); `%` is C-style remainder on both.
# Leaves are small exact integers (quantity, cents of discount/tax,
# constants), so products stay < ~5e3 and 60k-row sums < 2^31 — no
# overflow on either engine (ANSI DuckDB raises where Spark wraps,
# which is itself a divergence this dimension must stay clear of).
_INT_LEAVES = [
    "CAST(l_quantity AS BIGINT)",
    "CAST(ROUND(l_discount * 100, 0) AS BIGINT)",
    "CAST(ROUND(l_tax * 100, 0) AS BIGINT)",
]


@st.composite
def int_arith_exprs(draw):
    """(spark_sql, duck_sql) pair for one random arithmetic tree."""

    def leaf():
        if draw(st.booleans()):
            s = draw(st.sampled_from(_INT_LEAVES))
            return s, s
        c = str(draw(st.integers(1, 9)))
        return c, c

    def node(depth):
        if depth == 0 or draw(st.integers(0, 2)) == 0:
            return leaf()
        (ls, ld), (rs, rd) = node(depth - 1), node(depth - 1)
        op = draw(st.sampled_from(["+", "-", "*", "DIV", "%"]))
        if op in ("+", "-", "*"):
            return f"({ls} {op} {rs})", f"({ld} {op} {rd})"
        divisor = str(draw(st.integers(1, 97)))  # nonzero constant
        if op == "%":
            return f"({ls} % {divisor})", f"({ld} % {divisor})"
        return (
            f"({ls} div {divisor})",
            f"CAST(trunc(CAST({ld} AS DOUBLE) / {divisor}) AS BIGINT)",
        )

    return node(2)


@_FUZZ
@given(
    pred=predicates(),
    expr=int_arith_exprs(),
    agg=st.sampled_from(["SUM", "MIN", "MAX"]),
    grp=st.sampled_from(_STR_COLS),
)
def test_random_integer_arithmetic_matches_duckdb(
    spark, pred, expr, agg, grp
):
    """Random +,-,*,trunc-div,% trees over exact small integers:
    negative-quotient truncation, remainder sign, and aggregate
    widening must agree exactly once division renders per-engine."""
    s_expr, d_expr = expr
    s_body = (
        f"SELECT {grp}, CAST({agg}({s_expr}) AS BIGINT) AS agg_val "
        f"FROM lineitem WHERE {pred} GROUP BY {grp}"
    )
    d_body = (
        f"SELECT {grp}, CAST({agg}({d_expr}) AS BIGINT) AS agg_val "
        f"FROM lineitem WHERE {pred} GROUP BY {grp}"
    )
    read_table(spark, SF_DIR, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    compare(spark.sql(s_body), d_body, SF_DIR)


# dimension 13: the range-partitioned global rank + exact-NTILE
# arithmetic (operators/ranking.py) vs the engines' native
# ROW_NUMBER/NTILE — the round-6 shared ranking helper now backs
# decile_lift_table / vocab_coverage / rfm_segmentation, so its
# rank-permutation behavior under random predicates, tile counts,
# partition counts, and sort directions gets swept here.
@_FUZZ
@given(
    pred=predicates(),
    tiles=st.integers(2, 13),
    parts=st.integers(2, 24),
    direction=st.sampled_from(["ASC", "DESC"]),
)
def test_random_ranked_by_range_matches_native_ntile(
    spark, pred, tiles, parts, direction
):
    """ranked_by_range + ntile_expr must equal the native global
    NTILE/ROW_NUMBER for any filter, tile count, partition count and
    direction (total order fixed by the unique-ish key triple)."""
    from dados_publicos_etl_spark.operators.ranking import (
        ntile_expr,
        ranked_by_range,
    )

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .filter(F.expr(pred))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )
    order = [
        F.col("l_quantity").desc() if direction == "DESC" else F.col("l_quantity"),
        "l_discount",
        "l_orderkey",
        "l_linenumber",
    ]
    ranked, total, _ = ranked_by_range(li, order, num_partitions=parts)
    if total == 0:
        return
    got = ranked.select(
        "l_orderkey",
        "l_linenumber",
        F.col("rn"),
        ntile_expr("rn", total, tiles).alias("tile"),
    )
    oracle = f"""
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(NTILE({tiles}) OVER w AS INT) AS tile
    FROM lineitem WHERE {pred}
    WINDOW w AS (ORDER BY l_quantity {direction}, l_discount,
                 l_orderkey, l_linenumber)
    """
    compare(got, oracle, SF_DIR)


# dimension 14: the range-partitioned global RUNNING SUM
# (operators/ranking.ranked_by_range with one sum column) vs the
# engines' native SUM() OVER (ORDER BY ...) — the prefix-sum form of
# dimension 13 backs ks_test_twosample / equidepth_histogram /
# quantile_normalize_grid / pareto_revenue_curve, so its offset
# arithmetic gets swept under random predicates, partition counts,
# value columns, and sort directions.
@_FUZZ
@given(
    pred=predicates(),
    parts=st.integers(2, 24),
    vcol=st.sampled_from(["l_quantity", "l_extendedprice"]),
    direction=st.sampled_from(["ASC", "DESC"]),
)
def test_random_prefix_sums_match_native_window_sum(
    spark, pred, parts, vcol, direction
):
    """ranked_by_range's rank AND cumulative sum must equal the
    native global ROW_NUMBER + SUM() OVER for any filter, partition
    count, value column and direction (exact integer cents so no
    float accumulation enters the check)."""
    from dados_publicos_etl_spark.operators.ranking import ranked_by_range

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .filter(F.expr(pred))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col(vcol) * 100, 0).cast("long").alias("v"),
        )
    )
    order = [
        F.col("v").desc() if direction == "DESC" else F.col("v"),
        "l_orderkey",
        "l_linenumber",
    ]
    cum, total, _ = ranked_by_range(li, order, ["v"], num_partitions=parts)
    if total == 0:
        return
    got = cum.select("l_orderkey", "l_linenumber", "rn", F.col("cum_v").alias("cum"))
    oracle = f"""
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(SUM(CAST(ROUND({vcol} * 100, 0) AS BIGINT))
                OVER (ORDER BY CAST(ROUND({vcol} * 100, 0) AS BIGINT)
                      {direction}, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM lineitem WHERE {pred}
    WINDOW w AS (ORDER BY CAST(ROUND({vcol} * 100, 0) AS BIGINT)
                 {direction}, l_orderkey, l_linenumber)
    """
    compare(got, oracle, SF_DIR)


# dimension 15: EXPLODED computed-array pipelines — explode(Spark) vs
# unnest(DuckDB) over arrays BUILT IN the query (sequence / split /
# transform), then filtered and re-aggregated.  This is the plan
# shape behind every shingle/bigram/feature operator in the catalog,
# and the shape the session-wide InferFiltersFromGenerate exclusion
# (session.py) changes the physical plan of: the sweep proves the
# exclusion is results-invariant across random compositions, not
# just on the hand-written queries.  Inner explode drops empty
# arrays on both engines; all aggregates exact integers.
@_FUZZ
@given(
    pred=predicates(),
    src=st.sampled_from(["seq", "split", "transform"]),
    mod=st.integers(2, 9),
    post=st.integers(0, 3),
)
def test_random_exploded_arrays_match_duckdb(spark, pred, src, mod, post):
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .filter(F.expr(pred))
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("int").alias("n"),
            F.concat_ws(
                " ",
                "l_returnflag",
                "l_linestatus",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ).alias("s"),
        )
    )
    duck_s = (
        "(l_returnflag || ' ' || l_linestatus || ' ' "
        "|| CAST(l_orderkey AS VARCHAR) || ' ' "
        "|| CAST(l_linenumber AS VARCHAR))"
    )
    if src == "seq":
        arr = F.expr(f"sequence(1, n % {mod} + 1)")
        duck_arr = f"generate_series(1, (CAST(l_quantity AS INT) % {mod}) + 1)"
        vexpr, duck_v = F.col("v"), "u.v"
    elif src == "split":
        arr = F.split("s", " ")
        duck_arr = f"string_split({duck_s}, ' ')"
        vexpr, duck_v = F.length("v"), "length(u.v)"
    else:
        arr = F.expr(
            f"transform(sequence(1, n % {mod} + 1),"
            f" i -> i * {mod} + length(s))"
        )
        duck_arr = (
            f"list_transform(generate_series(1,"
            f" (CAST(l_quantity AS INT) % {mod}) + 1),"
            f" i -> i * {mod} + length({duck_s}))"
        )
        vexpr, duck_v = F.col("v"), "u.v"
    ex = li.select("l_returnflag", F.explode(arr).alias("v")).select(
        "l_returnflag", vexpr.cast("long").alias("val")
    )
    duck_where = ""
    if post:
        ex = ex.filter(F.col("val") % 4 == post % 4)
        duck_where = f"WHERE val % 4 = {post % 4}"
    got = ex.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").cast("long").alias("min_val"),
        F.max("val").cast("long").alias("max_val"),
    )
    oracle = f"""
    WITH ex AS (
      SELECT l_returnflag, CAST({duck_v} AS BIGINT) AS val
      FROM lineitem, unnest({duck_arr}) AS u(v)
      WHERE {pred}
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MIN(val) AS BIGINT) AS min_val,
           CAST(MAX(val) AS BIGINT) AS max_val
    FROM ex {duck_where}
    GROUP BY l_returnflag
    """
    compare(got, oracle, SF_DIR)


# dimension 16: THREE-WAY join chains (lineitem-orders-customer) with
# independent random predicates per table and a grouped exact-integer
# aggregate on top — the composition where Catalyst's join REORDERING
# and filter placement actually engage (two-way joins, dimension 3,
# never trigger a reorder).  Any divergence under reordering would be
# an engine-semantics bug the per-operator catalog cannot see.
@_FUZZ
@given(
    lpred=predicates(),
    opred=st.sampled_from([
        "o_totalprice > 50000", "o_totalprice <= 150000",
        "o_orderpriority = '1-URGENT'", "o_orderpriority <> '3-MEDIUM'",
    ]),
    cpred=st.sampled_from([
        "c_acctbal > 0", "c_acctbal <= 5000",
        "c_mktsegment = 'BUILDING'", "c_mktsegment <> 'MACHINERY'",
    ]),
    groupkey=st.sampled_from(["c_mktsegment", "o_orderpriority",
                              "l_returnflag"]),
)
def test_random_three_way_join_matches_duckdb(
    spark, lpred, opred, cpred, groupkey
):
    li = read_table(spark, SF_DIR, "lineitem").filter(F.expr(lpred))
    orders = read_table(spark, SF_DIR, "orders").filter(F.expr(opred))
    cust = read_table(spark, SF_DIR, "customer").filter(F.expr(cpred))
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(cust, orders.o_custkey == cust.c_custkey)
    got = j.groupBy(groupkey).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("sum_price_cents"),
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
    )
    oracle = f"""
    SELECT {groupkey},
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE ({lpred}) AND ({opred}) AND ({cpred})
    GROUP BY {groupkey}
    """
    compare(got, oracle, SF_DIR)
