"""Range-partitioned global ranking — the ROW_NUMBER that scales.

A global ``ROW_NUMBER() OVER (ORDER BY ...)`` (no PARTITION BY) plans
as one ``Exchange SinglePartition`` + one task sorting the whole
relation — the classic 100 TB killer: at cluster scale one executor
sorts the corpus while the rest idle.  The scalable shape, built once
in :func:`_ranged` and shared by every rank, running sum and running
max of the catalog:

1. ``repartitionByRange`` on the sort key — range partitions are
   GLOBALLY ordered, so partition p's rows all rank before
   partition p+1's;
2. materialize that layout (two jobs must see the SAME sampled range
   bounds);
3. aggregate each range partition (row count, value sums, value max)
   — a P-row driver-side collect;
4. fold those rows into per-partition offsets (rows and values of
   every EARLIER partition), broadcast them, and merge each with the
   partition-LOCAL window (``row_number``, running sum, running max
   over ``__rbr_pid``) — every partition ranks independently; the
   only global step is the P-row offset scan.

:func:`ranked_by_range` is the rank with 0..n running sums;
:func:`prefix_max_by_range` the strictly-preceding running max.

The reference has no distributed ranking operator (its pandas
``rank()`` equivalents are single-node); this module exists for the
§2.B analytics surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

_DEFAULT_PARTS = 16


def _ranged(
    df: DataFrame,
    order: list[Column | str],
    num_partitions: int,
    *aggs: Column,
) -> tuple[DataFrame, list[Row]]:
    """The range-partitioned layout of ``df`` under ``order``, with its
    partition id ``__rbr_pid``, and the ``(__rbr_pid, *aggs)`` row of
    every non-empty range partition, in partition order.

    The layout is localCheckpoint-materialized so the statistics job
    and the consumer's job read the SAME physical partitioning
    (``repartitionByRange`` samples range boundaries; two independent
    executions could draw different bounds).  On a real cluster,
    persist the ranged layout to storage instead — identical two-job
    shape, and the layout is reusable by any downstream consumer.
    """
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__rbr_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    stats = sorted(
        ranged.groupBy("__rbr_pid").agg(*aggs).collect(),
        key=lambda r: r["__rbr_pid"],
    )
    return ranged, stats


def ranked_by_range(
    df: DataFrame,
    order: list[Column | str],
    sums: Sequence[str] = (),
    num_partitions: int = _DEFAULT_PARTS,
) -> tuple[DataFrame, int, tuple[int, ...]]:
    """Append a global 1-based ``rn`` and, per integral column ``c``
    of ``sums``, the global running sum ``cum_<c>`` to ``df`` under
    the total order ``order`` — with NO SinglePartition exchange.

    Returns ``(df + rn + cum_<c>..., total_rows, (total_<c>, ...))``:
    the row count and every column's grand total come free from the
    offset scan.  ``order`` must be a deterministic total order
    (include a tie-break key), or ranks are not reproducible.  This
    is also the scalable form of ``SUM(c) OVER (ORDER BY ...)``, whose
    naive plan sorts the whole relation in one task; ``sums`` must be
    integral (exact merge; float offsets would reorder additions).
    """
    ranged, stats = _ranged(
        df,
        order,
        num_partitions,
        F.count(F.lit(1)),
        *[F.sum(c) for c in sums],
    )
    offsets: list[tuple] = []
    acc_n, acc_v = 0, [0] * len(sums)
    for pid, n, *s in stats:
        offsets.append((pid, acc_n, *acc_v))
        acc_n += n
        acc_v = [a + (v or 0) for a, v in zip(acc_v, s)]
    off = df.sparkSession.createDataFrame(
        offsets,
        "__rbr_pid int, __rbr_off long"
        + "".join(f", __rbr_voff_{i} long" for i in range(len(sums))),
    )
    w = Window.partitionBy("__rbr_pid").orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    local = {"__rbr_local": F.row_number().over(w)}
    merged = {"rn": (F.col("__rbr_local") + F.col("__rbr_off")).cast("long")}
    for i, c in enumerate(sums):
        local[f"__rbr_vlocal_{i}"] = F.sum(c).over(wcum)
        merged[f"cum_{c}"] = (
            F.col(f"__rbr_vlocal_{i}") + F.col(f"__rbr_voff_{i}")
        ).cast("long")
    ranked = (
        ranged.withColumns(local)
        .join(F.broadcast(off), "__rbr_pid")
        .withColumns(merged)
        .drop("__rbr_pid", *local, *off.columns[1:])
    )
    return ranked, acc_n, tuple(acc_v)


def ntile_expr(rn_col: str, n_rows: int, n_tiles: int) -> Column:
    """Exact ``NTILE(n_tiles)`` as a pure expression over a global
    rank — the piecewise formula both Spark and DuckDB implement:
    the first ``n_rows % n_tiles`` tiles get ``n_rows // n_tiles + 1``
    rows, the rest get ``n_rows // n_tiles``.

    Lets NTILE ride the range-partitioned rank instead of a
    SinglePartition window: tile membership is row-local arithmetic
    once the rank exists.
    """
    q, r = divmod(int(n_rows), int(n_tiles))
    cut = r * (q + 1)
    if q == 0:
        # fewer rows than tiles: every row is its own tile
        return F.col(rn_col).cast("int")
    return (
        F.expr(
            f"CASE WHEN {rn_col} <= {cut}"
            f" THEN ({rn_col} - 1) div {q + 1} + 1"
            f" ELSE {r} + ({rn_col} - {cut} - 1) div {q} + 1 END"
        )
    ).cast("int")


def prefix_max_by_range(
    df: DataFrame,
    order: list[Column | str],
    value_col: str,
    pre_col: str = "pre_max",
    num_partitions: int = _DEFAULT_PARTS,
) -> DataFrame:
    """Strictly-preceding running max of ``value_col`` under the
    total order ``order`` — ``MAX(v) OVER (ORDER BY ... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` — with NO SinglePartition
    exchange.  NULL for the globally-first row (empty frame), the
    exact window semantics.

    The same ranged layout as :func:`ranked_by_range`: each range
    partition computes its LOCAL strictly-preceding running max; a
    P-row driver scan turns per-partition maxes into "max of every
    EARLIER partition" offsets; ``greatest`` merges the two (Spark's
    ``greatest`` skips NULLs, returning NULL only when both frames
    are empty — precisely the empty-window contract).  Max is
    merge-order-independent, so unlike prefix sums this is exact for
    any orderable type.
    """
    ranged, stats = _ranged(df, order, num_partitions, F.max(value_col))
    offsets: list[tuple[int, object]] = []
    run = None
    for pid, m in stats:
        offsets.append((pid, run))
        if m is not None and (run is None or m > run):
            run = m
    val_type = ranged.schema[value_col].dataType.simpleString()
    off = df.sparkSession.createDataFrame(
        offsets, f"__rbr_pid int, __rbr_pmax {val_type}"
    )
    w = Window.partitionBy("__rbr_pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        ranged.withColumn("__rbr_lmax", F.max(value_col).over(w))
        .join(F.broadcast(off), "__rbr_pid")
        .withColumn(pre_col, F.greatest("__rbr_lmax", "__rbr_pmax"))
        .drop("__rbr_pid", "__rbr_lmax", "__rbr_pmax")
    )
