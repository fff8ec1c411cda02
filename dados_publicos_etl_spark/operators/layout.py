"""Multi-dimensional data layout (Z-order clustering).

Partitioning prunes on ONE column hierarchy; real queries mix filters
on several (customer AND price band, date AND region).  Z-ordering
interleaves the bits of multiple sort keys into one clustering key so
that a range predicate on ANY participating column maps to a bounded
set of parquet files / row groups — the min/max footer stats stay
selective for every dimension at once, where a plain lexicographic
sort is only selective for its leading column.  This is the technique
Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``; here it is plain
Spark: quantile-rank each dimension, interleave bits with pure
expressions, ``repartitionByRange`` on the z-value (the one shuffle,
paid once at write time), sort within files, write parquet.

Scale notes baked into the design:

- Ranks come from ``approxQuantile`` boundaries (Greenwald-Khanna,
  distributed, bounded error) — NOT a global-order window, which
  would funnel every row through one partition.  Quantile (not
  linear min/max) bucketing keeps the z-curve balanced under skew.
- The boundary list is 2^bits-1 floats captured in the expression
  closure — kilobytes, broadcast with the task.
- Bucketing + interleaving are Catalyst expressions end to end; no
  Python on the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dados_publicos_etl_spark.tmpstore import Table, open_table, write_table

Z_BITS = 8  # bits per dimension (2 dims -> 16-bit z-value, 256 ranks)


def bucket_rank(col: str, boundaries: list[float]) -> Column:
    """Quantile-bucket rank in [0, len(boundaries)]: the number of
    boundaries <= value, as one array fold (codegen-friendly; the
    boundary array is a literal in the plan)."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc
        + F.when(F.col(col).cast("double") >= b, 1).otherwise(0),
    ).cast("long")


def z_value(rank_a: Column, rank_b: Column, bits: int = Z_BITS) -> Column:
    """Interleave two ``bits``-wide integer ranks into a z-value.

    Bit i of each rank lands at position 2i / 2i+1 — a pure
    shift/mask/or expression tree, fully codegen'd.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(rank_a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(rank_b, i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(bit_a, 2 * i))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = Z_BITS,
) -> Table:
    """Write ``df`` as parquet clustered on the z-order of numeric
    columns (``col_a``, ``col_b``); returns the table handle.

    Build cost: two approxQuantile passes (distributed sketches) +
    one range shuffle.  Read payoff: each output file covers a
    compact z-range, so its footer min/max for BOTH columns spans a
    fraction of the domain and a selective filter on either column
    skips most files — asserted quantitatively in
    ``tests/test_sources_warehouse.py``.
    """
    qs = [i / (1 << bits) for i in range(1, 1 << bits)]
    ba = df.approxQuantile(col_a, qs, 0.001)
    bb = df.approxQuantile(col_b, qs, 0.001)
    with_z = df.withColumn(
        "_z",
        z_value(bucket_rank(col_a, ba), bucket_rank(col_b, bb), bits),
    )
    return write_table(
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z"),
        path,
    )


# ---------------------------------------------------------------------------
# Globally-sorted export with an order-proving manifest
# ---------------------------------------------------------------------------


def write_globally_sorted(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    num_files: int = 8,
) -> tuple[Table, DataFrame]:
    """Write ``df`` as a GLOBALLY sorted parquet layout: range
    partitions are globally ordered, rows sort within each file, so
    file k's max key <= file k+1's min key — a total order across the
    dataset with NO single-task sort (repartitionByRange + local
    sortWithinPartitions, the write-side sibling of
    ranking.ranked_by_range).

    This is the layout downstream binary-searchable consumers want
    (merge readers, sorted-export interchange, sequential samplers):
    any range predicate on the leading key prunes to the files whose
    [min, max] overlap, and k-way-merge reads need no re-sort.

    Returns the table handle and the manifest: one row per file with
    (file, n_rows, min_key, max_key) on the leading order column,
    computed in ONE job over input_file_name() — the caller can
    persist it beside the data as the pruning index.
    """
    table = write_table(
        df.repartitionByRange(num_files, *order_cols)
        .sortWithinPartitions(*order_cols),
        path,
    )
    lead = order_cols[0]
    manifest = (
        open_table(df.sparkSession, table)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(lead).alias("min_key"),
            F.max(lead).alias("max_key"),
        )
        .orderBy("min_key")
    )
    return table, manifest
