"""Banded LSH candidate generation, shared by every near-dup tier.

A signature is split into bands; two rows are candidates when they
agree on any whole band.  Every banded operator in the package —
portable MinHash (operators/dedup.py), SimHash chunks, image dHash
bands (operators/multimodal.py) and the Rademacher sign-projection
tables (operators/similarity.py) — keys its rows by the one pair
``(band_idx, band_hash)`` and pairs them through ``candidate_pairs``:
a shuffle on the band bucket, never a cross join.

This module imports only PySpark, so dedup, similarity and multimodal
can all import it at module level.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_table(
    df: DataFrame, keep: Sequence[str], hashes: Sequence[Column]
) -> DataFrame:
    """One row per input row and band: the ``keep`` columns,
    ``band_idx`` (the band's position in ``hashes``) and ``band_hash``
    (that band's expression).  The bands are one explode of a struct
    array, a narrow map over ``df``."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"), h.alias("band_hash")
                    )
                    for bi, h in enumerate(hashes)
                ]
            )
        ).alias("band"),
    ).select(*keep, "band.band_idx", "band.band_hash")


def candidate_pairs(
    bands: DataFrame, id_col: str, carry: Sequence[str] = ()
) -> DataFrame:
    """The distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, of rows
    of ``bands`` that share a ``(band_idx, band_hash)`` bucket, with
    each ``carry`` column of the two rows as ``<c>_a`` / ``<c>_b``.

    Materialize ``bands`` (checkpoint or persisted scan) before the
    call when it is expensive: both join sides read it."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[
                F.col(f"{side}.{c}").alias(f"{c}_{side}")
                for c in carry
                for side in ("a", "b")
            ],
        )
        .distinct()
    )
