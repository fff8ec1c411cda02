"""Pipeline orchestration (reference O1-O3).

The reference chains 8 Airflow tasks that hand state to each other
only via storage paths (/root/reference/dag.py:164; no XCom).  Here a
pipeline is ordered stages inside ONE SparkSession: each stage is
DataFrame -> DataFrame, so intermediate layer writes become optional
checkpoints instead of mandatory hops, and audit hooks ride along via
``df.observe`` instead of re-scanning.

The reference's full DAG re-expressed (see
tests/test_reference_pipeline.py for the executable version):

    Pipeline("dados_publicos", [
        Stage("raw->trusted",  clean_cnae),
        Stage("trusted",       checkpoint(csv: sep='|', bom=True)),
        Stage("refined",       checkpoint(parquet)),
        Stage("warehouse",     save_warehouse_table),
    ])
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dados_publicos_etl_spark.audit import observed_count


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class StageRun:
    stage: str
    rows: int
    seconds: float


@dataclass
class Pipeline:
    """Ordered DataFrame->DataFrame stages with per-stage audit.

    Unlike the reference (one Airflow task per step, each re-reading
    storage), stages pass DataFrames directly; Catalyst fuses
    adjacent narrow stages into one physical plan, and the observe-
    based audit costs no extra scan.
    """

    name: str
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self.stages.append(Stage(name, fn))
        return self

    def run(self, df: DataFrame) -> tuple[DataFrame, list[StageRun]]:
        """Apply stages in order; audit rows-through per stage.

        Each stage boundary forces an action only because we audit it;
        use :func:`run_stages` instead when you want a single fused
        Catalyst plan with no intermediate actions (the scale-default).
        """
        runs: list[StageRun] = []
        cur = df
        for st in self.stages:
            t0 = time.perf_counter()
            out = st.fn(cur)
            rows = observed_count(out, f"{self.name}.{st.name}")
            runs.append(
                StageRun(st.name, rows, round(time.perf_counter() - t0, 4))
            )
            cur = out
        return cur, runs


def run_stages(df: DataFrame, *fns: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """Fused (no-audit) composition: one Catalyst plan, zero extra
    actions — the scale-default."""
    for fn in fns:
        df = fn(df)
    return df
