"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("SPARK_GRAFT_SF_CORRECT", "/root/testdata/sf0.01")


def next_job_id(spark) -> int:
    """The DAGScheduler's next job id: the difference across a call is
    the number of Spark jobs it ran."""
    return spark._jsparkSession.sparkContext().dagScheduler().nextJobId()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from dados_publicos_etl_spark.session import get_session

    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    spark = get_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def zero_row_sf_dir(tmp_path) -> str:
    """A corpus dir holding every ``SF_SMOKE`` table with its schema
    and zero rows: the degenerate input every query must survive."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(SF_SMOKE)):
        if name.endswith(".parquet"):
            table = pq.read_table(os.path.join(SF_SMOKE, name))
            pq.write_table(table.slice(0, 0), str(tmp_path / name))
    return str(tmp_path)


@pytest.fixture
def nanos_sf_dir(tmp_path) -> str:
    """A corpus dir holding every ``SF_SMOKE`` table, with ``events.ts``
    rewritten as parquet TIMESTAMP(NANOS): the unit another writer of
    the event table may use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(SF_SMOKE)):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(SF_SMOKE, name)
        if name == "events.parquet":
            table = pq.read_table(src)
            i = table.schema.get_field_index("ts")
            ts = table.column(i).cast(pa.timestamp("ns"))
            pq.write_table(table.set_column(i, "ts", ts), str(tmp_path / name))
        else:
            os.symlink(src, tmp_path / name)
    return str(tmp_path)
