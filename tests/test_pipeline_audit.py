"""Pipeline + audit unit tests (reference O1-O4 / A1-A4 / K7)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dados_publicos_etl_spark import audit
from dados_publicos_etl_spark.pipeline import Pipeline, run_stages
from dados_publicos_etl_spark.schemas import MONITORING
from tests.conftest import SF_SMOKE, next_job_id


def test_observe_counts_no_extra_scan(spark, sf_dir):
    from dados_publicos_etl_spark.io import read_table

    df = read_table(spark, sf_dir, "nation")
    observed, obs = audit.observe_counts(df)
    n = observed.count()
    assert obs.get["qtd_rows"] == n == 25


def test_count_layer_matches_direct_count(spark, sf_dir):
    files, rows = audit.count_layer(spark, f"{sf_dir}/region.parquet")
    assert files == 1
    assert rows == spark.read.parquet(f"{sf_dir}/region.parquet").count()


def _layers(spark, root) -> list[tuple[str, str, dict]]:
    """A raw CSV, a header CSV and a parquet layer of 1000 rows each."""
    df = spark.range(1000).selectExpr("id AS a", "CAST(id AS STRING) AS b")
    df.repartition(3).write.option("sep", ";").csv(f"{root}/raw")
    (df.repartition(2).write.option("sep", "|").option("header", "true")
     .csv(f"{root}/trusted"))
    df.repartition(2).write.parquet(f"{root}/refined")
    return [
        (f"{root}/raw", "csv", {"sep": ";"}),
        (f"{root}/trusted", "csv", {"sep": "|", "header": "true"}),
        (f"{root}/refined", "parquet", {}),
    ]


def test_count_layer_job_budget(spark, tmp_path, monkeypatch):
    """Opening a layer runs no job (no schema inference), and the
    whole count is one job."""
    for path, fmt, opts in _layers(spark, tmp_path):
        j0 = next_job_id(spark)
        files, rows = audit.count_layer(spark, path, fmt=fmt, **opts)
        assert next_job_id(spark) - j0 == 1, path
        assert (files, rows) == (len(glob.glob(f"{path}/part-*")), 1000)
        # stand in for the counting job: report the jobs run so far
        with monkeypatch.context() as m:
            j0 = next_job_id(spark)
            m.setattr(audit, "observed_count",
                      lambda df, name: next_job_id(spark) - j0)
            assert audit.count_layer(spark, path, fmt=fmt, **opts)[1] == 0, path


def test_audit_layer_with_sink_runs_one_job(spark, tmp_path):
    path, fmt, opts = _layers(spark, tmp_path)[1]
    j0 = next_job_id(spark)
    res = audit.audit_layer(spark, "p", "trusted", path, fmt=fmt,
                            sink_path=str(tmp_path / "monitoring"), **opts)
    assert next_job_id(spark) - j0 == 1
    assert res.qtd_rows == 1000


def test_count_layer_counts_listed_files(spark, tmp_path, zero_row_sf_dir):
    """The file count is the layer's listing, as the reference's blob
    listing is: an empty file is a file.  Zero-row layers count
    without raising, including a partitioned write of zero rows,
    which leaves no data file to infer a schema from."""
    empty_csv = tmp_path / "empty_csv"
    empty_csv.mkdir()
    (empty_csv / "part-0.csv").write_text("")
    assert audit.count_layer(spark, str(empty_csv), fmt="csv") == (1, 0)
    assert audit.count_layer(spark, f"{zero_row_sf_dir}/nation.parquet") == (1, 0)
    no_files = str(tmp_path / "no_files")
    (spark.range(0).selectExpr("id", "'x' AS p")
     .write.partitionBy("p").parquet(no_files))
    assert audit.count_layer(spark, no_files) == (0, 0)


def test_monitoring_row_schema_and_sink(spark, tmp_path):
    sink = str(tmp_path / "monitoring")
    for step in ("raw", "trusted"):
        res = audit.audit_layer(
            spark,
            nm_project="dados-publicos",
            step=step,
            path=f"{SF_SMOKE}/nation.parquet",
            sink_path=sink,
        )
        assert (res.qtd_files, res.qtd_rows) == (1, 25)
    sunk = spark.read.parquet(sink)
    # parquet round-trip relaxes nullability; compare names + types
    assert [(f.name, f.dataType) for f in sunk.schema.fields] == [
        (f.name, f.dataType) for f in MONITORING.fields
    ]
    rows = sunk.collect()
    assert sorted(r.STEP for r in rows) == ["raw", "trusted"]
    assert {(r.NM_PROJECT, r.QTD_FILES, r.QTD_ROWS) for r in rows} == {
        ("dados-publicos", 1, 25)
    }
    ids = {r.ID_MONITORING for r in rows}
    assert len(ids) == 2 and all(len(i) == 36 for i in ids)  # uuid4 text
    assert not [f for f in os.listdir(sink) if f.startswith("_")]


def test_compact_partitions_job_budget(spark, tmp_path):
    """The dataset schema comes from one footer and the partition
    listing (no job), then per over-split partition one checkpoint job
    and one write job: 2P."""
    from dados_publicos_etl_spark.io import compact_partitions

    out = str(tmp_path / "parts")
    (spark.range(300).selectExpr("id", "CAST(id % 3 AS STRING) AS p")
     .repartition(4).write.partitionBy("p").parquet(out))
    j0 = next_job_id(spark)
    todo = compact_partitions(spark, out, ["p"], min_files_to_compact=2)
    assert len(todo) == 3
    assert next_job_id(spark) - j0 == 2 * 3
    back = spark.read.parquet(out)
    assert back.count() == 300 and dict(back.dtypes)["p"] == "int"


def test_pipeline_stage_audit(spark, sf_dir):
    from dados_publicos_etl_spark.io import read_table

    df = read_table(spark, sf_dir, "orders")
    pipe = (
        Pipeline("test")
        .add("filter_open", lambda d: d.filter(F.col("o_orderstatus") == "O"))
        .add("project", lambda d: d.select("o_orderkey", "o_totalprice"))
    )
    out, runs = pipe.run(df)
    assert [r.stage for r in runs] == ["filter_open", "project"]
    assert runs[0].rows == runs[1].rows == out.count()
    assert out.columns == ["o_orderkey", "o_totalprice"]


def test_run_stages_fuses_without_actions(spark, sf_dir):
    from dados_publicos_etl_spark.io import read_table

    df = read_table(spark, sf_dir, "orders")
    out = run_stages(
        df,
        lambda d: d.filter(F.col("o_totalprice") > 0),
        lambda d: d.withColumn("year", F.year("o_orderdate")),
    )
    assert out.count() > 0 and "year" in out.columns


def test_catalog_md_matches_registry():
    """CATALOG.md is generated from the registry; a stale copy (a
    query added, dropped, re-described or re-checked) means the
    committed inventory lies about the query surface."""
    import os

    from tools.gen_catalog import render

    path = os.path.join(os.path.dirname(__file__), "..", "CATALOG.md")
    with open(path) as fh:
        assert fh.read() == render(), (
            "CATALOG.md is stale: run python tools/gen_catalog.py"
        )


def test_query_registry_rejects_a_duplicate_name():
    """A second ``@query`` of a registered name raises, naming the
    first registration, and leaves the first spec in place: one name
    runs one query, never whichever module imported last."""
    from dados_publicos_etl_spark.plans import QUERIES
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401
    from dados_publicos_etl_spark.plans.registry import query

    first = QUERIES["chi_square_independence"]
    with pytest.raises(ValueError, match="operators.quality"):
        query("chi_square_independence", oracle="SELECT 1")(
            lambda spark, sf_dir: None
        )
    assert QUERIES["chi_square_independence"] is first


def test_tempdir_pool_rolls_and_cleans():
    """TempDirPool keeps only the newest `keep` dirs per purpose
    (older ones deleted as new ones arrive) and cleanup_all removes
    everything — the bounded replacement for the per-round tempdir
    keep-lists the r5 ADVICE flagged."""
    import os

    from dados_publicos_etl_spark.tmpstore import TempDirPool

    pool = TempDirPool(keep=2)
    dirs = [pool.new_dir("test", "tp_test_") for _ in range(5)]
    assert not os.path.exists(dirs[0]) and not os.path.exists(dirs[2])
    assert os.path.exists(dirs[3]) and os.path.exists(dirs[4])
    # independent purposes roll independently
    other = pool.new_dir("other", "tp_other_")
    assert os.path.exists(dirs[4]) and os.path.exists(other)
    pool.cleanup_all()
    assert not os.path.exists(dirs[4]) and not os.path.exists(other)
