"""The medallion lake on a non-local Hadoop URI.

``perfbench/etl.py``'s ``etl_medallion`` op sequence (ingest, clean,
trusted CSV with BOM, refined parquet, warehouse, audits, daily
partition overwrites, compaction, retention, versioned publish) runs on
a ``viewfs://`` mount over a local directory, and every op's result
equals the DuckDB ``etl.expected`` one.  ``viewfs`` ships with Hadoop,
so this exercises the lake's filesystem decision without a cluster: an
op that reaches for the local filesystem API instead of the session's
Hadoop ``FileSystem`` writes into a ``./viewfs:/...`` directory or
finds nothing to list.

The corpus queries read the corpus through the same filesystem:
``stream_true_streaming``, ``stream_cdc_upsert`` and
``scan_corrupt_tolerant`` run with ``sf_dir`` on a ``viewfs://`` mount
of ``SF_SMOKE`` and equal their DuckDB oracles, and the corpus
fingerprint that keys session artifacts lists the mount like the local
path.
"""

from __future__ import annotations

import os
import pathlib
import uuid

import pytest

from dados_publicos_etl_spark.plans import QUERIES
from dados_publicos_etl_spark.plans import catalog  # noqa: F401
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_etl_medallion_ops_on_a_viewfs_lake(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import check
    import etl
    import gen

    cnae_dir = gen.cnae(str(tmp_path / "inputs"), 917)
    want = etl.expected(cnae_dir, str(tmp_path / "landed"))
    # a mount-table name of its own: Hadoop caches a FileSystem per
    # URI authority, so the mount is read when this name is first used
    table = f"lake{uuid.uuid4().hex[:12]}"
    key = f"fs.viewfs.mounttable.{table}.link./lake"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set(key, (tmp_path / "lake").as_uri())
    (tmp_path / "lake").mkdir()
    got = {}
    try:
        for name, op in etl.ops(spark, cnae_dir, f"viewfs://{table}/lake"):
            got[name] = op()
    finally:
        spark.sql("DROP TABLE IF EXISTS cnae")
        conf.unset(key)
    for name, expected in want.items():
        if isinstance(expected, dict):
            assert got[name] == expected, name
        else:
            assert check.result_hash(got[name]) == check.result_hash(expected), name


@pytest.fixture
def viewfs_corpus(spark):
    """``SF_SMOKE`` mounted at ``viewfs://<fresh name>/sf``."""
    table = f"sf{uuid.uuid4().hex[:12]}"
    key = f"fs.viewfs.mounttable.{table}.link./sf"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set(key, pathlib.Path(SF_SMOKE).as_uri())
    yield f"viewfs://{table}/sf"
    conf.unset(key)


@pytest.mark.parametrize(
    "name", ["stream_true_streaming", "stream_cdc_upsert", "scan_corrupt_tolerant"]
)
def test_corpus_queries_on_a_viewfs_corpus(spark, viewfs_corpus, name):
    spec = QUERIES[name]
    compare(spec.fn(spark, viewfs_corpus), spec.oracle, SF_SMOKE)


def test_corpus_fingerprint_on_a_viewfs_corpus(spark, viewfs_corpus):
    from dados_publicos_etl_spark.tmpstore import corpus_fingerprint

    remote = corpus_fingerprint(viewfs_corpus)
    local = corpus_fingerprint(SF_SMOKE)
    assert remote is not None and remote
    assert [(n, size) for n, _, size in remote] == [
        (n, size) for n, _, size in local
    ]
