"""The bounded-round rule (``tmpstore.Rounds``), the shared observed
checkpoint and the scoped session conf.

A convergence loop that spends its round bound raises
``FixpointNotReached`` instead of returning a truncated state; a state
already at its fixpoint when the bound is spent returns."""

from __future__ import annotations

import pytest

from dados_publicos_etl_spark import tmpstore
from dados_publicos_etl_spark.plans import catalog  # noqa: F401
from dados_publicos_etl_spark.plans.registry import QUERIES
from dados_publicos_etl_spark.session import scoped_conf
from dados_publicos_etl_spark.tmpstore import FixpointNotReached, Rounds
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare


def test_rounds_contract(monkeypatch):
    def run(bound: int, changing: int) -> int:
        rounds = Rounds("q", bound)
        for r in rounds:
            if rounds.fixpoint(r > changing):
                return r
        raise AssertionError("the loop ran out without a decision")

    assert run(3, 1) == 2
    assert run(3, 3) == 4  # at the fixpoint when the bound is spent
    with pytest.raises(FixpointNotReached) as err:
        run(3, 4)
    assert isinstance(err.value, RuntimeError)
    assert (err.value.query, err.value.bound) == ("q", 3)

    monkeypatch.setattr(tmpstore, "reroot", lambda df, purpose: (df, purpose))
    rounds = Rounds("q", 9)
    cut = [r for r in rounds if rounds.cut("s", "p") != "s"]
    assert cut == [4, 8]


def test_checkpoint_observed_rides_one_job(spark):
    from pyspark.sql import functions as F

    from tests.conftest import next_job_id

    j0 = next_job_id(spark)
    df, seen = tmpstore.checkpoint_observed(
        spark.range(10), n=F.count(F.lit(1)), mx=F.max("id")
    )
    assert next_job_id(spark) - j0 == 1
    assert seen == {"n": 10, "mx": 9}
    assert df.count() == 10
    _df, seen = tmpstore.checkpoint_observed(spark.range(0), mx=F.max("id"))
    assert seen == {"mx": None}


def _tail_graph(spark):
    """Triangle {1,2,3} with the tail 3-4-...-9 (weights alternate, so
    Borůvka pairs the tail up in round 1 and needs a second round)."""
    edges = [(1, 2, 5), (1, 3, 6), (2, 3, 7)] + [
        (i, i + 1, 10 if i % 2 else 1) for i in range(3, 9)
    ]
    return spark.createDataFrame(edges, "u long, v long, w long")


def test_connected_components_raises_past_max_iter(spark):
    from dados_publicos_etl_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "src long, dst long"
    )
    with pytest.raises(FixpointNotReached, match="connected_components"):
        connected_components(chain, max_iter=1)
    assert {r.label for r in connected_components(chain).collect()} == {1}


def test_k_core_peel_raises_past_its_round_bound(spark, monkeypatch):
    import dados_publicos_etl_spark.operators.graph as G

    monkeypatch.setattr(G, "_copurchase_edges", lambda s, d: _tail_graph(s))
    want = {9: 1, 8: 2, 7: 3, 6: 4, 5: 5, 4: 6, 1: 0, 2: 0, 3: 0}
    for bound in (G._KC_ROUNDS, 6):  # 6 = the peel's own round count
        monkeypatch.setattr(G, "_KC_ROUNDS", bound)
        got = {
            r.l_partkey: r.peel_round
            for r in G.k_core_peel(spark, "unused").collect()
        }
        assert got == want, bound
    monkeypatch.setattr(G, "_KC_ROUNDS", 5)
    with pytest.raises(FixpointNotReached, match="k_core_peel"):
        G.k_core_peel(spark, "unused")


def test_boruvka_msf_raises_past_its_round_bound(spark, monkeypatch):
    import dados_publicos_etl_spark.operators.graph as G

    monkeypatch.setattr(G, "_copurchase_edges", lambda s, d: _tail_graph(s))
    for bound in (G._MSF_MAX_ROUNDS, 2):  # 2 = the contraction's rounds
        monkeypatch.setattr(G, "_MSF_MAX_ROUNDS", bound)
        got = {
            (r.u, r.v, r.round_added)
            for r in G.boruvka_msf(spark, "unused").collect()
        }
        assert got == {
            (1, 3, 1), (2, 3, 1), (3, 4, 1), (5, 6, 1), (7, 8, 1),
            (8, 9, 1), (4, 5, 2), (6, 7, 2),
        }, bound
    monkeypatch.setattr(G, "_MSF_MAX_ROUNDS", 1)
    with pytest.raises(FixpointNotReached, match="boruvka_msf"):
        G.boruvka_msf(spark, "unused")


def test_k_truss_raises_past_its_round_bound(spark, monkeypatch):
    """The fixture's peel needs 5 rounds at SF_SMOKE (the shipped bound
    of 8 is pinned by test_k_truss_rounds_reach_fixpoint)."""
    import dados_publicos_etl_spark.operators.graph as G

    monkeypatch.setattr(G, "_TRUSS_ROUNDS", 2)
    with pytest.raises(FixpointNotReached, match="k_truss_edges"):
        G.k_truss_edges(spark, SF_SMOKE)


# queries whose oracle answers an empty corpus with rows: one row of
# NULLs of an ungrouped aggregate, or one zero-coverage row per
# vocabulary size
_EMPTY_ROWS = {
    "diff_in_diff": 1,
    "mann_whitney_u": 1,
    "theil_sen_trend": 1,
    "vocab_coverage": 5,
}


@pytest.mark.parametrize(
    "name",
    [
        "hits_authorities",
        "pagerank_suppliers",
        "similarity_topk",
        "similarity_filtered_topk",
        "hybrid_rrf_fusion",
        "similarity_ivf",
        "similarity_ivf_exact",
        "similarity_ivf_persisted",
        "similarity_ivfpq",
        "ivf_cell_balance",
        "stream_ann_probe",
        "kmeans_lloyd_exact",
        "stream_topk_windows",
        "stream_late_drop",
        "stream_stream_outer_join",
        "stream_kl_drift",
        "diff_in_diff",
        "sequence_gap_audit",
        "mann_whitney_u",
        # the range-partitioned rank and running sums (operators/ranking.py)
        "ks_test_twosample",
        "nb_score_reliability",
        "decile_lift_table",
        "rfm_segmentation",
        "pareto_revenue_curve",
        "pareto_frontier",
        "vocab_coverage",
        "equidepth_histogram",
        "quantile_normalize_grid",
        "global_row_number",
        "training_shard_assignment",
        "shard_manifest_checksum",
        "token_stream_offsets",
        "token_budget_curation",
        "corpus_global_shuffle",
        "theil_sen_trend",
        "pmi_collocations",
        # the banded LSH consumers (operators/lsh.py)
        "dedup_minhash_lsh",
        "dedup_minhash_incremental",
        "minhash_calibration",
        "excerpt_containment_mining",
        "dedup_simhash",
        "image_neardup_dhash",
        "dedup_embedding_ann",
        "contrastive_pair_mining",
        "similarity_ann_lsh",
    ],
)
def test_hits_authorities_on_zero_rows(spark, zero_row_sf_dir, name):
    """An empty graph has no maximum authority (None) and no node
    count (0); an empty embeddings table has no ``vec_id = 0`` query
    vector, trains no IVF cell and seeds no k-means cell; an empty
    events or orders table has no time or key bounds and writes an
    empty micro-batch feed; an empty relation ranks with no range
    partition, no offset and zero totals (and no pair: a NULL pair
    count); an empty corpus has no bigram, signature, band or
    candidate pair: each query returns the oracle's answer — zero
    rows, or the rows of ``_EMPTY_ROWS`` — not rows of NULL scores, a
    ``ZeroDivisionError``, a ``TypeError``, a ``ValueError``, an
    ``AttributeError`` or a numpy ``AxisError``."""
    spec = QUERIES[name]
    out = spec.fn(spark, zero_row_sf_dir)
    assert out.count() == _EMPTY_ROWS.get(name, 0)
    compare(out, spec.oracle, zero_row_sf_dir)


def test_ks_test_twosample_with_one_empty_sample(spark, tmp_path):
    """With no order of the first priority the KS distance between the
    two samples is undefined: ``d_stat`` and ``ks_lambda`` are NULL,
    as in the oracle, not a Spark ``DIVIDE_BY_ZERO``."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dados_publicos_etl_spark.plans.stats2 import _KS_A

    for name in sorted(os.listdir(SF_SMOKE)):
        src = os.path.join(SF_SMOKE, name)
        if name == "orders.parquet":
            table = pq.read_table(src)
            keep = pc.not_equal(table.column("o_orderpriority"), _KS_A)
            pq.write_table(table.filter(keep), str(tmp_path / name))
        elif name.endswith(".parquet"):
            os.symlink(src, tmp_path / name)
    spec = QUERIES["ks_test_twosample"]
    out = spec.fn(spark, str(tmp_path))
    (row,) = out.collect()
    assert row.n1 == 0 and row.n2 > 0
    assert row.d_stat is None and row.ks_lambda is None
    compare(out, spec.oracle, str(tmp_path))


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """A key the session had is put back, a key it lacked is unset
    (the restore-on-raise case is test_iterative_shuffle_scopes_and_
    restores)."""
    key, unset = "spark.sql.shuffle.partitions", "spark.graft.test.scoped"
    before = spark.conf.get(key)
    with scoped_conf(spark, {key: "3", unset: "x"}):
        assert (spark.conf.get(key), spark.conf.get(unset)) == ("3", "x")
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset, None) is None
