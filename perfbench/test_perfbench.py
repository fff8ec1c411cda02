"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from check import result_hash  # noqa: E402


# op_tail_s rule and the quantile estimate

@pytest.mark.parametrize("n", [40, 53, 100])
def test_tail_keeps_ten_ops_beyond_once_there_are_enough(n):
    assert run.tail_level(n) * n == pytest.approx(n - 10)


@pytest.mark.parametrize("n,beyond", [(6, 1), (8, 2), (15, 3), (30, 7), (39, 9)])
def test_tail_never_drops_below_the_75th_percentile(n, beyond):
    assert run.tail_level(n) * n == pytest.approx(n - beyond)
    assert run.tail_level(n) >= 0.75


def test_tail_of_one_op_is_that_op():
    assert run.tail_level(1) == 1.0
    assert run.hd_quantile([2.5], run.tail_level(1)) == 2.5


def test_hd_quantile_is_a_smooth_quantile():
    xs = [float(i) for i in range(1, 16)]
    assert run.hd_quantile([0.7] * 9, 0.5) == pytest.approx(0.7)
    assert run.hd_quantile(xs, 0.5) == pytest.approx(8.0)  # symmetric sample
    levels = [0.25, 0.5, 0.8, 0.9]
    estimates = [run.hd_quantile(xs, p) for p in levels]
    assert estimates == sorted(estimates)
    assert xs[11 - 2] < run.hd_quantile(xs, 0.8) < xs[11 + 2]
    # one op at the median slowing past its neighbours: the order
    # statistic jumps by the whole gap, the estimate by a fraction of it
    before = [0.5] * 7 + [0.6] + [0.9] * 7
    after = [0.5] * 7 + [0.95] + [0.9] * 7
    jump = statistics.median(after) - statistics.median(before)
    assert 0 < run.hd_quantile(after, 0.5) - run.hd_quantile(before, 0.5) < jump / 2


# event-log fold

def test_fold_eventlog_sums_task_metrics_per_job_group():
    folded = layers.fold_eventlog_dir(os.path.join(HERE, "testdata"))
    assert sorted(folded) == ["op:demo:agg:exec", "op:demo:mapin:build", "op:demo:udf:exec"]
    udf, agg, mapin = (folded[f"op:demo:{k}"] for k in ("udf:exec", "agg:exec", "mapin:build"))
    assert udf["tasks"] == 2
    assert udf["run_s"] == pytest.approx(1.946 + 1.945)
    assert udf["cpu_s"] == pytest.approx(0.188838729 + 0.187205477)
    assert udf["gc_s"] == pytest.approx(0.050)
    # ArrowEvalPython stage: the run time the JVM CPU clock does not see
    assert udf["python_s"] == pytest.approx(udf["run_s"] - udf["cpu_s"])
    # a job group spanning two jobs and a shuffle; no Python node
    assert agg["tasks"] == 3
    assert agg["shuffle_write_mb"] * 1024 * 1024 == pytest.approx(364)
    assert agg["shuffle_read_mb"] * 1024 * 1024 == pytest.approx(364)
    assert agg["python_s"] == 0.0
    # only the MapInPandas stage (4) counts towards python_s, not stage 6
    assert mapin["tasks"] == 3
    assert mapin["python_s"] == pytest.approx((0.302 - 0.029228635) + (0.306 - 0.062453938))


def test_span_self_times_sum_to_the_op_wall():
    tracer = layers.Tracer()
    tracer.op = "q#0"
    with tracer.span("op") as root:
        with tracer.span("plans.build"):
            with tracer.span("io.open"):
                pass
        with tracer.span("exec"):
            pass
    got = tracer.op_layers()["q#0"]
    assert set(got) == {"op", "plans.build", "io.open", "exec"}
    assert sum(v["s"] for v in got.values()) == pytest.approx(root["end"] - root["start"])
    assert all(v["s"] >= 0 and v["calls"] == 1 for v in got.values())


def test_streaming_progress_goes_to_the_op_that_triggered_it():
    events = [
        {"ts": 10.5, "trigger_s": 1.0, "state_commit_s": 0.5, "wal_commit_s": 0.1},
        {"ts": 11.9, "trigger_s": 0.25, "state_commit_s": 0.0, "wal_commit_s": 0.05},
        # delivered during the next op, triggered during the first
        {"ts": 11.95, "trigger_s": 0.5, "state_commit_s": 0.25, "wal_commit_s": 0.0},
        {"ts": 20.0, "trigger_s": 2.0, "state_commit_s": 0.0, "wal_commit_s": 0.0},
    ]
    got = layers.attribute(events, {"a#0": (10.0, 12.0), "b#0": (12.0, 13.0)})
    assert got["a#0"] == {"batches": 3, "trigger_s": 1.75, "state_commit_s": 0.75,
                          "wal_commit_s": pytest.approx(0.15)}
    assert "b#0" not in got
    assert got["unattributed"]["batches"] == 1


# correctness check

def _table(rows):
    return pa.table({"K": [r[0] for r in rows], "v": [r[1] for r in rows]})


def test_result_hash_ignores_row_order_and_column_case():
    rows = [(1, 0.5), (2, None), (3, 1.25)]
    a = result_hash(_table(rows))
    b = result_hash(pa.table({"v": [1.25, 0.5, None], "k": [3, 1, 2]}))
    assert a == b


def test_corrupted_result_counts_as_a_failure():
    rows = [(1, 0.5), (2, None), (3, 1.25)]
    n, digest = result_hash(_table(rows))
    expected = {"q": {"rows": n, "hash": digest}, "rows_only": None}
    bad_rows, bad_hash = result_hash(_table([(1, 0.5), (2, None), (3, 1.26)]))
    report = {"error": None, "passes": [
        {"ops": [{"op": "q", "rows": n, "hash": digest}, {"op": "rows_only"}]},
        {"ops": [{"op": "q", "rows": bad_rows, "hash": bad_hash}, {"op": "rows_only"}]},
    ]}
    attempted, failed, failures = run._checked([report], ["q", "rows_only"], expected)
    assert (attempted, failed) == (4, 1)
    assert list(failures) == ["q"] and "result differs" in failures["q"][0]


def test_an_op_that_raised_or_never_ran_is_a_failure():
    expected = {"a": None, "b": None}
    report = {"error": "worker timed out after 170 s",
              "passes": [{"ops": [{"op": "a", "error": "AnalysisException: boom"}]}]}
    attempted, failed, failures = run._checked([report], ["a", "b"], expected)
    assert (attempted, failed) == (2, 2)
    assert failures == {"a": ["AnalysisException: boom"], "b": ["worker timed out after 170 s"]}
