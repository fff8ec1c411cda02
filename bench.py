#!/usr/bin/env python
"""Benchmark harness: runs the headline query catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed as a full action (count of the result) after a
warm-up of the parquet footers; per-query wall time is reported, plus
the total.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")

    from dados_publicos_etl_spark.plans import QUERIES
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401
    from dados_publicos_etl_spark.session import get_session

    # SPARK_GRAFT_CPUS may be "*" (all cores); only a numeric value
    # sizes the shuffle directly.
    spark = get_session(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else None,
    )

    # warm-up: touch every table so JVM/classloading and footer reads are
    # excluded from per-query timings (bench measures plans, not startup).
    from dados_publicos_etl_spark.io import read_table
    from dados_publicos_etl_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        read_table(spark, sf_dir, t).count()

    # ------------------------------------------------------------------
    # Host-calibration probe (round-9 verdict "What's missing" #3):
    # a PINNED 5-query set measured min-of-5 before the catalog run.
    # host_ratio = probe total / the same probe's round-9 local-
    # artifact total, so cross-round per-query comparisons can be
    # normalized mechanically instead of re-litigating host drift by
    # hand each round.  The reference values are FROZEN at their
    # BENCH_LOCAL_r09.json timings — do not update them when the host
    # changes; that is the point.
    # ------------------------------------------------------------------
    # r11 extension (round-10 verdict What's-wrong #2): the original
    # five probes are all JVM-relational, so Python-worker/streaming
    # host drift was invisible to the ratio — one Arrow-heavy row
    # (multimodal_features, the Pandas-UDF decode path) and one
    # streaming row (stream_tumbling_window, micro-batch machinery)
    # joined the set, refs frozen at their BENCH_LOCAL_r09 values
    # like the rest.
    _PROBE_REF_R9 = {
        "q1_pricing_summary": 0.408,
        "topk_orders": 0.215,
        "window_rank_dense": 0.185,
        "text_stats": 0.215,
        "doc_fingerprint": 0.133,
        "multimodal_features": 0.403,
        "stream_tumbling_window": 0.226,
    }
    def run_probe() -> dict[str, float]:
        p: dict[str, float] = {}
        for name in sorted(_PROBE_REF_R9):
            best = float("inf")
            for _ in range(5):
                t0 = time.perf_counter()
                QUERIES[name].fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            p[name] = round(best, 3)
        return p

    # r11: the probe runs BEFORE and AFTER the catalog passes —
    # host speed drifts WITHIN a 30-minute run (measured 1.14 -> 1.41
    # across one session, BENCH_NOTES r11 #1), so a start-instant
    # ratio can misprice the whole body.  host_ratio is the MEAN of
    # the two probes; both are recorded so a reader sees the
    # intra-run drift; a pre/post spread > ~1.2x means per-query
    # cross-round comparisons carry that much haze.
    #
    # r12 (r11 verdict What's-wrong #1): the run is GATED on that
    # spread.  If pre/post disagree by more than
    # SPARK_GRAFT_BENCH_MAX_SPREAD (default 1.25; 0 disables, for
    # time-boxed harnesses), the whole probe+passes body re-runs —
    # up to SPARK_GRAFT_BENCH_ATTEMPTS (default 2) — and the emitted
    # artifact is the attempt with the SMALLEST spread; every
    # discarded attempt's spread and total are recorded in
    # "rejected_attempts" (the discard-with-numbers rule the r11
    # scale artifacts already follow).
    import statistics

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    max_spread = float(
        os.environ.get("SPARK_GRAFT_BENCH_MAX_SPREAD", "1.25")
    )
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "2"))

    def one_attempt() -> dict:
        probe = run_probe()
        pre = round(sum(probe.values()) / sum(_PROBE_REF_R9.values()), 3)
        # N full PASSES over the catalog, min per query across passes:
        # pass 1 pays one-off plan compilation / codegen /
        # Python-worker startup that a long-lived cluster session
        # amortizes away, and spreading a query's samples minutes
        # apart means a transient machine-load spike can't inflate
        # both samples of the same query (back-to-back repeats share
        # the spike).
        samples: dict[str, list[float]] = {}
        for _ in range(n_runs):
            # Start each pass from a clean session: drop any cached
            # plans and force a JVM GC so the ContextCleaner reclaims
            # broadcast blocks accumulated by the previous pass
            # (cleanup is GC-driven; across a 121-query pass the
            # un-collected broadcasts + codegen classes otherwise
            # build steady memory pressure that uniformly inflates
            # later queries — the r2 catalog-wide ~1.27x drift).
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            for name in sorted(QUERIES):
                spec = QUERIES[name]
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                df.count()
                samples.setdefault(name, []).append(
                    time.perf_counter() - t0
                )
                # Release blocks pinned by localCheckpoint()-
                # materializing operators (dedup/similarity signature
                # tables) so storage memory from one query can't
                # pressure the queries timed after it.  Within-query
                # checkpoint cost stays inside the timing.
                for rdd in (
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    rdd.unpersist()
        # 2 passes -> min (drops the one-off compile pass); 3+ passes
        # -> MEDIAN, robust against both the cold first pass and a
        # transient host-load spike inflating one sample (the r5
        # driver host showed 2-3x single-query swings that min-of-2
        # can't always shed).
        timings = {
            name: round(
                min(v) if len(v) < 3 else statistics.median(v), 3
            )
            for name, v in sorted(samples.items())
        }
        probe_post = run_probe()
        post = round(
            sum(probe_post.values()) / sum(_PROBE_REF_R9.values()), 3
        )
        return {
            "timings": timings,
            "probe": probe,
            "probe_post": probe_post,
            "pre": pre,
            "post": post,
            "spread": round(max(pre, post) / min(pre, post), 3),
        }

    rejected: list[dict] = []
    best = one_attempt()
    while (
        max_spread > 0
        and best["spread"] > max_spread
        and len(rejected) + 1 < max_attempts
    ):
        rejected.append(best)
        nxt = one_attempt()
        if nxt["spread"] > best["spread"]:
            rejected.append(nxt)
            rejected.remove(best)
        else:
            best = nxt

    timings = best["timings"]
    probe, probe_post = best["probe"], best["probe_post"]
    host_ratio_pre, host_ratio_post = best["pre"], best["post"]
    host_ratio = round((host_ratio_pre + host_ratio_post) / 2, 3)

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark.stop()
    # ONE compact JSON line, emitted after spark.stop() so no JVM
    # output can interleave.  "queries" first / summary keys last:
    # if a log-capture keeps only the tail of stdout, the headline
    # metric is still visible at the end of the line.
    payload = {
        "queries": timings,
        "host_probe": probe,
        "host_probe_post": probe_post,
        "host_ratio_pre": host_ratio_pre,
        "host_ratio_post": host_ratio_post,
        "host_ratio": host_ratio,
        "host_spread": best["spread"],
        "host_spread_ok": (
            max_spread <= 0 or best["spread"] <= max_spread
        ),
        "rejected_attempts": [
            {
                "spread": r["spread"],
                "pre": r["pre"],
                "post": r["post"],
                "total": round(sum(r["timings"].values()), 4),
            }
            for r in rejected
        ],
        "metric": "catalog_total_wall",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "value": total,
    }
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")))
    sys.stdout.flush()
    # Sidecar copy of the SAME payload (r12 verdict item #2): the r11
    # driver capture truncated the stdout line and nulled the whole
    # per-query round-over-round table.  The stdout contract above is
    # unchanged; this file is a recovery path, never the primary.  It
    # lands in the gitignored .bench/, so a run leaves the checkout
    # clean.
    try:
        os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
        with open(os.path.join(REPO, ".bench", "BENCH_SELF.json"), "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line already emitted


if __name__ == "__main__":
    main()
