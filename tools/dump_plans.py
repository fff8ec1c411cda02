#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline
queries, so plan properties (pushdown, pruning, broadcast, partial
aggregation) are reviewable without running Spark.

Two more modes prove that a refactor left plans alone:

  python tools/dump_plans.py --all --sf <corpus dir> --out a.json \
      [--only NAME ...]
  python tools/dump_plans.py --diff parent.json [parent2.json ...] b.json \
      [--only NAME ...]

``--all`` builds every registered query and writes
``{name: optimized plan}`` as JSON, normalized so two runs of the same
code compare equal: exprIds (``#123``), plan ids, temp-dir paths, the
``_<hex8>`` suffix of memory-sink tables and the counter suffix of
lambda variables (``x_87``, which depends on how many lambdas the
process built before) are masked, and each
distinct-aggregate ``Expand`` is put in one canonical order (Catalyst's
``RewriteDistinctAggregates`` orders its groups by exprIds, which
permuted ``table_profile``'s plan between runs).  A query whose build
raises is recorded as ``ERROR: <exception>``.  ``--only`` dumps just
the named queries, so a refactor can check the plans it touched without
building the whole catalog.

``--diff P1 [P2 ...] C`` prints the queries whose normalized plan in
the change's dump ``C`` matches the plan of none of the parent dumps
``P1 ...`` (or that exist on one side only), and exits 1 if there are
any.  With ``--only`` it compares just the named queries (a change dump
made with ``--only`` against full parent dumps).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "window_topk_orders",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_ann_lsh",
    "stream_session_window",
    "json_variant",
    "repetition_stats",
    "contamination_ngram",
    "snapshot_diff",
    "dq_report",
    "sessionize_gaps",
    "embedding_quantize",
    "dedup_cross_snapshot",
    "passage_scrub",
    "corpus_token_histogram",
    "stats_moments",
    "ewma_user_value",
    "join_null_safe",
    "pagerank_suppliers",
    "similarity_ivf",
    "similarity_ivfpq",
    "duplicate_ngram_spans",
    "fuzzy_match_customers",
    "bucketed_join_orders",
    "heavy_hitters_exact",
    "global_row_number",
    "bpe_train_merges",
    "split_leakage_safe",
    "regression_by_group",
    "nb_classifier_train_score",
    "perplexity_filter",
    "bootstrap_mean_ci",
    "winsorized_robust_agg",
    "retention_cohorts",
    "pmi_collocations",
    "dedup_quality_survivor",
    "contrastive_pair_mining",
    "geo_proximity_join",
    "cusum_changepoint",
    "concurrent_events_peak",
    "basket_association_rules",
    "weighted_sample_aes",
    "table_profile",
    "dedup_prefix_join",
    "triangle_count",
    "pareto_frontier",
    "seasonal_decompose",
    "proration_largest_remainder",
    "time_interpolate_linear",
    "log_parse_text_source",
    # round-6 continuation: the rule-exclusion family (plans changed
    # when InferFiltersFromGenerate left the optimizer) + new wave
    "decontaminate_bloom_e2e",
    "dsir_importance_weights",
    "kn_bigram_score",
    "gopher_quality_rules",
    "training_shard_assignment",
    "temperature_mix_sampling",
    "cnpj_check_digits",
    "embedding_norm_audit",
    "golden_record_merge",
    # round-8 wave: portable-quantizer ANN family (plans reshaped),
    # SemDeDup, novelty, maintenance round-trips
    "similarity_pq",
    "dedup_semantic_cells",
    "corpus_novelty_curve",
    "embedding_dim_stats",
    "tokenizer_fertility",
    "zorder_layout_roundtrip",
    "retention_enforcement",
    # round-9 wave: multi-vector retrieval, binary embeddings,
    # content-defined chunking, curation caps, DP release, weighted
    # lexical cosine
    "late_interaction_maxsim",
    "embedding_sign_hamming",
    "cdc_chunk_dedup",
    "domain_frequency_cap",
    "dp_noisy_counts",
    "tfidf_cosine_neardup",
    # round-10 wave: span removal, budgeted curation, LSH tuning —
    # plus the reshaped cdc/tfidf plans above regenerate this round
    "exact_substring_scrub",
    "token_budget_curation",
    "minhash_band_tuning_curve",
]


_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (
        re.compile(
            r"(?:file:)?%s/[^\s,\])]*" % re.escape(tempfile.gettempdir())
        ),
        "<tmp>",
    ),
    (re.compile(r"_[0-9a-f]{8}\b"), "_<hex8>"),
    # PySpark numbers each lambda variable from a per-process counter
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+#"), r"\1_#"),
]


def _split_top(s: str) -> list[str]:
    """``s`` split at the commas outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    return parts + [s[start:].strip()]


_EXPAND = re.compile(r"^(.*?Expand )(\[.*\])\s*$")


def _canonical_expands(plan: str) -> str:
    """One form for each distinct-aggregate ``Expand`` (the one with a
    ``gid`` column).  ``RewriteDistinctAggregates`` orders the distinct
    groups by exprIds, so two runs of the same code permute the
    distinct columns (in the ``Expand`` output and the ``Aggregate``
    lists above it) and the ``gid`` each group gets.  The columns and
    the projections are sorted, and the ``gid`` literals renumbered in
    projection order, in the ``Expand`` and in the lines above it."""
    lines = plan.split("\n")
    start = 0
    for at, line in enumerate(lines):
        m = _EXPAND.match(line)
        if not m or "gid#" not in m.group(2):
            continue
        projections, outputs = (_split_top(x[1:-1]) for x in _split_top(m.group(2)))
        if "gid#" not in outputs:
            continue
        g = outputs.index("gid#")
        perm = sorted(range(g), key=outputs.__getitem__)
        rows = [[p[i] for i in perm] + p[g:] for p in (_split_top(x[1:-1]) for x in projections)]
        rows.sort(key=lambda r: r[:g] + r[g + 1:])
        gids = dict(zip((r[g] for r in rows), sorted((r[g] for r in rows), key=int)))
        for r in rows:
            r[g] = gids[r[g]]
        old_cols = ", ".join(outputs[:g])
        new_cols = ", ".join(outputs[i] for i in perm)
        lines[at] = "%s[%s], [%s]" % (
            m.group(1),
            ", ".join("[%s]" % ", ".join(r) for r in rows),
            ", ".join([new_cols] + outputs[g:]),
        )
        for k in range(start, at):
            lines[k] = re.sub(
                r"gid# = (\d+)",
                lambda n: "gid# = " + gids.get(n.group(1), n.group(1)),
                lines[k].replace(old_cols, new_cols),
            )
        start = at + 1
    return "\n".join(lines)


def _mask(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def normalize(plan: str) -> str:
    return _canonical_expands(_mask(plan))


def _session():
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401
    from dados_publicos_etl_spark.session import get_session

    return get_session(app_name="plans", master="local[4]",
                       shuffle_partitions=4)


def dump_all(sf: str, out_path: str, only: list[str] | None = None) -> None:
    from dados_publicos_etl_spark.plans import QUERIES
    from dados_publicos_etl_spark.plans import catalog  # noqa: F401

    names = sorted(only or QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    spark = _session()
    # full plans: the default elides fields past 25 ("... N more fields")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    plans: dict[str, str] = {}
    for name in names:
        try:
            df = QUERIES[name].fn(spark, sf)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as ex:  # noqa: BLE001 - recorded, then compared
            plan = f"ERROR: {type(ex).__name__}: {str(ex).splitlines()[0]}"
        plans[name] = normalize(plan)
    with open(out_path, "w") as fh:
        json.dump(plans, fh, indent=1, sort_keys=True)
    print(f"wrote {len(plans)} plans to {out_path}")
    spark.stop()


def diff(
    parent_paths: list[str], change_path: str, only: list[str] | None = None
) -> int:
    def load(path: str) -> dict[str, str]:
        # masked again: a dump written before a mask was added compares
        with open(path) as fh:
            return {n: _mask(p) for n, p in json.load(fh).items()}

    parents = [load(path) for path in parent_paths]
    change = load(change_path)
    names = set(only) if only else set(change).union(*parents)
    changed = sorted(
        n for n in names if all(p.get(n) != change.get(n) for p in parents)
    )
    for name in changed:
        if name not in change:
            print(f"{name} (only in the parent dumps)")
        elif not any(name in p for p in parents):
            print(f"{name} (only in {change_path})")
        else:
            print(name)
    print(f"{len(changed)} of {len(names)} plans match no parent dump")
    return 1 if changed else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--all", action="store_true",
                    help="dump every registered query's optimized plan")
    ap.add_argument("--sf", help="corpus dir for --all")
    ap.add_argument("--out", help="JSON file --all writes")
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="dump (--all) or compare (--diff) only these "
                    "queries")
    ap.add_argument("--diff", nargs="+", metavar="DUMP",
                    help="parent dumps then the change's dump: list "
                    "queries whose plan matches no parent dump")
    args = ap.parse_args()
    if args.diff:
        if len(args.diff) < 2:
            ap.error("--diff needs at least one parent dump and a change dump")
        sys.exit(diff(args.diff[:-1], args.diff[-1], args.only))
    if args.all:
        if not (args.sf and args.out):
            ap.error("--all needs --sf and --out")
        dump_all(args.sf, args.out, args.only)
        return
    headline()


def headline() -> None:
    from dados_publicos_etl_spark.plans import QUERIES

    spark = _session()
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of headline queries (sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`. Things to check per plan:",
        "`PushedFilters` reaching the scan, `ReadSchema` pruned to used",
        "columns, `BroadcastHashJoin` on dimension sides, paired",
        "`partial_`/final `HashAggregate`, `TakeOrderedAndProject` for",
        "top-k, and no `Exchange` in narrow maps.",
        "",
    ]
    for name in HEADLINE:
        df = QUERIES[name].fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
