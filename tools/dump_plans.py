#!/usr/bin/env python
"""Dump physical plans at sf0.001 (plan shape is SF-independent; tiny SF
keeps this fast).

    python tools/dump_plans.py
        Regenerate PLANS.md: the executed (AQE final) plans of the bench
        headline queries.

    python tools/dump_plans.py --label r13 before q1,q2,...
        Write plans/r13/<query>_before.txt, the .explain("formatted")
        plan of each named query, as before/after optimization evidence
        (Exchange count, join strategy, PushedFilters, codegen spans).
        AQE final plans are runtime artifacts and are cited from bench
        or profile runs instead. PLANS_SF_DIR overrides the input.
"""
import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pos_pipeline_core_etl_spark.session import get_spark  # noqa: E402
from pos_pipeline_core_etl_spark import registry  # noqa: E402

SF = os.environ.get("PLANS_SF_DIR", "/root/testdata/sf0.001")
HEADLINE = (
    "payments_daily_mart", "agg_pricing_summary", "join_broadcast_dims",
    "scan_filter_project", "dedup_keep_first", "sales_by_ticket_mart",
    "window_rolling_mean", "dedup_minhash_lsh", "sim_cosine_topk",
    "join_validity_window_bucketed", "text_tfidf_topk",
    "join_asof_purchase_view", "events_funnel", "events_retention",
    "dedup_minhash_verified", "join_asof_next_purchase",
    "events_mad_anomalies", "text_chunk_windows", "stratified_sample",
    # round 5
    "dedup_simhash_banded", "docs_quality_pct_approx",
    "emb_pq_codes", "sim_pq_adc_topk", "sim_ivfpq_topk",
    "dedup_winnow_pairs", "corpus_snapshot_diff",
    # round 6
    "dedup_simhash_staged", "sim_ivfpq_kmeans_topk",
    "dedup_incremental_diff", "multimodal_dedup_decisions",
    "corpus_build_manifest",
    # round 6 second pass
    "docs_lr_train", "dedup_containment_staged",
    "payments_daily_mart_incremental", "fuzzy_customer_pairs",
    # round 7
    "fuzzy_customer_pairs_d2", "fuzzy_customer_golden",
    "text_decontaminate_fuzzy", "sim_ivfpq_recall_sweep",
    "events_zorder_pruning",
    # round 7 second pass
    "dedup_minhash_recall", "corpus_compaction_plan",
    "fuzzy_customer_sorted_pairs", "skew_profile_events",
    # round 8
    "fuzzy_part_pairs_d2_scoped", "fuzzy_part_phonetic_pairs",
    "fuzzy_part_pairs_union", "fuzzy_family_recall_compare",
    "corpus_decon_decisions", "corpus_build_manifest_decon",
    "graph_part_triangles", "graph_part_pagerank",
    "graph_part_clustering", "events_transition_matrix",
    # round 9
    "graph_part_pagerank_tol", "fuzzy_part_entities_final",
    "graph_part_kcore", "graph_part_neighbor_jaccard",
    # round 10
    "docs_semdedup", "graph_part_neighbor_jaccard_capped",
    "sketch_kmv_distinct", "sketch_kmv_merge", "sketch_cms_topk",
    # round 11
    "sketch_kmv_jaccard", "sketch_kmv_setops", "sketch_hist_quantile",
    "docs_perplexity_buckets_approx", "sketch_hist_quantile_grouped",
    # round 12
    "sim_ivfpq_query_only", "sketch_hist_fixed_grouped",
    "sketch_priority_sample",
    # round 12 second half
    "sketch_bloom_merge", "sketch_bloom_semijoin",
    "events_rollup_cascade", "sketch_cms_grouped",
    "sketch_priority_grouped",
)


def dump_labelled(spark, label: str, tag: str, names: list[str]) -> None:
    """Write plans/<label>/<query>_<tag>.txt for each named query."""
    qs = registry.all_queries()
    outdir = os.path.join(ROOT, "plans", label)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange refs)")


def dump_headline(spark) -> None:
    """Regenerate PLANS.md from the headline queries' executed plans."""
    qs = registry.all_queries()
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (re-run after plan-affecting",
        "changes). Evidence for the claims in PERFORMANCE.md: look for",
        "`PushedFilters`/`ReadSchema` (pushdown + pruning), `BroadcastHashJoin`",
        "(dims never shuffle the fact), single `Exchange hashpartitioning`",
        "per agg, absence of `Expand`/`CartesianProduct`/`BroadcastNestedLoopJoin`,",
        "and `WholeStageCodegen` spans (JVM-side execution).",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF)
        df.collect()  # count() would execute a derived plan; collect()
        # runs THIS df so the AQE final plan is what gets printed
        plan = df._jdf.queryExecution().executedPlan().toString()
        # trim location/path noise, keep operator structure
        plan = re.sub(r"file:[^,\]\s]+", "<path>", plan)
        plan = re.sub(r"#\d+L?", "", plan)
        lines = [ln.rstrip() for ln in plan.splitlines() if ln.strip()]
        if len(lines) > 60:
            lines = lines[:60] + [f"... ({len(lines) - 60} more lines)"]
        out += [f"## {name}", "", "```", *lines, "```", ""]
    open(os.path.join(ROOT, "PLANS.md"), "w").write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--label", help="plans/ subdirectory, e.g. r13")
    p.add_argument("tag", nargs="?", help="file suffix, e.g. before or after")
    p.add_argument("queries", nargs="?", help="comma-separated query names")
    args = p.parse_args()
    if args.label and not (args.tag and args.queries):
        p.error("--label needs a tag and a query list")
    if not args.label and (args.tag or args.queries):
        p.error("a tag and a query list need --label")
    spark = get_spark(app_name=f"dump_plans_{args.label or 'headline'}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.label:
        dump_labelled(spark, args.label, args.tag, args.queries.split(","))
    else:
        dump_headline(spark)
    spark.stop()


if __name__ == "__main__":
    main()
