"""Plan audit: print the physical-plan features that matter at scale
for every headline query (or --only a subset).

For each query: pushed parquet filters, read schemas (column pruning),
join strategies, exchanges (shuffles) and reuse, window group limits.
Run after changing any operator:

    python tools/explain_audit.py [--sf-dir DIR] [--only q1,q2]

The checks this engine holds itself to:
- filters and projections reach the FileScan (PushedFilters/ReadSchema),
- dimension joins broadcast (BroadcastHashJoin, not SortMergeJoin),
- per-group top-k uses WindowGroupLimit (partial rank pushdown),
- repeated subplans reuse one exchange (ReusedExchange),
- no CartesianProduct or BroadcastNestedLoopJoin outside 1-row query
  sides.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hrtech_etl_spark.core.session import get_spark  # noqa: E402
from hrtech_etl_spark.workload import REGISTRY  # noqa: E402

INTERESTING = re.compile(
    r"(FileScan|PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
    r"ShuffledHashJoin|CartesianProduct|BroadcastNestedLoopJoin|Exchange|"
    r"ReusedExchange|ReusedQueryStage|ShuffleQueryStage|WindowGroupLimit|"
    r"HashAggregate|ObjectHashAggregate|"
    r"SortAggregate|Window\b|Generate|MapInPandas|FlatMapGroupsInPandas)"
)

DEFAULT = [
    "agg_pricing_summary",
    "join_inner_revenue",
    "join_broadcast_dim",
    "window_topk_per_group",
    "join_asof",
    "etl_pull_incremental",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "join_nonequi_suite",
    "agg_multidim_grouping",
    "window_frame_suite",
    "setop_suite",
    "text_token_stats",
    "profile_documents",
    "layout_zorder_key",
    "dedup_incremental",
    "etl_scd2_history",
    "join_bloom_semi",
    "join_fuzzy_editdist",
    "etl_table_diff",
    "scalar_variant_json",
    # round 10
    "dedup_substring_spans",
    "corpus_temperature_mix",
    "agg_correlated_subquery",
    "corpus_weighted_sample",
    # round 10, session 3
    "events_sessionize",
    "join_exists_notexists",
    "dedup_cdc_chunks",
    "window_cumulative_distinct",
    "events_anomaly_mad",
    "agg_market_basket",
    "events_transition_matrix",
    "graph_pagerank",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument(
        "--executed",
        action="store_true",
        help="run each query and audit the FINAL adaptive plan — "
        "ReusedExchange and AQE join/coalesce decisions only appear "
        "here, never in the static explain",
    )
    args = ap.parse_args()
    names = args.only.split(",") if args.only else DEFAULT

    spark = get_spark(app_name="explain-audit")
    for name in names:
        df = REGISTRY[name].fn(spark, args.sf_dir)
        if args.executed:
            # collect() on THIS df — count() would execute a different
            # (aggregated) query and leave this plan un-finalized
            df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # keep only the final plan section when AQE prints both
        final = plan.split("+- == Initial Plan ==")[0]
        print(f"\n==== {name}")
        for line in final.splitlines():
            s = line.strip(" :+-*")
            m = INTERESTING.search(s)
            if m:
                print(f"  {s[:200]}")


if __name__ == "__main__":
    main()
