"""Physical-plan audit: evidence that the optimizer properties the engine
relies on actually fire (SURVEY.md §4's "rely; verify with explain").

For each headline query, dumps the executed plan and checks the property
its design depends on — parquet filter/column pushdown, broadcast vs
shuffle join choice, WindowGroupLimit for top-k, TakeOrderedAndProject for
global top-k, whole-stage codegen coverage. Writes PLANS.md at the repo
root (one section per query, property table + the formatted plan) so the
claims are inspectable, and exits non-zero if any required property is
missing.

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kse import registry  # noqa: E402
from kse.session import get_session  # noqa: E402

# query -> [(property label, regex that must match the executed plan)]
REQUIRED = {
    "q_agg_groupby": [
        ("partial (map-side) aggregation", r"partial_(sum|count)"),
        ("column pruning reaches parquet", r"ReadSchema: [^\n]*l_returnflag"),
        ("whole-stage codegen", r"\*\(\d+\)"),
        # the dsum three-band device adds 4 aggregates per logical sum;
        # if generated code ever exceeds hugeMethodLimit, Spark
        # silently drops the HashAggregate out of codegen (no asterisk on
        # that node) — this catches the fallback the moment a wider
        # aggregate tips it over
        ("dsum HashAggregate still codegens", r"\*\(\d+\) HashAggregate"),
    ],
    "q_scan_projection_pushdown": [
        ("pruned ReadSchema", r"ReadSchema: struct<[^>]{0,120}>"),
    ],
    "q_filter_between": [
        ("predicate pushed to parquet", r"PushedFilters: \[[^\]]*(GreaterThan|LessThan|GreaterThanOrEqual)"),
    ],
    "q_join_broadcast": [
        ("broadcast hash join", r"BroadcastHashJoin"),
        ("dim-side filter pushed down", r"PushedFilters: \[[^\]]*LessThanOrEqual\(p_size"),
    ],
    "q_join_inner_hash": [
        ("join present (SMJ/SHJ/BHJ by stats)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("orders date filter pushed down", r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate"),
    ],
    "q_join_multiway": [
        ("dims broadcast", r"BroadcastHashJoin"),
    ],
    "q_topk_per_group": [
        ("per-group top-k limit pushdown", r"WindowGroupLimit"),
    ],
    "q_limit": [
        ("global top-k via TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "q_llm_sim_knn": [
        ("top-k never global-sorts", r"TakeOrderedAndProject"),
        ("query vector broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "q_llm_sim_knn_batch": [
        ("query table broadcast", r"BroadcastExchange"),
        ("per-query window limited", r"WindowGroupLimit"),
    ],
    "q_fn_json": [
        ("JSON walk stays in codegen", r"\*\(\d+\)"),
    ],
    "q_llm_text_tokens": [
        ("partial count before shuffle", r"partial_count"),
        ("top-20 via TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "q_llm_dedup_exact": [
        ("duplicates collapse map-side before the text shuffle", r"partial_min"),
    ],
    "q_join_theta_banded": [
        ("band predicate compiles to an equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "q_join_theta_cdf": [
        ("boundary cumsum window is per-bucket (hash exchange)", r"hashpartitioning\(bkt"),
        ("bucket offsets broadcast back", r"BroadcastHashJoin"),
    ],
    # r8: pass 1 (bucket counts) executes at build time into a checkpoint
    # (its three consumers showed 0 ReusedExchange — see _pctl_rank_select),
    # so the final plan shows the materialized scan, not the aggregate; the
    # map-side partial_count property of pass 1 itself is asserted by
    # tests/test_dist_twins.py::test_pctl_histogram_partial_agg.
    "q_agg_percentile_dist": [
        ("pass-1 histogram materialized once (checkpoint scans)", r"Scan ExistingRDD"),
        ("pass-2 filter is a broadcast join to the target buckets", r"BroadcastHashJoin"),
    ],
    "q_agg_percentile_disc_dist": [
        ("pass-1 histogram materialized once (checkpoint scans)", r"Scan ExistingRDD"),
        ("pass-2 filter is a broadcast join to the target buckets", r"BroadcastHashJoin"),
    ],
    "q_llm_dedup_simhash_scaled": [
        ("candidate self-join pinned shuffle-hash, never broadcast", r"ShuffledHashJoin"),
    ],
    "q_win_ntile_percent_dist": [
        ("rank windows are per-(status, value-bucket)", r"hashpartitioning\([^\n]*bkt"),
        # r8: bucket counts execute at build time into a checkpoint (two
        # consumers, no exchange reuse); map-side combine of the count
        # aggregate itself is a pinned invariant of the shared histogram
        # machinery (tests/test_dist_twins.py::test_pctl_histogram_partial_agg)
        ("bucket counts materialized once (checkpoint scan)", r"Scan ExistingRDD"),
    ],
    "q_win_range_between_dist": [
        ("rank windows are per-(status, value-bucket)", r"hashpartitioning\(st[^\n]*bkt"),
        ("distinct-value counts partially aggregated map-side", r"partial_count"),
    ],
    "q_llm_shard_assign": [
        ("doc cumsum window is per-bucket (hash exchange)", r"hashpartitioning\(bkt"),
    ],
    "q_llm_curate": [
        ("dedup aggregates min_by per text, not a row_number window", r"Aggregate\(key=\[text[^\n]*min_by"),
        ("duplicate texts collapse map-side", r"partial_min_by"),
        ("yield report partially aggregated map-side", r"partial_(count|sum|avg)"),
    ],
    "q_scan_partition_prune": [
        ("event_type filter prunes at planning time", r"PartitionFilters: \[[^\]]*event_type"),
    ],
    "q_join_bloom_prune": [
        ("bucket prefilter + residual join both broadcast", r"BroadcastHashJoin[\s\S]*BroadcastHashJoin"),
        ("fact-side agg partially aggregated map-side", r"partial_(count|sum)"),
    ],
    "q_ts_retention": [
        ("distinct-users collapse before the final shuffle", r"partial_count\(distinct"),
    ],
    "q_llm_mixture_sample": [
        ("per-language counts broadcast, filter map-side", r"BroadcastHashJoin"),
    ],
    "q_join_skew_salted": [
        ("join keys carry the salt", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*salt"),
    ],
    "q_join_lateral": [
        ("correlated subquery decorrelated to a window group-limit", r"WindowGroupLimit"),
        ("customer filter pushed to parquet", r"PushedFilters: \[[^\]]*c_mktsegment"),
    ],
    "q_llm_kmeans": [
        ("centroids broadcast to the assignment join", r"BroadcastExchange"),
        ("centroid update partially aggregated map-side", r"partial_(sum|count)"),
    ],
    "q_llm_domain_cap": [
        ("per-domain cap via WindowGroupLimit", r"WindowGroupLimit"),
        ("domain summary partially aggregated map-side", r"partial_(count|sum|min)"),
    ],
    "q_llm_dedup_url": [
        ("canonical-url groups collapse map-side", r"partial_(count|min)"),
    ],
    "q_graph_triangles": [
        ("wedge + closing joins are equi-joins", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "q_graph_pagerank": [
        ("message aggregation is partial (combiner) per round", r"partial_sum"),
    ],
    "q_agg_bitmap_distinct": [
        ("bitmaps built map-side (partial bitmap_construct_agg)", r"partial_bitmap_construct_agg"),
    ],
    "q_sql_scd2": [
        ("version numbering and validity share one window sort", r"Window"),
        ("customer filter pushed to parquet", r"PushedFilters"),
    ],
    "q_tpch_q3": [
        ("segment filter pushed to customer scan", r"PushedFilters: \[[^\]]*c_mktsegment"),
        ("customer dimension broadcasts", r"BroadcastHashJoin"),
        ("revenue aggregated map-side", r"partial_sum"),
        ("top-10 via TakeOrdered, no global sort", r"TakeOrderedAndProject"),
    ],
    "q_tpch_q4": [
        ("EXISTS planned as a semi join", r"LeftSemi"),
        ("quarter filter pushed to orders scan", r"PushedFilters: \[[^\]]*o_orderdate"),
    ],
    "q_tpch_q5": [
        ("dimension chain broadcasts", r"BroadcastHashJoin"),
        ("revenue aggregated map-side", r"partial_sum"),
    ],
    "q_tpch_q6": [
        ("all three predicates pushed to the scan", r"PushedFilters: \[[^\]]*l_discount"),
        ("single-pass partial sum", r"partial_sum"),
        ("scan-agg stays in whole-stage codegen", r"\*\(\d+\)"),
    ],
    "q_tpch_q8": [
        ("part/supplier/nation dims broadcast", r"BroadcastHashJoin"),
        ("share numerator+denominator in one partial agg", r"partial_sum"),
    ],
    "q_tpch_q10": [
        ("returnflag filter pushed to lineitem scan", r"PushedFilters: \[[^\]]*l_returnflag"),
        ("top-20 via TakeOrdered, no global sort", r"TakeOrderedAndProject"),
    ],
    "q_tpch_q18": [
        ("HAVING aggregate combines map-side", r"partial_sum"),
        ("qualifying keys broadcast back into the fact join", r"BroadcastHashJoin"),
    ],
    "q_tpch_q19": [
        ("brand/size conjuncts pushed below the join", r"PushedFilters: \[[^\]]*(p_brand|p_size)"),
        ("part broadcasts", r"BroadcastHashJoin"),
    ],
    "q_tpch_q22": [
        ("NOT EXISTS planned as an anti join", r"LeftAnti"),
        ("recent-order filter pushed to the anti side", r"PushedFilters: \[[^\]]*o_orderdate"),
    ],
    "q_tpch_q1": [
        ("shipdate filter pushed to the scan", r"PushedFilters: \[[^\]]*l_shipdate"),
        ("all eight aggregates combine map-side", r"partial_sum"),
        ("scan-agg stays in whole-stage codegen", r"\*\(\d+\)"),
    ],
    "q_tpch_q9": [
        ("part-name LIKE pushed to the part scan", r"PushedFilters: \[[^\]]*p_name"),
        ("dimension star broadcasts", r"BroadcastHashJoin"),
        ("profit aggregated map-side", r"partial_sum"),
    ],
    "q_tpch_q12": [
        ("ship-year filter pushed to the lineitem scan", r"PushedFilters: \[[^\]]*l_shipdate"),
        ("CASE-sums combine map-side", r"partial_sum"),
    ],
    "q_tpch_q13": [
        ("priority filter pushed to the orders scan", r"PushedFilters: \[[^\]]*o_orderpriority"),
        ("both aggregation levels combine map-side", r"partial_count"),
    ],
    "q_tpch_q15": [
        ("revenue aggregated map-side", r"partial_sum"),
        ("max and supplier both broadcast", r"BroadcastHashJoin"),
    ],
    "q_tpch_q16": [
        ("supplier blacklist is a broadcast anti join", r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BuildRight"),
        ("distinct-count expands in two phases, not per-group sets", r"partial_count\(distinct"),
    ],
    "q_tpch_q17": [
        ("filtered part dim broadcasts", r"BroadcastHashJoin"),
        ("per-part average combines map-side", r"partial_(sum|avg)"),
    ],
    "q_tpch_q21": [
        ("decorrelated aggregates combine map-side", r"partial_(sum|count)"),
        ("order-status check is a semi join", r"LeftSemi"),
        ("top-20 via TakeOrdered, no global sort", r"TakeOrderedAndProject"),
    ],
    "q_tpch_q2": [
        ("supplier/nation/region dims broadcast into ps", r"BroadcastHashJoin"),
        ("per-part min cost combines map-side", r"partial_min"),
        ("size/type filter pushed to the part scan", r"PushedFilters: \[[^\]]*p_type"),
        ("top-100 via TakeOrdered, no global sort", r"TakeOrderedAndProject"),
    ],
    "q_tpch_q11": [
        ("region-filtered supplier dim broadcasts", r"BroadcastHashJoin"),
        ("per-part value combines map-side", r"partial_sum"),
    ],
    "q_tpch_q20": [
        ("part-name LIKE pushed to the part scan", r"PushedFilters: \[[^\]]*p_name"),
        ("part filter applied as a semi join before the aggregate", r"LeftSemi"),
        ("both period sums combine map-side in ONE aggregate", r"partial_sum"),
    ],
    "q_llm_dedup_substring": [
        ("gram counts collapse map-side before the shuffle", r"partial_count"),
    ],
    "q_llm_dedup_incremental": [
        ("bloom probe is an equi-join on bit position", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("exact verify is a semi join", r"LeftSemi"),
        ("all-positions-set check aggregates map-side", r"partial_count"),
    ],
    "q_llm_sim_ann_recall": [
        ("ANN probes are bucket equi-joins (queries broadcast)", r"BroadcastHashJoin"),
        ("all top-3 windows ride WindowGroupLimit", r"WindowGroupLimit"),
    ],
    "q_llm_split_assign": [
        ("composition aggregate combines map-side", r"partial_(count|sum)"),
    ],
    "q_sql_scd2_incremental": [
        ("delta-sized lookups broadcast", r"BroadcastHashJoin"),
        ("per-key window over the delta only", r"Window"),
    ],
}

# query -> [(property label, regex that must NOT match the executed plan)]
# — the anti-scale markers: a global sort of the full input, or a
# nested-loop/cartesian pair generation, silently reintroduced by a
# refactor would pass every value check and still be wrong at 100 TB.
FORBIDDEN = {
    "q_llm_shard_assign": [
        ("no global range-sort of the corpus", r"rangepartitioning"),
        ("no single-partition exchange of doc rows before aggregation", r"Exchange SinglePartition[^\n]*\n[^\n]*FileScan"),
    ],
    "q_join_theta_banded": [
        ("no nested-loop join", r"NestedLoop|CartesianProduct"),
    ],
    "q_join_theta_cdf": [
        ("no pair join at all", r"NestedLoop|CartesianProduct"),
        ("no global range-sort of the merged stream", r"rangepartitioning"),
    ],
    "q_llm_dedup_editdist": [
        ("candidates from equi-join, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_llm_dedup_minhash": [
        ("LSH bucket equi-join, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_llm_dedup_simhash_scaled": [
        ("block-triple equi-join, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_ts_burst": [
        ("time-band equi-join, not per-user cross join", r"NestedLoop|CartesianProduct"),
    ],
    "q_win_funnel": [
        ("no global sort of events", r"rangepartitioning"),
    ],
    "q_llm_chunk": [
        ("chunking is map-only — no shuffle at all", r"Exchange"),
    ],
    "q_fn_variant": [
        ("variant parse/extract is map-only — no shuffle at all", r"Exchange"),
    ],
    "q_llm_containment": [
        ("set math only on LSH candidates, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_graph_triangles": [
        ("no nested-loop pair generation", r"NestedLoop|CartesianProduct"),
    ],
    "q_graph_jaccard_neighbors": [
        ("wedge candidates from equi-join, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_graph_pagerank": [
        ("no cartesian product (scalar N joins are broadcast)", r"CartesianProduct"),
        ("no global range-sort", r"rangepartitioning"),
    ],
    "q_llm_dedup_semantic": [
        ("pair generation is a cluster-id equi-join, never all-pairs", r"CartesianProduct"),
    ],
    "q_llm_kmeans": [
        # assignment is a map-only argmin over a one-row broadcast centroid
        # array — no per-vector window, no n*k row explosion to shuffle
        ("assignment argmin is map-only (no window)", r"\bWindow\b"),
    ],
    "q_tpch_q3": [
        ("no global range-sort (top-k is TakeOrdered)", r"rangepartitioning"),
    ],
    "q_tpch_q10": [
        ("no global range-sort (top-k is TakeOrdered)", r"rangepartitioning"),
    ],
    "q_tpch_q6": [
        ("no data-row shuffle (only the one-row final agg exchange)", r"Exchange hashpartitioning"),
    ],
    "q_llm_dedup_minhash_fast": [
        ("fast path keeps the LSH bucket equi-join, not all-pairs", r"NestedLoop|CartesianProduct"),
    ],
    "q_llm_dedup_incremental": [
        ("no batch-x-history cross join anywhere", r"NestedLoop|CartesianProduct"),
    ],
    "q_llm_quality_classifier": [
        ("scoring is map-only — no shuffle at all", r"Exchange"),
    ],
    "q_tpch_q1": [
        ("no global range-sort", r"rangepartitioning"),
    ],
    "q_tpch_q21": [
        ("correlated subqueries never nest-loop", r"NestedLoop|CartesianProduct"),
    ],
    "q_llm_dedup_semantic_arrow": [
        # the only NestedLoop allowed is _km_assign's one-row broadcast
        # centroid array; a CartesianProduct would mean a real pair join
        ("pair matrix stays inside the Arrow batch — no pair join at all",
         r"CartesianProduct"),
    ],
    "q_llm_dedup_substring": [
        ("gram emission never joins — map-only until the hash aggregate",
         r"Join|CartesianProduct"),
    ],
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # AQE off for the audit only: adaptive plans print as
    # AdaptiveSparkPlan isFinalPlan=false without codegen markers until
    # executed; the static plan shows the full picture. Production keeps
    # AQE on (kse/session.py).
    spark = get_session(
        "kse-plan-audit", extra_conf={"spark.sql.adaptive.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()

    failures: list[str] = []
    sections: list[str] = []
    audited = list(REQUIRED) + [n for n in FORBIDDEN if n not in REQUIRED]
    for name in audited:
        df = qs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = []
        for label, pattern in REQUIRED.get(name, []):
            ok = re.search(pattern, plan) is not None
            if not ok:
                failures.append(f"{name}: {label} (pattern {pattern!r})")
            rows.append(f"| {label} | {'PASS' if ok else '**FAIL**'} |")
        for label, pattern in FORBIDDEN.get(name, []):
            ok = re.search(pattern, plan) is None
            if not ok:
                failures.append(f"{name}: {label} (forbidden pattern {pattern!r} matched)")
            rows.append(f"| {label} | {'PASS' if ok else '**FAIL**'} |")
        sections.append(
            f"## {name}\n\n| property | status |\n| --- | --- |\n"
            + "\n".join(rows)
            + "\n\n```\n"
            + plan.strip()[:4000]
            + "\n```\n"
        )

    header = (
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n"
        f"Scale dir: `{sf_dir}`. Raw driver files (no engine layout), the\n"
        "plans the correctness gate runs. Each section asserts the optimizer\n"
        "property that query's 100 TB design depends on (DESIGN.md).\n\n"
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote {out}")
    if failures:
        print("MISSING PROPERTIES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    n_props = sum(len(v) for v in REQUIRED.values()) + sum(len(v) for v in FORBIDDEN.values())
    print(f"all {n_props} properties hold across {len(audited)} queries")


if __name__ == "__main__":
    main()
