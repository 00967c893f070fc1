"""Recompute-diamond auditor: flag queries that scan one table >= 3 times.

The r8 pattern: a derived frame feeding two or more consumers re-runs per
consumer, because Spark's exchange reuse does not fire across separately
built Python subtrees — so the repeated work shows up as the SAME parquet
table appearing many times in the executed plan. Three scans of one table
is the heuristic threshold (two is routine: a stats pass + a data pass,
an aggregate + a join-back); at three or more, either the repetition is
priced and whitelisted below, or it is a regression this tool fails on.

Fixed by this audit in r8 (each with interleaved 10x A/B evidence in its
docstring): _pctl_rank_select's checkpointed histogram, the percentile
twins' single-scan explode, pareto_dist's materialized revenue frame,
bloom_dup_flags' materialized key frames, ntile_percent_dist's
checkpointed bucket counts, range_between_dist's explode + conditional
aggregation.

Usage:
    python tools/scan_audit.py [sf_dir]           # audit all queries
    python tools/scan_audit.py [sf_dir] q_a q_b   # audit a subset
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kse import registry  # noqa: E402
from kse.session import get_session  # noqa: E402

# query -> (max scans of any one table, why the repetition is priced)
WHITELIST: dict[str, tuple[int, str]] = {
    "q_llm_dedup_semantic": (
        15,
        "k-means lineage: init + each Lloyd's round references the vector "
        "scan; the expensive O(n^2/k) stage reads the persist()ed "
        "assignment, never the raw table, and the scans are cheap "
        "column-pruned vector reads (beats DuckDB 3x at 10x)",
    ),
    "q_llm_sim_ann_recall": (
        6,
        "recall harness runs the exact and ANN paths side by side by "
        "construction; each path's scans are cheap pruned vector reads "
        "(0.02x of DuckDB at 10x)",
    ),
    "q_llm_sim_ivf": (
        5,
        "centroids / lists / query / candidates each read the pruned "
        "vector table once; the cost is the one-pass distance transform, "
        "not the scans",
    ),
    "q_llm_dedup_semantic_arrow": (
        5,
        "same Lloyd's-lineage shape as q_llm_dedup_semantic's pipeline "
        "(shared helpers); pair stage reads the persisted assignment",
    ),
    "q_llm_kmeans": (
        4,
        "iterative by nature: init + per-round assign each reference the "
        "vector scan; rounds truncate lineage so the count stays bounded",
    ),
    "q_llm_dedup_embed": (
        4,
        "LSH bucketing + centroid refine + join-back each read the pruned "
        "vector table; 0.04x of DuckDB at 10x",
    ),
    "q_sql_scd2_incremental": (
        3,
        "hist for the dim pass, delta for the new versions, and one "
        "combined feed scan for the per-key lookup (max version + first "
        "change in one conditional aggregate) — priced in the op "
        "docstring; a delta checkpoint was tried and rejected (write ~= "
        "saved scan)",
    ),
    "q_join_theta_cdf": (
        4,
        "supplier side: CDF boundary pass + rank pass + two join-backs; "
        "each is a pruned scan of the small dim (0.05x of DuckDB at 10x)",
    ),
    "q_ts_gapfill": (
        3,
        "min/max bounds pass + per-key spine + the data join — the "
        "bounds statistic is two tiny pruned scans",
    ),
    "q_sql_merge": (
        3,
        "MERGE semantics: matched-update, not-matched-insert, and "
        "anti-side each read the target once",
    ),
    "q_llm_tfidf": (
        3,
        "tf pass + df pass + doc-count statistic; the df/total passes "
        "aggregate map-side to metadata size",
    ),
    "q_llm_stopword_strip": (
        3,
        "before/after token counts + the stripped projection — two of "
        "the three are count-only pruned scans",
    ),
    "q_llm_mixture_sample": (
        3,
        "per-source counts (two statistic passes) + the sampled "
        "projection; statistics are metadata-sized aggregates",
    ),
    "q_win_range_between_dist": (
        3,
        "distinct-value aggregate + NULL-peer branch + final join-back — "
        "the r8 explode fix already collapsed the removable repeat "
        "(6 -> 3 scans)",
    ),
}

THRESHOLD = 3


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and not args[0].startswith("q_") else "/root/testdata/sf0.01"
    only = {a for a in args if a.startswith("q_") or a.startswith("src_")}
    spark = get_session(
        "kse-scan-audit", extra_conf={"spark.sql.adaptive.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    n_flag = n_ok = n_stale = 0
    for name, q in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            plan = q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            n_flag += 1
            print(f"FAIL  {name}: PLAN BUILD ERROR {type(exc).__name__}: {exc}")
            continue
        counts = Counter(re.findall(r"file:[^\]\s,]*?/(\w+)\.parquet", plan))
        worst_n = max(counts.values(), default=0)
        bound, why = WHITELIST.get(name, (0, ""))
        if worst_n >= THRESHOLD and worst_n > bound:
            n_flag += 1
            worst = {t: c for t, c in counts.items() if c >= THRESHOLD}
            print(
                f"FAIL  {name}: table scanned {worst_n}x {worst} — a derived "
                "frame is feeding multiple consumers without exchange reuse; "
                "materialize it (truncate_lineage), fuse branches (explode), "
                "or whitelist with a priced rationale"
            )
        elif name in WHITELIST and worst_n < bound:
            # Ratchet (r8 advice): a bound above the measured worst is a
            # silent allowance for regrowth — flag it even when the plan
            # still sits above THRESHOLD, so bounds track reality and can
            # only move down without a priced re-justification.
            n_stale += 1
            action = (
                "remove the entry" if worst_n < THRESHOLD
                else f"ratchet the bound down to {worst_n}"
            )
            print(
                f"stale {name}: whitelisted for {bound} scans but the plan "
                f"now peaks at {worst_n} — {action}"
            )
        else:
            n_ok += 1
    print(
        f"\n== scan-audit: {n_ok} ok, {n_flag} flagged, {n_stale} stale "
        f"whitelist entries =="
    )
    return 1 if (n_flag or n_stale) else 0


if __name__ == "__main__":
    sys.exit(main())
