"""Scaling-headroom harness: headline ops at 10x the bench tier.

Synthesizes sf~1 data (6M lineitem / 1.5M orders / 1M events / 50k docs /
20k vecs) with deterministic generators, writes it through the engine's
multi-file layout, and times the headline queries on Spark and DuckDB over
the *same* files. This is the repro behind DESIGN.md's "measured scaling
headroom" table: the claim under test is that plans are shuffle-bounded
(sub-linear wall-clock in rows on fixed cores) and that Spark's gap to an
in-process engine narrows as data grows.

Each query's Spark and DuckDB runs alternate in the same window (3 each
after warm-up), so ambient host load hits both columns alike; the --json
artifact keeps both raw sample lists per query next to the best-of and
ratio, plus the core count and host. Nothing here reads a committed
artifact: a reading is compared with its same-run comparator, not with
earlier runs.

Usage:  python tools/scale10.py [--rows-mult N] [--spark-only] [--ops a,b]
                                [--once] [--registry] [--json PATH]
        (default mult 10; --spark-only skips the DuckDB comparison and the
        headline-ratio table — the mode for the 100x scale-failure hunt,
        where the question is "does the Spark plan survive", not "what is
        the ratio"; --ops restricts the timed list to a comma-separated
        subset for triage; --once is the survival sweep: no warm-up, one
        run per engine, failures recorded per query; --registry times every
        registered query; --json writes the machine-readable artifact)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from kse import catalog, registry  # noqa: E402
from kse.session import get_session  # noqa: E402

HEADLINE = [
    "q_agg_groupby",
    "q_join_multiway",
    "q_join_inner_hash",
    "q_topk_per_group",
    "q_fn_json",
    "q_llm_text_tokens",
    "q_llm_dedup_exact",
    "q_llm_sim_knn",
]

# Scale-safe rewrites measured separately: their value is the plan shape
# (distributed prefix sum, banded equi-join, window-dedup composite, LSH
# candidate generation), so the 10x run is the evidence the rewrite
# actually scales. The near-dup family runs against the Zipfian generator
# below (a 30k-surface-form vocabulary with planted near-duplicate pairs);
# candidate counts and planted-pair recall are asserted after timing —
# a bounded candidate set is the property that keeps LSH dedup O(n) at
# 100 TB, so the run fails loudly if a generator or operator change
# reintroduces quadratic candidates.
SCALE_OPS = [
    "q_llm_shard_assign",
    "q_join_theta_banded",
    "q_join_theta_cdf",
    "q_agg_percentile_dist",
    "q_agg_percentile_disc_dist",
    "q_agg_winsorize_dist",
    "q_agg_pareto_dist",
    "q_win_range_between_dist",
    "q_win_ntile_percent_dist",
    "q_llm_curate",
    "q_win_sessionize",
    "q_ts_zscore",
    "q_ts_ewma",
    "q_llm_dedup_minhash",
    "q_llm_dedup_minhash_fast",
    "q_llm_dedup_cluster",
    "q_llm_dedup_cluster_bigstar",
    "q_llm_dedup_simhash",
    "q_llm_dedup_simhash_scaled",
    "q_udf_simhash_arrow",
    "q_llm_dedup_ngram_jaccard",
    "q_llm_kmeans",
    "q_llm_chunk",
    "q_llm_domain_cap",
    "q_llm_dedup_url",
    "q_graph_triangles",
    "q_graph_jaccard_neighbors",
    # embedding family at 20k vectors: brute force must stay
    # WindowGroupLimit-bounded, the bucketed variants must stay
    # equi-join-bounded, and the evaluator measures both probes' recall
    "q_llm_sim_knn_batch",
    "q_llm_sim_lsh_ann",
    "q_llm_sim_ivf",
    "q_llm_dedup_embed",
    "q_llm_dedup_semantic",
    "q_llm_dedup_semantic_arrow",
    "q_llm_dedup_substring",
    "q_llm_sim_ann_recall",
    "q_llm_dedup_incremental",
    "q_sql_scd2_incremental",
    # decision-support heavies at 6M lineitem rows: the fact table only
    # shuffles on its join/agg keys, dims broadcast, Q1 is one codegen
    # span, Q21 runs semi+anti over the same 6M-row fact
    "q_tpch_q1",
    "q_tpch_q2",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q13",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_tpch_q21",
    # Graph-op timings run on the eagerly localCheckpoint-ed edge table
    # (_copurchase_edges), so they measure the ALGORITHM on materialized
    # edges while DuckDB's oracle re-derives edges inside every run. The
    # one-time derivation cost is therefore timed and printed separately
    # below — read spark_graph_total = derivation + per-op times when
    # comparing end-to-end. q_graph_pagerank stays out of the ratio table
    # (6 chained iterations make its oracle CTE-materialization-bound, a
    # recursion-engine comparison already covered by dedup_cluster).
    # q_llm_dedup_editdist stays at the sf0.1 tier: length-banding blocks
    # O(n²) only when lengths cluster; on this corpus's uniform 100-600
    # char spread, 50k docs put ~1.6k docs per 16-char band, i.e. ~10⁸
    # thresholded levenshtein calls (and DuckDB's levenshtein has no
    # threshold arg, so the oracle pays full-DP). The honest 100 TB path
    # for edit-distance dedup is LSH/minhash candidate generation FIRST,
    # then editdist verification on those candidates — which is exactly
    # what q_llm_dedup_ngram_jaccard measures above.
]

# Documents vocabulary: ranks sampled log-uniformly over 30k surface forms
# (P(rank r) ∝ 1/r — Zipf s≈1, the empirical shape of natural-language
# token frequency). The previous 16-word uniform vocab made every doc an
# LSH candidate of every other, so a dedup timing measured the generator's
# degeneracy, not the operator (DESIGN.md's round-2 exclusion). 2% of docs
# (id % 50 == 1) are planted near-duplicates of their predecessor: same
# word sequence with ~4% of positions resampled, landing shingle-Jaccard
# around 0.8-0.9 — inside MinHash's 4x4 banding sweet spot.
_VOCAB = 30_000
_DUP_EVERY = 50  # id % 50 == 1 -> near-dup of id-1
_MUT_ONE_IN = 40  # per-position resample probability for planted dups
# (1/40 per token -> 3-shingle survival 0.975^3 ≈ 0.93 -> Jaccard ≈ 0.86
#  -> 4x4-band hit probability ≈ 0.96, comfortably above the recall gate)


def _zipf_word(base, i, seed: int):
    u = F.pmod(F.xxhash64(base, i, F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0
    return F.concat(
        F.lit("w"), F.floor(F.pow(F.lit(float(_VOCAB)), u)).cast("long")
    )


def synthesize(spark, dest: str, mult: int) -> None:
    """Deterministic generators shaped like FIXTURES.md's domains."""
    n_li, n_ord, n_cust = 600_000 * mult, 150_000 * mult, 15_000 * mult
    n_ev, n_doc, n_vec = 100_000 * mult, 5_000 * mult, 2_000 * mult

    def w(df, name, n_files):
        df.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dest, f"{name}.parquet")
        )

    r = spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.concat(F.lit("REGION#"), F.col("id")).alias("r_name"),
    )
    w(r, "region", 1)
    n = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION#"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )
    w(n, "nation", 1)
    c = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        (F.pmod(F.xxhash64("id"), F.lit(100000)) / 100.0 - 100.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["AUTO", "BUILD", "HOUSE", "MACH", "FURN"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("c_mktsegment"),
    )
    w(c, "customer", 2)
    s = spark.range(1_000 * mult).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        (F.col("id") % 25).cast("int").alias("s_nationkey"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100000)) / 100.0).alias("s_acctbal"),
    )
    w(s, "supplier", 1)
    p = spark.range(20_000 * mult).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("part "), F.col("id")).alias("p_name"),
        F.concat(F.lit("Brand#"), (F.col("id") % 50 + 1)).alias("p_brand"),
        F.concat(F.lit("TYPE "), (F.col("id") % 30)).alias("p_type"),
        (F.col("id") % 50 + 1).cast("int").alias("p_size"),
        (900.0 + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(120000)) / 100.0).alias(
            "p_retailprice"
        ),
    )
    w(p, "part", 2)
    o = spark.range(n_ord).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_cust)).alias("o_custkey"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("o_orderstatus"),
        (1000.0 + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(50_000_000)) / 100.0).alias(
            "o_totalprice"
        ),
        F.timestamp_micros(
            (F.lit(694224000_000_000) + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(220_000_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("o_orderdate"),
        F.concat(F.lit("PRIORITY-"), (F.col("id") % 5)).alias("o_orderpriority"),
    )
    w(o, "orders", 4 * max(1, mult // 2))
    li = spark.range(n_li).select(
        F.pmod(F.xxhash64("id", F.lit(6)), F.lit(n_ord)).alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(20_000 * mult)).alias("l_partkey"),
        F.pmod(F.xxhash64("id", F.lit(8)), F.lit(1_000 * mult)).alias("l_suppkey"),
        (F.col("id") % 7 + 1).cast("int").alias("l_linenumber"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(50)) + 1).cast("double").alias("l_quantity"),
        (901.0 + F.pmod(F.xxhash64("id", F.lit(10)), F.lit(10_000_000)) / 100.0).alias(
            "l_extendedprice"
        ),
        (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(11)) / 100.0).alias("l_discount"),
        (F.pmod(F.xxhash64("id", F.lit(12)), F.lit(9)) / 100.0).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F")), (F.col("id") % 2 + 1).cast("int")
        ).alias("l_linestatus"),
        F.timestamp_micros(
            (F.lit(788918400_000_000) + F.pmod(F.xxhash64("id", F.lit(13)), F.lit(215_000_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("l_shipdate"),
    )
    w(li, "lineitem", 16 * max(1, mult // 2))
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1704067200_000_000) + F.pmod(F.xxhash64("id", F.lit(14)), F.lit(2_592_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(15)), F.lit(1000 * mult)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["click", "view", "purchase", "signup", "error"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(16)), F.lit(100000)) / 1000.0).alias("value"),
        F.concat(F.lit('{"k": '), F.pmod(F.xxhash64("id", F.lit(17)), F.lit(100)), F.lit("}")).alias("props"),
    )
    w(ev, "events", 8 * max(1, mult // 2))
    is_dup = (F.col("id") % _DUP_EVERY == 1) & (F.col("id") > 0)
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    docs = spark.range(n_doc).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), (F.pmod(F.xxhash64(base, F.lit(18)), F.lit(80)) + 20).cast("int")),
                lambda i: F.when(
                    is_dup
                    & (F.pmod(F.xxhash64(F.col("id"), i, F.lit(999)), F.lit(_MUT_ONE_IN)) == 0),
                    _zipf_word(F.col("id"), i, 777),
                ).otherwise(_zipf_word(base, i, 18)),
            ),
        ).alias("text"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["de", "en", "es", "fr", "zh"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src-"), (F.col("id") % 7)).alias("source"),
        F.lit(0).cast("long").alias("n_chars"),
    ).withColumn("n_chars", F.length("text"))
    w(docs, "documents", 4)
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) / 1000.0 - 1.0).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )
    w(emb, "embeddings", 4)


# Cold 100x reference for the scd2 fixed-cost guard in main(): the median
# of the two committed once-cold 100x registry sweeps, SCALE100_r10.json
# (2.0672 s) and SCALE100_r11.json (1.3591 s) -> (2.0672 + 1.3591) / 2 =
# 1.713 s. Both are the same posture as the guard's subject (--once: no
# warm-up, one run), so a warm best-of-3 10x reading never stands in for
# a cold one.
SCD2_COLD_100X_S = 1.713


def interleave(spark_run, duck_run, runs: int) -> tuple[list[float], list[float]]:
    """Time ``runs`` Spark runs and ``runs`` DuckDB runs of one query,
    alternating Spark, DuckDB, Spark, ... so ambient load on the host hits
    both columns alike. ``duck_run`` None times Spark only. Returns the two
    raw sample lists in seconds."""
    spark_s: list[float] = []
    duck_s: list[float] = []
    for _ in range(runs):
        for fn, out in ((spark_run, spark_s), (duck_run, duck_s)):
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
    return spark_s, duck_s


def scale_row(spark_s: list[float], duck_s: list[float]) -> dict:
    """One artifact row: both raw sample lists, plus the best of each and
    their ratio (None where DuckDB did not run)."""
    spark = min(spark_s)
    duck = min(duck_s) if duck_s else None
    return {
        "spark": round(spark, 4),
        "duckdb": round(duck, 4) if duck else None,
        "ratio": round(spark / duck, 3) if duck else None,
        "spark_samples": [round(v, 4) for v in spark_s],
        "duckdb_samples": [round(v, 4) for v in duck_s],
    }


def main() -> None:
    mult = 10
    if "--rows-mult" in sys.argv:
        mult = int(sys.argv[sys.argv.index("--rows-mult") + 1])
    spark_only = "--spark-only" in sys.argv
    once = "--once" in sys.argv  # 0 warm-ups, 1 timed run: the survival
    # sweep (does every plan COMPLETE at this tier), not a measurement
    registry_sweep = "--registry" in sys.argv  # survival-run every
    # registered query NOT already in the timed lists (implies the skip
    # list below: queries whose 100x degeneracy is a documented property
    # of the GENERATOR, not the plan)
    only_ops = None
    if "--ops" in sys.argv:
        only_ops = set(sys.argv[sys.argv.index("--ops") + 1].split(","))
    json_path = None  # --json PATH: machine-readable SCALE_r{N}.json artifact
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]
    dest = f"/tmp/kse-scale{mult}x"
    spark = get_session("kse-scale10")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(os.path.join(dest, "_DONE")):
        shutil.rmtree(dest, ignore_errors=True)
        t0 = time.perf_counter()
        synthesize(spark, dest, mult)
        open(os.path.join(dest, "_DONE"), "w").close()
        print(f"# synthesized {mult}x at {dest} in {time.perf_counter()-t0:.1f}s")

    # the generated dir IS the engine layout (multi-file, micros
    # timestamps); the fact tables additionally land bucketed there, so
    # the join-heavy and per-user window ops measure the CO-LOCATED plan
    # they'd run at 100 TB — bucket-pruned scans, no fact-side Exchange
    catalog.adopt_layout(spark, dest, dest)

    def mat(df):
        df.write.mode("overwrite").format("noop").save()

    qs = registry.all_queries()
    timed = HEADLINE + SCALE_OPS
    if registry_sweep:
        # Documented exclusions, each a generator-degeneracy, not a plan
        # property (see the SCALE_OPS comment block for editdist):
        # - q_join_theta: the RAW BroadcastNestedLoop strategy, kept
        #   registered for genuinely broadcast-small sides; at 100x the
        #   fixed value domain makes its output quadratic (2e11 compares)
        #   — q_join_theta_banded/_cdf are its scale shapes, both timed.
        # - q_llm_dedup_editdist: length-banding can't block a uniform
        #   100-600 char spread; the 100 TB path is LSH-first (timed).
        # - q_agg_percentile: Spark's exact `percentile` aggregate buffers
        #   a value->count map per group — ~10M distinct prices at 100x
        #   OOMed the 8g heap (measured by this sweep). Operator property,
        #   not a plan bug; its two scale shapes ARE timed:
        #   q_agg_approx_percentile (GK sketch, bounded) and
        #   q_agg_percentile_dist (exact histogram rank-selection).
        # - q_agg_percentile_disc: same buffering aggregate class as
        #   q_agg_percentile (55 s at 100x, measured; OOMs past that) —
        #   its bounded-memory twin q_agg_percentile_disc_dist IS timed
        #   (21.7 s at 100x, identical output and oracle).
        # - q_win_range_between: the canonical RANGE-frame window form
        #   PARTITIONs BY the 3-value status column, so at any scale the
        #   sort runs on at most 3 tasks (761 s at 100x, measured by this
        #   sweep) — an operator-shape property, not a plan bug. Its
        #   scale shape q_win_range_between_dist (prefix-sum value-range
        #   counts, 32-way stages) IS timed: 24 s at 100x.
        skip = {
            "q_join_theta",
            "q_llm_dedup_editdist",
            "q_agg_percentile",
            "q_agg_percentile_disc",
            "q_win_range_between",
        }
        # ONE artifact covering every registered query (r9 verdict item
        # 6): the sweep includes the HEADLINE/SCALE_OPS names too — under
        # --once they cost one cold run like everyone else, and the
        # resulting JSON lists a completion time (or a documented skip
        # above) for the full registry instead of "everything except the
        # 53 already-timed names".
        timed = sorted(n for n in qs if n not in skip)
        sweep_skips = sorted(skip & set(qs))
        for name in sweep_skips:
            print(f"# registry sweep skip (documented generator degeneracy): {name}")
    if only_ops is not None:
        unknown = only_ops - set(qs)
        if unknown:
            raise SystemExit(f"--ops names not registered: {sorted(unknown)}")
        timed = [n for n in timed if n in only_ops] + sorted(
            only_ops - set(timed)
        )
    con = None
    if spark_only:
        # --spark-only still writes the --json artifact (the 100x registry
        # survival sweep is spark-only by design — its point is completion,
        # not a comparator ratio); duckdb fields emit None.
        print("# duckdb comparison skipped: --spark-only")
    else:
        import duckdb

        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dest}/{t}.parquet/*.parquet')"
            )
    for _ in range(0 if once else 2):
        for name in timed:
            print(f"# warm {name}", flush=True)
            mat(qs[name].fn(spark, dest))
    if con is not None and not once:
        for name in timed:
            if qs[name].oracle:
                con.execute(qs[name].oracle).fetchall()

    # Both engines run each query in the same window on the same files:
    # Spark and DuckDB alternate, so a load spike on the host lands on both
    # columns instead of inflating one of them, and the artifact keeps the
    # raw samples behind every best-of.
    rows: dict[str, dict] = {}
    run_err: dict[str, str] = {}
    for name in timed:
        print(f"# run {name}", flush=True)
        q = qs[name]
        duck_run = None
        if con is not None and q.oracle:
            duck_run = lambda sql=q.oracle: con.execute(sql).fetchall()  # noqa: E731
        try:
            spark_s, duck_s = interleave(
                lambda: mat(q.fn(spark, dest)), duck_run, 1 if once else 3
            )
        except Exception as exc:
            if not once:
                raise
            # Survival sweep: a query that cannot COMPLETE at this tier is
            # the sweep's most important possible finding — record it
            # per-name and keep sweeping instead of dying with a partial
            # artifact (the first r10 100x sweep died 96 queries in when
            # q_llm_overlap_matrix's shuffled-hash build exhausted
            # execution memory, losing the record of everything after it).
            msg = f"{type(exc).__name__}: {exc}"
            run_err[name] = msg.splitlines()[0][:300]
            print(f"# SURVIVAL FAIL {name}: {run_err[name]}", flush=True)
            continue
        rows[name] = scale_row(spark_s, duck_s)

    # Fixed-cost invariance pin (r8 verdict item #6): scd2_incremental's
    # docstring prices the op as constant-bound — dispatch + a few
    # delta/history scans, data work negligible. At the 100x survival tier
    # its cold single run must stay under 4x the committed cold 100x
    # reference (SCD2_COLD_100X_S); a rebuild-shaped regression adds at
    # least one full-feed scan per lookup at this tier and lands far past it.
    _SCD2 = "q_sql_scd2_incremental"
    if mult >= 50 and _SCD2 in rows:
        got = rows[_SCD2]["spark"]
        bound = 4 * SCD2_COLD_100X_S
        status = "OK" if got < bound else "FAIL"
        print(
            f"# scd2 fixed-cost invariance: {got:.2f} s at {mult}x vs committed "
            f"cold 100x reference {SCD2_COLD_100X_S:.2f} s (bound 4x = "
            f"{bound:.2f} s) -> {status}"
        )
        assert got < bound, (
            "q_sql_scd2_incremental lost its fixed-cost shape: "
            f"{got:.2f} s at {mult}x vs {SCD2_COLD_100X_S:.2f} s committed "
            "cold at 100x — the apply is scaling with the feed, which means "
            "a rebuild-shaped scan crept in"
        )

    def headline_total(col: str) -> float | None:
        # None unless every HEADLINE query has a reading in ``col`` — never
        # a silent 0.0 or partial sum into a file read across runs
        vals = [(rows.get(n) or {}).get(col) for n in HEADLINE]
        return round(sum(vals), 4) if all(vals) else None

    h_spark, h_duck = headline_total("spark"), headline_total("duckdb")
    if json_path:
        import json
        import socket

        payload = {
            "metric": "scale_tier_once_cold" if once else "scale_tier_best_of_3_interleaved",
            "rows_mult": mult,
            "unit": "sec",
            "cpus": spark.sparkContext.defaultParallelism,
            "nproc": os.cpu_count(),
            "host": socket.gethostname(),
            **(
                {"registry_sweep": True, "registry_skips": sweep_skips}
                if registry_sweep
                else {}
            ),
            "queries": {
                name: rows.get(name) or {"spark": None, "error": run_err[name]}
                for name in timed
            },
            "headline_total_spark": h_spark,
            "headline_total_duckdb": h_duck,
            "headline_ratio": round(h_spark / h_duck, 3) if h_spark and h_duck else None,
        }
        with open(json_path, "w") as f:
            f.write(json.dumps(payload) + "\n")
        print(f"# wrote {json_path}")
    print(f"| query | spark {mult}x | duckdb {mult}x | ratio |")
    print("| --- | --- | --- | --- |")
    for name in timed:
        if name in run_err:
            print(f"| {name} | FAILED: {run_err[name]} | — | — |")
            continue
        row = rows[name]
        duck = f"{row['duckdb'] * 1000:.0f} ms" if row["duckdb"] else "—"
        ratio = f"{row['ratio']:.2f}x" if row["ratio"] else "—"
        print(f"| {name} | {row['spark'] * 1000:.0f} ms | {duck} | {ratio} |")
    if h_spark:
        duck = f"{h_duck * 1000:.0f} ms" if h_duck else "—"
        ratio = f"{h_spark / h_duck:.2f}x" if h_duck else "—"
        print(f"| HEADLINE TOTAL | {h_spark * 1000:.0f} ms | {duck} | {ratio} |")
    _scale_gates(spark, dest)


def _scale_gates(spark, dest: str) -> None:
    # One-time graph edge derivation (shared by triangles / jaccard /
    # pagerank via the plan cache; DuckDB pays it inside every graph query
    # above). Timed on a fresh build so the checkpoint cost is visible.
    from kse.queries.graphs import _copurchase_edges

    t0 = time.perf_counter()
    n_edges = _copurchase_edges(spark, dest).count()
    print(
        f"# graph edge derivation (one-time, checkpointed): "
        f"{(time.perf_counter() - t0) * 1000:.0f} ms for {n_edges} edges"
    )

    # LSH-dedup scale evidence: the candidate set must stay O(n) and the
    # planted near-dup pairs must actually be found. Loud failure beats a
    # quietly-quadratic rerun.
    from kse.queries.llm import minhash_candidate_pairs

    d = catalog.load(spark, dest, "documents")
    n_docs = d.count()
    cand = minhash_candidate_pairs(d).cache()
    n_cand = cand.count()
    planted = (
        spark.range(n_docs)
        .filter((F.col("id") % _DUP_EVERY == 1) & (F.col("id") > 0))
        .select((F.col("id") - 1).alias("doc_a"), F.col("id").alias("doc_b"))
    )
    n_planted = planted.count()
    n_found = planted.join(cand, ["doc_a", "doc_b"]).count()
    cand.unpersist()
    print(f"# minhash candidates: {n_cand} ({n_cand / n_docs:.2f}/doc; bound 20/doc)")
    print(f"# planted near-dup recall: {n_found}/{n_planted}")
    assert n_cand < 20 * n_docs, "candidate blow-up: LSH no longer O(n) on this corpus"
    assert n_found >= 0.85 * n_planted, "LSH recall collapsed on planted near-dups"

    # Same gates for the xxhash64 production path: candidate volume must
    # stay in the same O(n) regime and planted recall must hold — the
    # whole point of the fast path is identical banding SEMANTICS at ~3x
    # less signature cost, so a regression here means the swap broke it.
    cand_f = minhash_candidate_pairs(d, fast=True).cache()
    n_cand_f = cand_f.count()
    n_found_f = planted.join(cand_f, ["doc_a", "doc_b"]).count()
    cand_f.unpersist()
    print(f"# minhash-fast candidates: {n_cand_f} ({n_cand_f / n_docs:.2f}/doc)")
    print(f"# minhash-fast planted recall: {n_found_f}/{n_planted}")
    assert n_cand_f < 20 * n_docs, "fast-path candidate blow-up"
    assert n_found_f >= 0.85 * n_planted, "fast-path LSH recall collapsed"


if __name__ == "__main__":
    main()
