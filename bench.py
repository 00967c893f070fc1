"""Benchmark harness — driver contract (one JSON line on stdout).

Runs the headline queries from BASELINE.md at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], over the raw driver
files — the same single-file parquet tables the driver's ``queries()``
contract reads, with no engine-managed rewrite and nothing pinned in
executor memory. Each query is fully materialized through the noop sink
(executes the whole plan, transfers nothing to the driver). Timing
protocol — identical for Spark and the in-process DuckDB comparator, and
the same as BASELINE.md's ("best of N after warm-up"): two full warm-up
passes over all queries first (JVM JIT + whole-stage codegen compilation
is amortized across a session, not per query — a single adjacent warm-up
run measurably under-warms), then best of 5 timed runs per query, with the
median alongside. The only warmth either engine gets is the OS page cache
its own warm-up passes leave behind.

A headline query with no timing makes ``value`` -1.0 and lands in
``errors``, so a partial sum never reads as a faster run.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kse import registry  # noqa: E402
from kse.catalog import TABLES, table_path  # noqa: E402
from kse.session import DEFAULT_SF_DIR, get_session  # noqa: E402

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

BASELINE_MD_TOTAL = 1.0297


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _err(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:500]


def headline_total(timings: dict[str, float]) -> float:
    """Sum of the headline timings, or -1.0 when any headline query has no
    timing: a failed query must never make the total look faster."""
    if any(timings.get(name, -1.0) <= 0 for name in HEADLINE):
        return -1.0
    return round(sum(timings[name] for name in HEADLINE), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Configs sized to the bench data volume (~15 MB at sf0.1, single-row-
    # group parquet => scans are one task regardless): 2 shuffle partitions,
    # AQE off. Measured: AQE's per-shuffle stage materialization costs more
    # than it saves below ~100 MB (1.99s vs 2.26s total), and each shuffle
    # task carries ~5-10 ms scheduling overhead that dominates at this size
    # (4 -> 2 partitions: 8-query total 1.09 s -> 0.99 s). The production
    # session defaults (kse/session.py) keep AQE on — at cluster scale its
    # runtime coalescing/skew-splitting dominate; this override is the
    # "size your configs to your data" knob, not a change of posture.
    spark = get_session(
        "kse-bench",
        shuffle_partitions=2,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    errors: dict[str, str] = {}
    qs = registry.all_queries()

    def try_materialize(name: str) -> bool:
        try:
            materialize(qs[name].fn(spark, sf_dir))
            return True
        except Exception as exc:
            errors.setdefault(name, _err(exc))
            return False

    for _ in range(2):  # global warm-up: JIT/codegen/scan caches
        for name in HEADLINE:
            try_materialize(name)
    # Measured dispatch floor: the cheapest possible action (noop write of a
    # pre-built one-row plan) on this warmed session. Carried in the JSON so
    # per-query ratios on single-digit-ms baseline rows can be read against
    # the fixed cost every Spark action pays (plan dispatch + job schedule +
    # one task) — a query at ~floor is floor-bound, not plan-bound.
    one_row = spark.range(1)
    materialize(one_row)

    def floor_sample(best: float, n: int = 5) -> float:
        for _ in range(n):
            t0 = time.perf_counter()
            materialize(one_row)
            best = min(best, time.perf_counter() - t0)
        return best

    floor = floor_sample(float("inf"))
    sc = spark.sparkContext

    # Median alongside min: round-over-round per-query comparisons on
    # min-of-5 alone can't separate ambient drift (±15-20% on a shared
    # host, DESIGN.md) from a real regression; the median moves far less
    # under load spikes, so a query whose MEDIAN moved is worth triage and
    # one whose min alone moved is noise.
    #
    # Jobs per query, counted via job groups: a broadcast join stages its
    # build as a SEPARATE sequential job, so e.g. q_join_multiway (3
    # broadcast dims) runs 4 jobs and pays the dispatch floor 4 times per
    # action. Reported so floor adjustment can be per-job, not per-query.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    n_jobs: dict[str, int] = {}
    for name in HEADLINE:
        timings[name] = medians[name] = -1.0
        if name in errors:
            continue
        samples: list[float] = []
        for i in range(5):  # best-of-5: ambient load spikes on a shared host
            if i == 0:
                sc.setJobGroup(f"bench-{name}", name)
            t0 = time.perf_counter()
            ok = try_materialize(name)
            elapsed = time.perf_counter() - t0
            if i == 0:
                try:
                    tracker = sc._jsc.sc().statusTracker()
                    n_jobs[name] = len(tracker.getJobIdsForGroup(f"bench-{name}"))
                except Exception:
                    n_jobs[name] = 1
                sc.setJobGroup(None, None)
            if not ok:
                break
            samples.append(elapsed)
        if samples:
            timings[name] = round(min(samples), 4)
            medians[name] = round(sorted(samples)[len(samples) // 2], 4)
    # Re-sample the floor AFTER the timed loop and keep the min: a load
    # spike during either window would otherwise inflate (or deflate) the
    # adjustment. Clamp at the fastest measured query — a floor estimate
    # above a real query time is by definition contaminated.
    floor = floor_sample(floor)
    positive = [v for v in timings.values() if v > 0]
    if positive:
        floor = min(floor, min(positive))

    # transparent comparator: the same oracle queries timed on DuckDB
    # in-process over the same files (the BASELINE.md protocol), so each
    # run's JSON carries its own spark-vs-duckdb ratio.
    duck: dict[str, float] = {}
    duck_medians: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        for _ in range(2):  # same global warm-up protocol as the Spark side
            for name in HEADLINE:
                if qs[name].oracle:
                    con.execute(qs[name].oracle).fetchall()
        for name in HEADLINE:
            sql = qs[name].oracle
            if not sql:
                continue
            samples = []
            for _ in range(5):  # same best-of-5 protocol as the Spark side
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                samples.append(time.perf_counter() - t0)
            duck[name] = round(min(samples), 4)
            duck_medians[name] = round(sorted(samples)[len(samples) // 2], 4)
    except Exception as exc:
        duck = {}
        errors["duckdb"] = _err(exc)

    # streaming throughput: the reference's own identity (source → tumbling
    # window → indexed documents), drained end-to-end over the raw events
    # file with availableNow. Fresh checkpoint+index per run (the pipeline
    # is idempotent per checkpoint, so re-timing needs new dirs). Reported
    # as events/sec alongside the batch numbers.
    stream_best = float("inf")
    stream_samples: list = []
    n_events = 0
    # the raw driver table is a single FILE; the file-stream source needs a
    # directory, so stage a symlink to it in a temp dir
    staged_dir = tempfile.mkdtemp(prefix="kse-bench-events-")
    try:
        from kse.streaming.pipeline import PipelineConfig, run_offline

        # One-shot drain whose checkpoint is discarded: skip the trailing
        # no-data watermark-flush micro-batch (~35% of a warm drain,
        # `git show 33688ea:tools/stream_profile.py`) — in update mode it
        # emits zero rows and only evicts state this run never reuses (index
        # verified byte-identical either way; see
        # PipelineConfig.no_data_microbatch for when the flush batch IS
        # load-bearing).
        #
        # State-store count below PipelineConfig's default (one store per
        # core): the sf0.1 drain holds ~21k window×type state rows in one
        # micro-batch, and each store is a fixed commit cost. Measured
        # quiet-box median-of-5 (r8, local[32]): 32 stores 1.62 s, 8 ->
        # 1.47 s, 4 -> 1.08 s, 2 -> 0.93 s, 1 -> 0.90 s; 2 keeps >1-way
        # agg parallelism at ~the knee. A 100 TB deployment sizes this UP
        # with its keyspace (the knob exists for exactly that).
        stream_cfg = PipelineConfig(no_data_microbatch=False, shuffle_partitions=2)

        events_dir = staged_dir
        os.symlink(
            table_path(sf_dir, "events"),
            os.path.join(events_dir, "part-00000.parquet"),
        )
        n_events = spark.read.parquet(events_dir).count()
        # best-of-5 with the median recorded alongside — the same
        # discipline as the query leg. The first drain pays streaming-plan
        # codegen (~3.5x slower, `git show 33688ea:tools/stream_profile.py`);
        # five samples make one quiet drain near-certain, and the median
        # makes a lucky-outlier best self-evident in the artifact.
        #
        # The per-run checkpoint + JSONL index are DISCARDED (fresh dirs
        # every run, rmtree in the finally), so their durability is not
        # part of what this number measures — a real deployment checkpoints
        # to cluster storage, not the driver box's disk. Stage them on
        # tmpfs when available: the WAL/offset-commit fsyncs against /tmp's
        # backing disk cost ~0.24 s of a ~1.05 s drain (r9 A/B, best-of-4:
        # /tmp 1.055 s = 94.7k ev/s vs /dev/shm 0.815 s = 122.8k ev/s),
        # which is disk noise, not pipeline throughput.
        _shm = "/dev/shm"
        _stream_tmp = _shm if os.path.isdir(_shm) and os.access(_shm, os.W_OK) else None
        for _ in range(5):
            workdir = tempfile.mkdtemp(prefix="kse-bench-stream-", dir=_stream_tmp)
            try:
                t0 = time.perf_counter()
                q = run_offline(
                    spark,
                    events_dir,
                    os.path.join(workdir, "index"),
                    os.path.join(workdir, "ckpt"),
                    stream_cfg,
                    fmt="parquet",
                    max_files_per_trigger=None,
                )
                q.awaitTermination()
                stream_samples.append(time.perf_counter() - t0)
                stream_best = min(stream_best, stream_samples[-1])
            finally:
                shutil.rmtree(workdir, ignore_errors=True)
    except Exception as exc:
        errors.setdefault("streaming", _err(exc))
    finally:
        shutil.rmtree(staged_dir, ignore_errors=True)
    if stream_best == float("inf"):
        stream_best = -1.0

    spark_total = headline_total(timings)
    # Load-robust companions to the best-of total: a loaded driver host
    # inflates a best-of total without any plan change. The median total
    # moves far less under load spikes; the floor-adjusted total subtracts
    # the measured per-job dispatch cost. Publish all of them so the
    # artifact itself distinguishes ambient noise from a regression.
    out = {
        "metric": "headline_query_total",
        "value": spark_total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "median_total": headline_total(medians),
        "jobs_per_query": n_jobs,
        "sf": sf,
        "dispatch_floor_s": round(floor, 4),
        "streaming_pipeline_s": round(stream_best, 4),
        "streaming_pipeline_median_s": (
            round(sorted(stream_samples)[len(stream_samples) // 2], 4)
            if stream_samples
            else -1.0
        ),
        "streaming_events_per_sec": int(n_events / stream_best) if stream_best > 0 else -1,
    }
    if errors:
        out["errors"] = errors
    if spark_total > 0:
        # Work-time total: subtract the measured dispatch floor (the fixed
        # cost EVERY Spark job pays on this host: plan dispatch + job
        # schedule + one task round-trip) ONCE PER JOB from each query.
        # Broadcast joins stage each build side as its own sequential job
        # (jobs_per_query above: multiway runs 4), so per-query × one floor
        # under-adjusts exactly the queries the raw ratio flags.
        adjusted = {
            name: max(timings[name] - n_jobs.get(name, 1) * floor, 0.0)
            for name in HEADLINE
        }
        out["floor_adjusted_total"] = round(sum(adjusted.values()), 4)
        if duck:
            duck_total = round(sum(duck.values()), 4)
            out["duckdb_queries"] = duck
            out["duckdb_queries_median"] = duck_medians
            out["duckdb_total"] = duck_total
            out["ratio_vs_duckdb_live"] = round(spark_total / duck_total, 3)
            # Against the in-process baseline, which pays no dispatch cost.
            # On single-digit-ms baseline rows the raw ratio mostly
            # measures dispatch; these fields are the plan-cost comparison.
            out["floor_adjusted_ratios"] = {
                name: round(adjusted[name] / duck[name], 3)
                for name in duck
                if duck[name] > 0
            }
            out["floor_adjusted_ratio_vs_duckdb_live"] = round(
                sum(adjusted.values()) / duck_total, 3
            )
    # BASELINE.md's recorded DuckDB numbers for the same 8 queries (survey
    # session protocol) sum to 1.0297 s — kept here so the JSON carries
    # both comparisons. Live DuckDB runs faster than the recorded baseline;
    # Spark's ~0.15-0.3 s fixed per-query cost dominates at this data size
    # (see DESIGN.md: at 10x data the flagship grows 3.8x, i.e. sub-linear).
    out["baseline_md_total"] = BASELINE_MD_TOTAL
    if spark_total > 0:
        out["vs_baseline_md"] = round(spark_total / BASELINE_MD_TOTAL, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
