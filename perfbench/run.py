"""kse benchmark: one closed-loop client per workload, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it records the environment. Workloads, metrics and how the run
length was chosen are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import Ops, env_stamp, median, read_cpu_times, steal_share  # noqa: E402

# bench.py's 8 headline queries, plus one crossing the Arrow/pandas boundary
# and one window-function query
MIX = [
    "q_agg_groupby",
    "q_join_multiway",
    "q_join_inner_hash",
    "q_topk_per_group",
    "q_fn_json",
    "q_llm_text_tokens",
    "q_llm_dedup_exact",
    "q_llm_sim_knn",
    "q_udf_simhash_arrow",
    "q_win_sessionize",
]

# After the timed window, each run stops the session and sets up again this
# many times in the same JVM; setup_s is the median of these restarts.
SETUPS = 3
# The timed window is whole rounds (passes of the mix, or replays of the
# backlog), at least this many, until --seconds have passed: a window of
# one round would time only the round that still runs warm-up code.
MIN_ROUNDS = 2
DISPATCH_SAMPLES = 7

STREAM_STAGES = {
    "queryPlanning": "stream.query_planning_s",
    "addBatch": "stream.add_batch_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and let no
    ambient setting change the session the program builds."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR",
                "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


class Run:
    """State shared by both kinds of workload."""

    def __init__(self, args) -> None:
        from kse.session import get_session

        self.args = args
        self.trace = bool(args.trace)
        self.tracer = layers.Tracer() if self.trace else layers.NoTracer()
        self.master = f"local[{nproc()}]"
        self.ops = Ops()
        self.correct = True
        self.setups: list[float] = []
        self.layer: dict[str, tuple[float, str]] = {}
        self._get_session = get_session

    def fail(self, what: str) -> None:
        self.correct = False
        log(f"CHECK FAILED: {what}")

    def session(self):
        with self.tracer.span("kse.session"):
            spark = self._get_session(master=self.master)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def dispatch_floor(self, spark) -> float:
        """Median time of the cheapest action: a one-row noop write."""
        one_row = spark.range(1)
        samples = []
        for _ in range(DISPATCH_SAMPLES):
            t0 = time.perf_counter()
            one_row.write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
        return median(samples)

    def set(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def finish(self, spark, end_to_end: dict, steal0) -> dict:
        """Layer metrics shared by every workload, then the result object."""
        steal = steal_share(steal0, read_cpu_times())
        print(json.dumps({"env": {**env_stamp(spark, self.master), "cpu_steal_share": steal}}))
        if not self.trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        else:
            self.set("exec.dispatch_floor_s", self.dispatch_floor(spark), "s")
            self.set("host.cpu_steal_share", steal, "ratio")
            for name, (value, unit) in end_to_end.items():
                self.set(f"traced.{name}", value, unit)
            self_times = self.tracer.self_times()
            for span, metric in SELF_TIMES.items():
                self.set(metric, self_times.get(span, 0.0), "s")
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            self.tracer.dump(os.path.join(
                WORK, "spans", f"{self.args.workload}-s{self.args.seed}.jsonl"))
            for name, unit in PER_LAYER.items():
                self.layer.setdefault(name, (0.0, unit))
            metrics = {k: {"value": self.layer[k][0], "unit": self.layer[k][1]}
                       for k in PER_LAYER}
        return {
            "correct": self.correct,
            "attempted": self.ops.attempted,
            "failed": self.ops.failed,
            "metrics": metrics,
        }


# ------------------------------------------------------------ queries


def run_queries(args) -> dict:
    import kse.catalog
    import kse.queries._util
    from kse import registry

    run = Run(args)
    tracer = run.tracer
    if run.trace:
        # the catalog's public loader, as the catalog and the query layer see it
        layers.wrap(kse.catalog, "load", tracer, "kse.catalog")
        layers.wrap(kse.queries._util, "load", tracer, "kse.catalog")
    sf = gen.sf_tables()
    last_plan: dict[str, object] = {}
    lookups = hits = 0

    def build(spark, qs, name):
        nonlocal lookups, hits
        with tracer.span("kse.registry"):
            df = qs[name].fn(spark, sf)
        lookups += 1
        hits += df is last_plan.get(name)
        last_plan[name] = df
        return df

    def execute(spark, qs, name) -> int:
        """One query as a user runs it: the registry's builder, then the
        result collected to the client as Arrow."""
        with tracer.span("query"):
            df = build(spark, qs, name)
            with tracer.span("exec") as parent:
                t = time.time()
                jds, fresh = layers.fresh_execution(spark, df)
                rows = fresh.toArrow().num_rows
            if run.trace:
                for phase, secs in layers.planning_phases(jds).items():
                    tracer.add(f"catalyst.{phase}", t, t + secs, parent)
                    t += secs
                    catalyst[phase] = catalyst.get(phase, 0.0) + secs
        return rows

    catalyst: dict[str, float] = {}
    steal0 = read_cpu_times()

    def setup():
        t0 = time.perf_counter()
        with tracer.span("setup"):
            spark = run.session()
            qs = registry.all_queries()
            last_plan.clear()
            execute(spark, qs, MIX[0])
        run.setups.append(time.perf_counter() - t0)
        return spark, qs

    spark, qs = setup()
    log(f"cold set-up in {run.setups.pop():.2f}s")
    run.set("session.build_s", tracer.total("kse.session"), "s")
    expected = oracle.query_expected(
        ROOT, sf, {name: qs[name].oracle for name in MIX}, os.path.join(WORK, "oracle"))

    # correctness, once per run, outside the timed window; this first pass
    # of the mix in the session is also the warm-up
    t0 = time.perf_counter()
    catalog0, registry0 = tracer.total("kse.catalog"), tracer.total("kse.registry")
    for name in MIX:
        errs = oracle.compare_query(ROOT, build(spark, qs, name).toPandas(), expected[name])
        if errs:
            run.fail(f"{name}: {errs[:3]}")
    run.set("catalog.load_s", tracer.total("kse.catalog") - catalog0, "s")
    run.set("registry.build_s", tracer.total("kse.registry") - registry0, "s")
    log(f"results checked in {time.perf_counter() - t0:.2f}s; timed window starts")
    catalyst.clear()
    lookups = hits = 0
    latencies: dict[str, list[float]] = {name: [] for name in MIX}
    first_exec = layers.last_execution_id(spark)
    gc0 = layers.gc_seconds(spark)
    passes = 0
    start = time.perf_counter()
    while True:
        pass_start = time.perf_counter()
        with tracer.span("pass"):
            for name in MIX:
                t0 = time.perf_counter()
                try:
                    rows = execute(spark, qs, name)
                except Exception as exc:  # counted as a failed operation
                    log(f"{name} raised {type(exc).__name__}: {exc}")
                    rows = None
                latencies[name].append(time.perf_counter() - t0)
                if not run.ops.query(rows, len(expected[name])):
                    log(f"{name}: {rows} rows, checked result has {len(expected[name])}")
        passes += 1
        log(f"pass {passes}: {time.perf_counter() - pass_start:.2f}s")
        if passes >= MIN_ROUNDS and time.perf_counter() - start >= args.seconds:
            break
    window = time.perf_counter() - start
    log(f"timed window: {passes} passes in {window:.2f}s")

    if run.trace:
        run.set("jvm.gc_s", (layers.gc_seconds(spark) - gc0) / passes, "s")
        for key, value in layers.exec_metrics(
                spark, first_exec, layers.last_execution_id(spark)).items():
            run.set(key, value / passes, PER_LAYER[key])
        for phase in ("analysis", "optimization", "planning"):
            run.set(f"catalyst.{phase}_s", catalyst.get(phase, 0.0) / passes, "s")
        for name in MIX:
            run.set(f"query.{name}.p50_s", median(latencies[name]), "s")
        run.set("registry.plan_cache_hit_ratio", hits / lookups, "ratio")
        run.set("registry.plan_cache_lookups", lookups, "count")

    for _ in range(SETUPS):
        spark.stop()
        spark, qs = setup()
        log(f"set up again in {run.setups[-1]:.2f}s")

    samples = [x for name in MIX for x in latencies[name]]
    result = run.finish(spark, {
        "setup_s": (median(run.setups), "s"),
        "throughput_per_s": (len(samples) / window, "1/s"),
        "latency_p50_s": (median(samples), "s"),
    }, steal0)
    shutdown(spark)
    return result


# ------------------------------------------------------------- stream


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def run_stream(args) -> dict:
    from pyspark.sql.streaming import StreamingQueryListener

    from kse.sinks.indexer import JsonlIndexer
    from kse.streaming.pipeline import run_offline

    run = Run(args)
    tracer = run.tracer
    backlog = gen.backlog(WORK, args.seed)
    shares = gen.backlog_stats(backlog)
    events_dir = os.path.join(backlog, "events")
    expected = oracle.stream_expected(os.path.join(backlog, "truth.parquet"))
    indexed_per_round = sum(n for n, _ in expected.values())
    if indexed_per_round != shares["kept"]:
        raise AssertionError("oracle and generator disagree on the kept events")
    rounds_root = os.path.join(WORK, "stream", str(os.getpid()))
    # round number and round span of every query started, by query id: a
    # progress event can arrive after the next round has started
    state = {"round": 0, "span": None, "query": None, "rounds": {}}
    first_data = threading.Event()

    class Listener(StreamingQueryListener):
        """Marks the first committed micro-batch; in the traced run, turns
        every micro-batch's progress into spans."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0 and str(p.id) == state["query"]:
                first_data.set()
            if not run.trace:
                return
            round_no, round_span = state["rounds"].get(str(p.id), (0, None))
            start = _epoch(p.timestamp)
            d = p.durationMs
            batch = tracer.add("kse.streaming.batch", start,
                               start + d.get("triggerExecution", 0) / 1000.0,
                               round_span, f"r{round_no}-b{p.batchId}")
            t = start
            for stage, ms in d.items():
                if stage != "triggerExecution":
                    tracer.add(f"stream.{stage}", t, t + ms / 1000.0, batch,
                               f"{batch}/{stage}")
                    t += ms / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    if run.trace:
        write_fn = JsonlIndexer.foreach_batch

        def foreach_batch(self, index, id_col):
            write = write_fn(self, index, id_col)
            round_no = state["round"]  # called while the round's query is built

            def traced(batch_df, batch_id):
                start = time.time()
                try:
                    return write(batch_df, batch_id)
                finally:
                    tracer.add("kse.sinks.indexer", start, time.time(),
                               f"r{round_no}-b{batch_id}/addBatch")

            return traced

        JsonlIndexer.foreach_batch = foreach_batch

    def start_round(spark):
        state["round"] += 1
        root = os.path.join(rounds_root, f"r{state['round']}")
        first_data.clear()
        q = run_offline(spark, events_dir, os.path.join(root, "index"),
                        os.path.join(root, "ckpt"))
        state["query"] = str(q.id)
        state["rounds"][state["query"]] = (state["round"], state["span"])
        return q, root

    def replay(spark):
        """One whole replay of the backlog; returns (seconds, progress, root)."""
        with tracer.span("kse.streaming.round") as span_id:
            state["span"] = span_id
            t0 = time.perf_counter()
            q, root = start_round(spark)
            q.awaitTermination()
            elapsed = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"replay failed: {q.exception()}")
        return elapsed, q.recentProgress, root

    def check_round(progress, root) -> int:
        """Compare the round's index with the oracle; return how many
        malformed lines the program reported (dead-letter documents in
        another index, or an observed parse-failure counter)."""
        indexer = JsonlIndexer(os.path.join(root, "index"))
        errs = oracle.compare_index(indexer.read_index("event_windows"), expected)
        if errs:
            run.fail(f"stream index: {errs[:3]}")
        dropped = sum(op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators)
        if dropped:
            run.fail(f"{dropped} rows dropped by the watermark")
        reported = sum(
            len(indexer.read_index(name))
            for name in os.listdir(os.path.join(root, "index")) if name != "event_windows"
        )
        observed = sum(
            int(v) for p in progress for row in (p.observedMetrics or {}).values()
            for k, v in row.asDict().items()
            if any(s in k.lower() for s in ("malformed", "corrupt", "parse"))
        )
        return min(shares["malformed"], max(reported, observed))

    steal0 = read_cpu_times()

    def setup(listener):
        """Session to first committed micro-batch; returns the session and
        the still-running query."""
        t0 = time.perf_counter()
        with tracer.span("setup") as span_id:
            state["span"] = span_id
            spark = run.session()
            spark.streams.addListener(listener)
            q, root = start_round(spark)
            while not first_data.wait(0.05):
                if q.exception() is not None:
                    raise RuntimeError(f"replay failed: {q.exception()}")
        run.setups.append(time.perf_counter() - t0)
        return spark, q, root

    listener = Listener()
    spark, q, root = setup(listener)
    log(f"cold set-up in {run.setups.pop():.2f}s")
    run.set("session.build_s", tracer.total("kse.session"), "s")
    # the first replay runs to its end as the warm-up round, and is
    # checked like every timed one
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"replay failed: {q.exception()}")
    check_round(q.recentProgress, root)
    shutil.rmtree(root, ignore_errors=True)
    log("warm-up replay done and checked")

    first_exec = layers.last_execution_id(spark)
    gc0 = layers.gc_seconds(spark)
    wall = 0.0
    rounds = 0
    batches: list = []
    sink = {"bytes": [], "files": [], "written": [], "ckpt": []}
    while rounds < MIN_ROUNDS or wall < args.seconds:
        elapsed, progress, root = replay(spark)
        wall += elapsed
        rounds += 1
        reported = check_round(progress, root)
        run.ops.lines(shares["lines"], shares["malformed"], reported)
        batches += [p for p in progress if p.numInputRows > 0]
        log(f"timed replay {rounds} in {elapsed:.2f}s")
        if run.trace:
            data_bytes, files, written = layers.index_files(
                os.path.join(root, "index", "event_windows"))
            sink["bytes"].append(data_bytes)
            sink["files"] += files
            sink["written"].append(written)
            sink["ckpt"].append(layers.tree_bytes(os.path.join(root, "ckpt")))
        shutil.rmtree(root, ignore_errors=True)

    if run.trace:
        run.set("jvm.gc_s", (layers.gc_seconds(spark) - gc0) / rounds, "s")
        for key, value in layers.exec_metrics(
                spark, first_exec, layers.last_execution_id(spark)).items():
            run.set(key, value / rounds, PER_LAYER[key])
        for stage, metric in STREAM_STAGES.items():
            run.set(metric, median([p.durationMs.get(stage, 0) / 1000.0 for p in batches]), "s")
        ops = [p.stateOperators for p in batches]
        run.set("state.commit_s", median([sum(o.commitTimeMs for o in s) / 1000.0 for s in ops]), "s")
        run.set("state.rows_total", median([sum(o.numRowsTotal for o in s) for s in ops]), "count")
        run.set("state.memory_bytes", median([sum(o.memoryUsedBytes for o in s) for s in ops]), "B")
        run.set("state.stores", max(sum(o.numStateStoreInstances for o in s) for s in ops), "count")
        run.set("stream.rows_dropped_by_watermark",
                sum(o.numRowsDroppedByWatermark for s in ops for o in s), "count")
        run.set("sink.bytes_written", median(sink["bytes"]), "B")
        run.set("sink.files_per_batch", median(sink["files"]), "count")
        run.set("checkpoint.bytes", median(sink["ckpt"]), "B")
        run.set("sink.docs_written", median(sink["written"]), "count")
        run.set("sink.docs_distinct", len(expected), "count")
        run.set("sink.write_amplification", median(sink["written"]) / len(expected), "ratio")

    for _ in range(SETUPS):
        spark.stop()
        spark, q, root = setup(listener)
        log(f"set up again in {run.setups[-1]:.2f}s")
        q.stop()
        shutil.rmtree(root, ignore_errors=True)

    result = run.finish(spark, {
        "setup_s": (median(run.setups), "s"),
        "throughput_per_s": (rounds * indexed_per_round / wall, "1/s"),
        "latency_p50_s": (median(
            [p.durationMs["triggerExecution"] / 1000.0 for p in batches]), "s"),
    }, steal0)
    shutdown(spark)
    shutil.rmtree(rounds_root, ignore_errors=True)
    return result


WORKLOADS = {
    "queries_sf0.1": run_queries,
    "stream_replay": run_stream,
}

# span name -> self-time metric
SELF_TIMES = {
    "kse.session": "self.session_s",
    "kse.catalog": "self.catalog_s",
    "kse.registry": "self.registry_s",
    "catalyst.analysis": "self.catalyst_analysis_s",
    "catalyst.optimization": "self.catalyst_optimization_s",
    "catalyst.planning": "self.catalyst_planning_s",
    "exec": "self.exec_s",
    "kse.streaming.round": "self.stream_round_s",
    "kse.streaming.batch": "self.stream_batch_s",
    "stream.addBatch": "self.stream_add_batch_s",
    "kse.sinks.indexer": "self.sink_s",
}

# Every per-layer metric a traced run prints, with its unit. A metric of a
# layer a workload does not use reads 0 there (see README).
PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "catalog.load_s": "s",
    "registry.build_s": "s",
    "registry.plan_cache_hit_ratio": "ratio",
    "registry.plan_cache_lookups": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.dispatch_floor_s": "s",
    "exec.broadcast_build_s": "s",
    "exec.shuffle_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.agg_time_s": "s",
    "scan.time_s": "s",
    "scan.bytes": "B",
    "udf.python_time_s": "s",
    "udf.arrow_bytes": "B",
    **{f"query.{name}.p50_s": "s" for name in MIX},
    **{metric: "s" for metric in STREAM_STAGES.values()},
    "state.commit_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
    "state.stores": "count",
    "stream.rows_dropped_by_watermark": "count",
    "sink.bytes_written": "B",
    "sink.files_per_batch": "count",
    "sink.docs_written": "count",
    "sink.docs_distinct": "count",
    "sink.write_amplification": "ratio",
    "checkpoint.bytes": "B",
    "jvm.gc_s": "s",
    "host.cpu_steal_share": "ratio",
    **{metric: "s" for metric in SELF_TIMES.values()},
    "traced.setup_s": "s",
    "traced.throughput_per_s": "1/s",
    "traced.latency_p50_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kse", "session.py")):
        log(f"no kse package under {ROOT}: run from the root of a kse checkout")
        return 2
    sys.path.insert(0, ROOT)
    isolate_environment()
    result = WORKLOADS[args.workload](args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
