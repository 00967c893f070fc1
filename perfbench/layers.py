"""Per-layer measurement, taken from outside the program.

Nothing here changes ``kse/``: spans are recorded around the calls the
benchmark makes into each layer (and around two public functions it wraps
for the traced run), and counters are read from Spark's public status
surfaces -- the SQL status store (which works with the UI off), the status
tracker, ``QueryPlanningTracker`` phases and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent, id.

    Spans on the benchmark's thread nest through a stack; spans built from
    listener callbacks or foreachBatch calls name their parent explicitly.
    Written out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._lock = threading.Lock()
        self._n = 0

    def _new_id(self) -> str:
        with self._lock:
            self._n += 1
            return f"s{self._n}"

    def add(self, name: str, start: float, end: float, parent: str | None,
            span_id: str | None = None) -> str:
        span_id = span_id or self._new_id()
        with self._lock:
            self.spans.append(
                {"id": span_id, "name": name, "start": start, "end": end, "parent": parent}
            )
        return span_id

    @contextlib.contextmanager
    def span(self, name: str):
        span_id = self._new_id()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.time()
        try:
            yield span_id
        finally:
            self._stack.pop()
            self.add(name, start, time.time(), parent, span_id)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover
        (children of one span never overlap, so their durations add)."""
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class NoTracer(Tracer):
    """The untraced run: same call sites, nothing recorded."""

    def add(self, *args, **kwargs) -> str:
        return ""

    def span(self, name: str):
        return contextlib.nullcontext("")


def wrap(module, attr: str, tracer: Tracer, name: str) -> None:
    """Replace ``module.attr`` with a version that records a span."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(module, attr, traced)


# ----------------------------------------------------- Catalyst phases


def fresh_execution(spark, df):
    """A new Dataset over ``df``'s unresolved logical plan, so the next
    action analyzes, optimizes, plans and executes it from scratch.

    Collecting the same DataFrame object twice would reuse its first
    QueryExecution, whose physical plan keeps the materialized shuffle
    outputs: the second collect re-runs only the final stage. Returns the
    JVM Dataset (whose tracker holds the phase times) and its DataFrame."""
    from pyspark.sql import DataFrame

    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    return jds, DataFrame(jds, spark)


def planning_phases(jds) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) that
    ``jds``'s QueryExecution has run so far, from its tracker."""
    out: dict[str, float] = {}
    it = jds.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


# ------------------------------------------------- SQL status store

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """One formatted SQL metric value ('5,000', '8 ms', '1.3 s', '2.8 KiB',
    or the multi-task 'total (min, med, max ...)\\n<total> (...)' form) as a
    number in bytes, seconds or plain count."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


# (node-name prefix or None for any node, metric name) -> layer metric
_NODE_METRICS = {
    ("Scan", "scan time"): "scan.time_s",
    ("Scan", "size of files read"): "scan.bytes",
    ("Exchange", "shuffle bytes written"): "exec.shuffle_bytes",
    (None, "spill size"): "exec.spill_bytes",
    ("HashAggregate", "time in aggregation build"): "exec.agg_time_s",
    ("ObjectHashAggregate", "time in aggregation build"): "exec.agg_time_s",
    ("BroadcastExchange", "time to collect"): "exec.broadcast_build_s",
    ("BroadcastExchange", "time to build"): "exec.broadcast_build_s",
    ("BroadcastExchange", "time to broadcast"): "exec.broadcast_build_s",
    (None, "time to run Python workers"): "udf.python_time_s",
    (None, "data sent to Python workers"): "udf.arrow_bytes",
    (None, "data returned from Python workers"): "udf.arrow_bytes",
}
EXEC_METRICS = sorted(set(_NODE_METRICS.values())) + ["exec.jobs", "exec.tasks"]


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def exec_metrics(spark, after_id: int, upto_id: int) -> dict[str, float]:
    """Sum the executed-plan metrics, jobs and completed tasks of every SQL
    execution with ``after_id < id <= upto_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = {k: 0.0 for k in EXEC_METRICS}
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        if not after_id < eid <= upto_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                for (prefix, metric), key in _NODE_METRICS.items():
                    if m.name() == metric and (prefix is None or node.name().startswith(prefix)):
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            out[key] += parse_metric(v.get())
        jobs = e.jobs().keys().iterator()
        while jobs.hasNext():
            job = tracker.getJobInfo(jobs.next())
            out["exec.jobs"] += 1
            for stage_id in job.stageIds if job else []:
                stage = tracker.getStageInfo(stage_id)
                out["exec.tasks"] += stage.numCompletedTasks if stage else 0
    return out


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's collectors (local mode: the
    executors run in the same JVM)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ------------------------------------------------------------ files


def tree_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names)


def index_files(index_dir: str) -> tuple[int, list[int], int]:
    """(data bytes, data files per batch directory, documents written) of
    one JsonlIndexer index; commit markers and checksums are not data."""
    total, per_batch, docs = 0, [], 0
    for batch in sorted(os.listdir(index_dir)):
        bdir = os.path.join(index_dir, batch)
        if not os.path.isdir(bdir):
            continue
        n = 0
        for name in os.listdir(bdir):
            if name.startswith(("_", ".")):
                continue
            path = os.path.join(bdir, name)
            total += os.path.getsize(path)
            with open(path) as f:
                docs += sum(1 for _ in f)
            n += 1
        per_batch.append(n)
    return total, per_batch, docs
