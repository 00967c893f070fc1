"""Streaming operator tests (SURVEY.md §2.9) — deterministic file-source
replay + availableNow triggers + memory sink; no Kafka/ES needed.
"""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from kse.sinks.indexer import EsBulkIndexer, JsonlIndexer, write_batch_to_index
from kse.streaming import state as ST
from kse.streaming import windows as W
from kse.streaming.pipeline import PipelineConfig, run_offline, transform, windowed_docs
from kse.streaming.sources import file_events, parse_props, rate_events

from .conftest import ev, write_event_chunk


# Spark bundles the RocksDB state store provider (the provider a real
# cluster runs: state off-heap + incremental checkpoint); the stateful
# tests parametrize over both providers so the applyInPandasWithState
# operators are proven against the production store, not just the
# in-memory HDFS-backed default.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDERS = pytest.mark.parametrize(
    "provider", [None, ROCKSDB_PROVIDER], ids=["hdfs-default", "rocksdb"]
)


def _state_provider(spark, provider):
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        if provider is not None:
            spark.conf.set(key, provider)
        try:
            yield
        finally:
            if provider is not None:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)

    return _cm()


def _run_to_memory(df, name: str, tmp_path, mode: str = "update"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_counts_match_batch(spark, tmp_events_dir, tmp_path):
    rows = [
        ev(1, "2024-01-01T10:01:00Z", etype="click"),
        ev(2, "2024-01-01T10:04:00Z", etype="click", value=2.5),
        ev(3, "2024-01-01T10:12:00Z", etype="view"),
        ev(4, "2024-01-01T10:14:00Z", etype="click"),
    ]
    write_event_chunk(tmp_events_dir, "000.json", rows)
    name = f"tumble_{uuid.uuid4().hex[:8]}"
    _run_to_memory(W.tumbling_counts(file_events(spark, tmp_events_dir)), name, tmp_path)
    got = {
        (r.window_start.isoformat(), r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got[("2024-01-01T10:00:00", "click")] == (2, 3.5)
    assert got[("2024-01-01T10:10:00", "click")] == (1, 1.0)
    assert got[("2024-01-01T10:10:00", "view")] == (1, 1.0)


def test_watermark_drops_late_data(spark, tmp_events_dir, tmp_path):
    # batch 0 advances event time to 11:00 => watermark 10:45. Spark 4.x
    # propagates TWO watermarks (late-event filter lags eviction by one
    # batch — verified against the executed plan), so the straggler must
    # arrive two batches after the advancing data to be provably late.
    import time

    write_event_chunk(
        tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:50:00Z"), ev(2, "2024-01-01T11:00:00Z")]
    )
    time.sleep(1.1)  # distinct mtimes => the file source keeps batch order
    write_event_chunk(tmp_events_dir, "001.json", [ev(3, "2024-01-01T11:01:00Z")])
    time.sleep(1.1)
    write_event_chunk(tmp_events_dir, "002.json", [ev(4, "2024-01-01T09:00:00Z")])
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(
        W.tumbling_counts(file_events(spark, tmp_events_dir), watermark="15 minutes"),
        name,
        tmp_path,
    )
    starts = {r.window_start.isoformat() for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert "2024-01-01T09:00:00" not in starts  # late row dropped
    assert "2024-01-01T10:50:00" in starts and "2024-01-01T11:00:00" in starts
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1


def test_sliding_window_overlap(spark, tmp_events_dir, tmp_path):
    write_event_chunk(tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:07:00Z")])
    name = f"slide_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        W.sliding_counts(file_events(spark, tmp_events_dir), window="10 minutes", slide="5 minutes"),
        name,
        tmp_path,
    )
    starts = sorted(r.window_start.isoformat() for r in spark.sql(f"SELECT * FROM {name}").collect())
    # a 10:07 event belongs to the [10:00,10:10) and [10:05,10:15) windows
    assert starts == ["2024-01-01T10:00:00", "2024-01-01T10:05:00"]


def test_session_windows(spark, tmp_events_dir, tmp_path):
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z"),
            ev(2, "2024-01-01T10:10:00Z"),  # same session (gap < 30m)
            ev(3, "2024-01-01T11:30:00Z"),  # new session
        ],
    )
    # probe event pushes the watermark past both sessions so append emits them
    write_event_chunk(tmp_events_dir, "001.json", [ev(9, "2024-01-01T14:00:00Z", user_id=99)])
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        W.session_counts(file_events(spark, tmp_events_dir), gap="30 minutes"),
        name,
        tmp_path,
        mode="append",
    )
    rows = [r for r in spark.sql(f"SELECT * FROM {name}").collect() if r.user_id == 1]
    assert sorted((r.session_start.isoformat(), r.n_events) for r in rows) == [
        ("2024-01-01T10:00:00", 2),
        ("2024-01-01T11:30:00", 1),
    ]


def test_stream_dedup(spark, tmp_events_dir, tmp_path):
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [ev(1, "2024-01-01T10:00:00Z"), ev(1, "2024-01-01T10:00:30Z"), ev(2, "2024-01-01T10:01:00Z")],
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        W.dedup_stream(file_events(spark, tmp_events_dir)), name, tmp_path, mode="append"
    )
    ids = sorted(r.event_id for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert ids == [1, 2]


def test_stream_static_enrich(spark, tmp_events_dir, tmp_path):
    write_event_chunk(tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:00:00Z", user_id=7)])
    dim = spark.createDataFrame([(7, "gold")], "user_id long, tier string")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        W.enrich_with_dim(file_events(spark, tmp_events_dir), dim, "user_id"),
        name,
        tmp_path,
        mode="append",
    )
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert rows[0].tier == "gold"


def test_stream_stream_join(spark, tmp_events_dir, tmp_path, tmp_path_factory):
    d2 = tmp_path_factory.mktemp("right_events")
    write_event_chunk(tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:00:00Z", user_id=5)])
    write_event_chunk(str(d2), "000.json", [ev(2, "2024-01-01T10:05:00Z", user_id=5)])
    joined = W.stream_stream_join(
        file_events(spark, tmp_events_dir), file_events(spark, str(d2))
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, tmp_path, mode="append")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert [(r.left_event_id, r.right_event_id) for r in rows] == [(1, 2)]


@_PROVIDERS
def test_stateful_user_profiles(spark, tmp_events_dir, tmp_path, provider):
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=1, etype="click", value=1.0),
            ev(2, "2024-01-01T10:01:00Z", user_id=1, etype="purchase", value=9.5),
            ev(3, "2024-01-01T10:02:00Z", user_id=2, etype="view", value=0.5),
        ],
    )
    name = f"prof_{uuid.uuid4().hex[:8]}"
    with _state_provider(spark, provider):
        _run_to_memory(
            ST.user_profiles(file_events(spark, tmp_events_dir)), name, tmp_path
        )
    got = {r.user_id: (r.n_events, r.total_value, r.last_type)
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got[1] == (2, 10.5, "purchase")
    assert got[2] == (1, 0.5, "view")


def test_pipeline_offline_end_to_end(spark, tmp_events_dir, tmp_path):
    rows = [
        ev(1, "2024-01-01T10:01:00Z", etype="click", value=1.0),
        ev(2, "2024-01-01T10:02:00Z", etype="purchase", value=5.0),
        ev(3, "2024-01-01T10:12:00Z", etype="click", value=2.0),
    ]
    write_event_chunk(tmp_events_dir, "000.json", rows)
    index_root = str(tmp_path / "index")
    q = run_offline(spark, tmp_events_dir, index_root, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    idx = JsonlIndexer(index_root).read_index("event_windows")
    by_key = {k: v for k, v in idx.items()}
    assert by_key["1704103200000000:click"]["n_events"] == 1
    assert by_key["1704103200000000:purchase"]["sum_value"] == 5.0
    assert by_key["1704103800000000:click"]["n_events"] == 1

    # replay with a fresh checkpoint: same doc ids overwrite -> idempotent
    q2 = run_offline(spark, tmp_events_dir, index_root, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    idx2 = JsonlIndexer(index_root).read_index("event_windows")
    assert idx2.keys() == idx.keys()
    assert idx2["1704103200000000:click"]["n_events"] == 1


def test_pipeline_drain_without_flush_batch_is_output_identical(
    spark, tmp_events_dir, tmp_path
):
    """The bench drain skips the trailing no-data watermark-flush
    micro-batch (PipelineConfig.no_data_microbatch=False): in update mode
    that batch only evicts state, so for a drain whose checkpoint is
    discarded the indexed documents must be identical with and without it
    (this is the contract bench.py's streaming number relies on)."""
    from kse.streaming.pipeline import PipelineConfig

    rows = [
        ev(1, "2024-01-01T10:01:00Z", etype="click", value=1.0),
        ev(2, "2024-01-01T10:02:00Z", etype="purchase", value=5.0),
        ev(3, "2024-01-01T11:30:00Z", etype="click", value=2.0),  # advances wm
    ]
    write_event_chunk(tmp_events_dir, "000.json", rows)

    q = run_offline(
        spark, tmp_events_dir, str(tmp_path / "idx_flush"), str(tmp_path / "ck1")
    )
    q.awaitTermination(120)
    with_flush = JsonlIndexer(str(tmp_path / "idx_flush")).read_index("event_windows")

    q2 = run_offline(
        spark,
        tmp_events_dir,
        str(tmp_path / "idx_noflush"),
        str(tmp_path / "ck2"),
        PipelineConfig(no_data_microbatch=False),
    )
    q2.awaitTermination(120)
    no_flush = JsonlIndexer(str(tmp_path / "idx_noflush")).read_index("event_windows")

    assert with_flush == no_flush and len(no_flush) == 3
    # the knob is scoped to the query: the session conf is restored
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true"
    )


def test_pipeline_counts_malformed_lines(spark, tmp_events_dir, tmp_path):
    """A line the JSON reader cannot parse becomes an all-NULL row that
    transform() filters out; run_offline reports each one in the
    micro-batch's observed metrics, and the index is what the same chunk
    without those lines gives."""
    rows = [
        ev(1, "2024-01-01T10:01:00Z", etype="click", value=1.0),
        ev(2, "2024-01-01T10:02:00Z", etype="purchase", value=5.0),
    ]
    write_event_chunk(tmp_events_dir, "000.json", rows)
    q = run_offline(spark, tmp_events_dir, str(tmp_path / "clean"), str(tmp_path / "ck1"))
    q.awaitTermination(120)
    clean = JsonlIndexer(str(tmp_path / "clean")).read_index("event_windows")

    dirty_dir = tmp_path / "dirty_events"
    dirty_dir.mkdir()
    write_event_chunk(str(dirty_dir), "000.json", rows)
    with open(dirty_dir / "000.json", "a") as f:
        f.write('{"event_id": 0, "user_id": \n#corrupt-record#\n')
    q2 = run_offline(spark, str(dirty_dir), str(tmp_path / "dirty"), str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    dirty = JsonlIndexer(str(tmp_path / "dirty")).read_index("event_windows")

    malformed = [
        p.observedMetrics["kse_parse"].malformed_lines for p in q2.recentProgress
    ]
    assert sum(malformed) == 2, malformed
    assert dirty == clean and len(clean) == 2


def test_pipeline_sizes_state_stores_to_parallelism(spark, tmp_events_dir, tmp_path):
    """With the default config the window's state stores number one task
    wave (defaultParallelism), whatever spark.sql.shuffle.partitions the
    session carries, and the session value is restored after start."""
    session_value = spark.conf.get("spark.sql.shuffle.partitions")
    write_event_chunk(tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:01:00Z")])
    q = run_offline(spark, tmp_events_dir, str(tmp_path / "index"), str(tmp_path / "ckpt"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_value == "8"
    q.awaitTermination(120)
    data = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(data) == 1
    assert [op.numStateStoreInstances for op in data[0].stateOperators] == [
        spark.sparkContext.defaultParallelism
    ]


def test_es_bulk_indexer_payloads(spark, tmp_path):
    # transport runs inside executor Python workers — capture via files
    cap = tmp_path / "bulks"
    cap.mkdir()

    def transport(url, payload, _dir=str(cap)):
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(_dir, _uuid.uuid4().hex), "wb") as f:
            f.write(payload)
        return 200, b'{"errors": false, "items": []}'

    idx = EsBulkIndexer("http://es:9200", bulk_size=2, transport=transport)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "doc_id long, body string")
    write_batch_to_index(df, idx, index="docs", id_col="doc_id")
    sent = [p.read_bytes() for p in cap.iterdir()]
    actions = [json.loads(line) for p in sent for line in p.decode().splitlines()]
    metas = [a for a in actions if "index" in a]
    assert {m["index"]["_id"] for m in metas} == {"1", "2", "3"}
    assert all(m["index"]["_index"] == "docs" for m in metas)


def test_es_bulk_indexer_raises_on_partial_item_failure(spark):
    """ES _bulk answers HTTP 200 with "errors": true when single items
    fail; the indexer must raise naming the failed item instead of
    dropping that document silently."""

    def transport(url, payload):
        import json as _json

        lines = payload.decode().splitlines()
        items = []
        for meta in lines[::2]:
            doc_id = _json.loads(meta)["index"]["_id"]
            result = {"_index": "docs", "_id": doc_id, "status": 201}
            if doc_id == "2":
                result["status"] = 400
                result["error"] = {"type": "mapper_parsing_exception", "reason": "bad body"}
            items.append({"index": result})
        return 200, _json.dumps({"errors": True, "items": items}).encode()

    idx = EsBulkIndexer("http://es:9200", transport=transport)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, body string"
    ).coalesce(1)
    with pytest.raises(Exception) as exc:
        write_batch_to_index(df, idx, index="docs", id_col="doc_id")
    msg = str(exc.value)
    assert "1 of 3 items failed" in msg
    assert "_id=2 status=400 error=mapper_parsing_exception" in msg


def test_rate_source_schema(spark):
    df = rate_events(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_transform_parses_props_batch(spark):
    # transform() is batch/stream agnostic — run it on a batch DF
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, '{"k": 42}')],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")
    out = transform(df).collect()
    assert out[0].k == 42


def test_stateful_tws_matches_applyinpandaswithstate(spark, tmp_events_dir, tmp_path):
    """st_stateful_custom, Spark-4 API: transformWithStateInPandas produces
    the same per-user profiles as the applyInPandasWithState operator.

    TWS's driver-side Python runner needs protobuf (StateMessage protocol);
    skipped where protobuf isn't installed — verified: without it the
    runner crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE."""
    pytest.importorskip("google.protobuf")
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=1, etype="click", value=1.0),
            ev(2, "2024-01-01T10:01:00Z", user_id=1, etype="purchase", value=9.5),
            ev(3, "2024-01-01T10:02:00Z", user_id=2, etype="view", value=0.5),
        ],
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        name = f"tws_{uuid.uuid4().hex[:8]}"
        _run_to_memory(ST.user_profiles_tws(file_events(spark, tmp_events_dir)), name, tmp_path)
        got = {r.user_id: (r.n_events, r.total_value, r.last_type)
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert got[1] == (2, 10.5, "purchase")
    assert got[2] == (1, 0.5, "view")


def test_python_datasource_stream_replays_all_rows(spark, tmp_path):
    """The pure-Python streaming source (kse/pysource.py — the Kafka
    stand-in with no JVM code) must emit every generated row exactly once
    across micro-batches, advancing its checkpointable offset cursor."""
    import time

    from kse.pysource import register_once

    register_once(spark)
    df = (
        spark.readStream.format("kse_events")
        .option("rows", "500")
        .option("batch_rows", "200")
        .load()
    )
    name = f"pyst_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-pyst"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").collect()[0].c >= 500:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql(f"SELECT event_id, event_type FROM {name}").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == list(range(500))  # exactly once, no gaps, no dups
    assert {r.event_type for r in rows} == {"click", "view", "purchase", "signup", "error"}


def test_python_datasource_stream_recovers_from_checkpoint(spark, tmp_path):
    """Stop the stream mid-replay and restart on the same checkpoint: the
    offset cursor must resume where it left off — every row exactly once
    in the (recovery-capable) file sink across the two runs, no replays,
    no gaps."""
    import time

    from kse.pysource import register_once

    register_once(spark)
    out = str(tmp_path / "out-recover")
    ckpt = str(tmp_path / "ckpt-recover")

    def start():
        return (
            spark.readStream.format("kse_events")
            .option("rows", "600")
            .option("batch_rows", "150")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def sunk():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if sunk() >= 150:
            break
        time.sleep(0.2)
    q.stop()
    n1 = sunk()
    assert n1 >= 150  # made progress before the stop

    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if sunk() >= 600:
            break
        time.sleep(0.2)
    q2.stop()
    ids = sorted(r.event_id for r in spark.read.parquet(out).select("event_id").collect())
    assert ids == list(range(600)), (n1, len(ids))


def test_python_datasource_jsonl_sink_round_trip(spark, tmp_path):
    """Write through the Python DataSource writer (two-phase: staged part
    files + driver-side manifest commit) and read back via the manifest:
    the round trip must preserve every row and only list committed files."""
    from kse.pysource import read_jsonl_sink, register_once

    register_once(spark)
    src = (
        spark.read.format("kse_events")
        .option("rows", "250")
        .option("partitions", "5")
        .load()
    )
    out = str(tmp_path / "jsonl-sink")
    src.write.format("kse_jsonl").option("path", out).mode("append").save()
    rows = read_jsonl_sink(out)
    assert sorted(r["event_id"] for r in rows) == list(range(250))
    want = {r.event_id: (r.event_type, r.value) for r in src.collect()}
    got = {r["event_id"]: (r["event_type"], r["value"]) for r in rows}
    assert got == want


def test_pipeline_from_python_source(spark, tmp_path):
    """The full reference pipeline shape (source → parse → window →
    indexed documents) running off the pure-Python streaming source: no
    files, no Kafka — generation, windowed aggregation, and idempotent
    indexing end-to-end. batch_rows == rows so availableNow drains the
    whole replay in one micro-batch."""
    from kse.pysource import register_once
    from kse.sinks.indexer import JsonlIndexer, write_stream_to_index

    register_once(spark)
    events = (
        spark.readStream.format("kse_events")
        .option("rows", "300")
        .option("batch_rows", "300")
        .load()
        .select(
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    docs = windowed_docs(events)
    index_root = str(tmp_path / "pyidx")
    q = write_stream_to_index(
        docs,
        JsonlIndexer(index_root),
        index="event_windows",
        id_col="doc_id",
        checkpoint_dir=str(tmp_path / "pyckpt"),
        output_mode="update",
        available_now=True,
    )
    q.awaitTermination(120)
    idx = JsonlIndexer(index_root).read_index("event_windows")
    assert sum(d["n_events"] for d in idx.values()) == 300
    # 300 events at 1/minute span 300 min -> 30 ten-minute windows of 10
    # events each; the id%5 type cycle puts every type in every window
    # exactly twice -> 30 windows x 5 types = 150 docs of n_events=2
    assert len(idx) == 150
    assert all(d["n_events"] == 2 for d in idx.values())


def test_stateful_funnel_converts_across_microbatches(spark, tmp_events_dir, tmp_path):
    """Funnel progress must carry state BETWEEN micro-batches: user 1's
    click arrives in batch 0 and the view+purchase in batch 1 (conversion
    only visible if stage survived the batch boundary); user 2 sees the
    same types out of order and must not convert; user 3 stalls mid-way."""
    import time

    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=1, etype="click"),
            ev(2, "2024-01-01T10:00:30Z", user_id=2, etype="purchase"),
            ev(3, "2024-01-01T10:01:00Z", user_id=3, etype="click"),
        ],
    )
    time.sleep(1.1)  # distinct mtimes => the file source keeps batch order
    write_event_chunk(
        tmp_events_dir,
        "001.json",
        [
            ev(4, "2024-01-01T10:02:00Z", user_id=1, etype="view"),
            ev(5, "2024-01-01T10:03:00Z", user_id=1, etype="purchase"),
            ev(6, "2024-01-01T10:03:30Z", user_id=2, etype="view"),
            ev(7, "2024-01-01T10:04:00Z", user_id=2, etype="click"),
            ev(8, "2024-01-01T10:05:00Z", user_id=3, etype="view"),
        ],
    )
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    _run_to_memory(ST.funnel_progress(file_events(spark, tmp_events_dir)), name, tmp_path)
    # update mode: keep the LAST row per user
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    final: dict[int, tuple[int, bool]] = {}
    for r in rows:
        final[r.user_id] = (r.stage, r.converted)
    assert final[1] == (3, True)   # click | view, purchase across batches
    assert final[2] == (1, False)  # purchase,view,click: only click counts
    assert final[3] == (2, False)  # click, view — never purchased


def test_streaming_ewma_matches_batch_fold(spark, tmp_events_dir, tmp_path):
    """The streaming EWMA's final value per user must equal the batch fold
    over the same events — state carries the accumulator across
    micro-batches with the same literal arithmetic."""
    import time

    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=1, value=10.0),
            ev(2, "2024-01-01T10:01:00Z", user_id=1, value=20.0),
        ],
    )
    time.sleep(1.1)  # distinct mtimes => the file source keeps batch order
    write_event_chunk(
        tmp_events_dir,
        "001.json",
        [
            ev(3, "2024-01-01T10:02:00Z", user_id=1, value=30.0),
            ev(4, "2024-01-01T10:03:00Z", user_id=2, value=5.0),
        ],
    )
    name = f"ewma_{uuid.uuid4().hex[:8]}"
    _run_to_memory(ST.ewma_stream(file_events(spark, tmp_events_dir)), name, tmp_path)
    final: dict[int, tuple[int, float]] = {}
    for r in spark.sql(f"SELECT * FROM {name}").collect():
        if final.get(r.user_id, (0,))[0] <= r.n_events:
            final[r.user_id] = (r.n_events, r.ewma)
    # batch fold: 10 -> 0.7*10+0.3*20 = 13 -> 0.7*13+0.3*30 = 18.1
    assert final[1] == (3, 0.7 * (0.7 * 10.0 + 0.3 * 20.0) + 0.3 * 30.0)
    assert final[2] == (1, 5.0)


@_PROVIDERS
def test_stateful_ttl_evicts_expired_user_state(spark, tmp_events_dir, tmp_path, provider):
    """Event-time TTL: once the watermark passes a user's timeout, their
    state is emitted once as expired and removed — the bounded-state
    mechanism for churning populations. User 1 goes quiet, a later event
    advances the watermark far past their timeout, and the expiry row
    must carry user 1's full count."""
    import time

    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=1),
            ev(2, "2024-01-01T10:00:30Z", user_id=1),
        ],
    )
    time.sleep(1.1)  # distinct mtimes => the file source keeps batch order
    # watermark jumps to 12:00 (>> 10:00:30 + 1 min timeout)
    write_event_chunk(
        tmp_events_dir, "001.json", [ev(3, "2024-01-01T12:00:00Z", user_id=99)]
    )
    time.sleep(1.1)
    # one more batch so the timeout (evaluated against the advanced
    # watermark) actually fires
    write_event_chunk(
        tmp_events_dir, "002.json", [ev(4, "2024-01-01T12:01:00Z", user_id=99)]
    )
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    with _state_provider(spark, provider):
        _run_to_memory(
            ST.counts_with_ttl(file_events(spark, tmp_events_dir)), name, tmp_path
        )
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    expired = [(r.user_id, r.n_events) for r in rows if r.expired]
    assert (1, 2) in expired  # user 1 evicted with their full count
    assert all(uid != 99 for uid, _ in expired)  # active user stays live


def test_stream_stream_left_join_emits_nulls_after_watermark(
    spark, tmp_events_dir, tmp_path, tmp_path_factory
):
    """Matched pairs emit like the inner join; the unmatched left row
    emits with a null right side once the watermark passes its expiry
    (a late sentinel on both streams pushes the watermark far enough)."""
    d2 = tmp_path_factory.mktemp("right_events_outer")
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [
            ev(1, "2024-01-01T10:00:00Z", user_id=5),
            ev(3, "2024-01-01T10:01:00Z", user_id=6),  # no right match
        ],
    )
    write_event_chunk(
        tmp_events_dir, "001.json", [ev(9, "2024-01-01T12:00:00Z", user_id=50)]
    )
    write_event_chunk(str(d2), "000.json", [ev(2, "2024-01-01T10:05:00Z", user_id=5)])
    write_event_chunk(str(d2), "001.json", [ev(8, "2024-01-01T12:00:00Z", user_id=51)])
    joined = W.stream_stream_left_join(
        file_events(spark, tmp_events_dir), file_events(spark, str(d2))
    )
    name = f"ssoj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, tmp_path, mode="append")
    rows = {
        r.left_event_id: r.right_event_id
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert rows[1] == 2  # matched pair, same as the inner join
    assert 3 in rows and rows[3] is None  # unmatched left row, null right


def test_stream_dedup_within_watermark(spark, tmp_events_dir, tmp_path):
    """Same event_id arriving twice within the watermark horizon (even in
    a later micro-batch) collapses to one row; a distinct id survives."""
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [ev(1, "2024-01-01T10:00:00Z"), ev(2, "2024-01-01T10:00:30Z")],
    )
    write_event_chunk(
        tmp_events_dir, "001.json", [ev(1, "2024-01-01T10:02:00Z")]  # dup, 2 min later
    )
    deduped = W.dedup_stream_within_watermark(
        file_events(spark, tmp_events_dir), watermark="15 minutes"
    )
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(deduped, name, tmp_path, mode="append")
    ids = sorted(r.event_id for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert ids == [1, 2]


def test_foreachbatch_incremental_bloom_dedup(spark, tmp_path):
    """The daily-ingest shape q_llm_dedup_incremental's docstring claims:
    the SAME bloom_dup_flags core runs per micro-batch inside
    foreachBatch against an accumulating key history. Two micro-batches
    (maxFilesPerTrigger=1, distinct mtimes): a doc in batch 2 whose
    5-token prefix already arrived in batch 1 must flag as dup; fresh
    docs and batch-1 docs (empty history) must not."""
    import json as _json
    import os
    import time

    from kse.queries.llm import bloom_dup_flags, dedup_key

    src = tmp_path / "docs_src"
    src.mkdir()
    hist_dir = str(tmp_path / "hist")
    out_dir = str(tmp_path / "flags")

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write("000.json", [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta"},
        {"doc_id": 2, "text": "one two three four five six seven"},
    ])
    time.sleep(1.1)  # distinct mtimes => deterministic batch order
    write("001.json", [
        {"doc_id": 3, "text": "alpha beta gamma delta epsilon OMEGA"},  # dup prefix of 1
        {"doc_id": 4, "text": "fresh words never seen before now"},
    ])

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )

    def apply_batch(batch_df, batch_id):
        keyed = batch_df.select("doc_id", dedup_key().alias("k"))
        if os.path.exists(os.path.join(hist_dir, "_SUCCESS")):
            hist = batch_df.sparkSession.read.parquet(hist_dir)
        else:
            hist = keyed.select("k").filter(F.lit(False))  # empty, typed
        bloom_dup_flags(keyed, hist).write.mode("append").parquet(out_dir)
        keyed.select("k").write.mode("append").parquet(hist_dir)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    flags = {r.doc_id: r.is_dup for r in spark.read.parquet(out_dir).collect()}
    assert flags == {1: False, 2: False, 3: True, 4: False}


def test_session_windows_random_gaps_match_batch_fold(spark, tmp_events_dir, tmp_path):
    """Randomized (seeded) gap structure replayed as TWO micro-batches:
    sessions spanning the chunk boundary must merge in the state store,
    and the final emitted sessions must equal the batch lag-fold
    (q_win_sessionize semantics: new session iff gap > 30min) on the
    same events. The hypothesis twin in test_properties.py covers the
    operator's batch semantics; this covers the stateful merge path."""
    import random

    rng = random.Random(20260815)
    gap_min = 30
    events, t = [], {}
    for eid in range(40):
        u = rng.randint(1, 3)
        t[u] = t.get(u, 0) + rng.choice([1, 5, 29, 30, 31, 90])
        events.append((eid, u, t[u]))
    base = "2024-01-01T00:00:00Z"

    def iso(minutes):
        import datetime as dt

        b = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        return (b + dt.timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")

    # replay in GLOBAL time order (the watermark contract: a file-source
    # replay models an in-order stream; per-user interleaving that jumps
    # back past the watermark would be late data, correctly dropped)
    events.sort(key=lambda e: (e[2], e[0]))
    rows = [ev(eid, iso(m), user_id=u) for eid, u, m in events]
    mid = len(rows) // 2
    write_event_chunk(tmp_events_dir, "000.json", rows[:mid])
    write_event_chunk(tmp_events_dir, "001.json", rows[mid:])
    # probe far in the future: watermark passes every session => all emitted
    write_event_chunk(tmp_events_dir, "002.json", [ev(999, iso(10**5), user_id=99)])

    name = f"sessprop_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        W.session_counts(file_events(spark, tmp_events_dir), gap=f"{gap_min} minutes"),
        name,
        tmp_path,
        mode="append",
    )
    got = {
        (r.user_id, r.session_start.strftime("%Y-%m-%dT%H:%M:%SZ"), r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r.user_id != 99
    }

    expect = set()
    by_user: dict[int, list] = {}
    for _, u, m in events:
        by_user.setdefault(u, []).append(m)
    for u, ms in by_user.items():
        ms.sort()
        start, n, prev = ms[0], 1, ms[0]
        for m in ms[1:]:
            if m - prev > gap_min:
                expect.add((u, iso(start), n))
                start, n = m, 1
            else:
                n += 1
            prev = m
        expect.add((u, iso(start), n))
    assert got == expect
