"""Streaming lifecycle: checkpoint recovery, sinks, trigger/output modes
(SURVEY.md §2.9 st_checkpoint / st_trigger_modes / st_output_modes /
sink_parquet / src_kafka wiring).
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from kse.sinks.indexer import JsonlIndexer, write_stream_to_index
from kse.streaming import windows as W
from kse.streaming.sources import file_events, kafka_events
from kse.streaming.pipeline import PipelineConfig, run_offline, windowed_docs

from .conftest import ev, write_event_chunk


def test_checkpoint_restart_recovers_state(spark, tmp_events_dir, tmp_path):
    """Two clicks land in window W before a stop; a third arrives after
    restart from the SAME checkpoint — the window's state must recover and
    the final doc shows n_events=3 (exactly-once despite the restart)."""
    ckpt = str(tmp_path / "ckpt")
    index_root = str(tmp_path / "index")
    indexer = JsonlIndexer(index_root)

    write_event_chunk(
        tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:01:00Z"), ev(2, "2024-01-01T10:03:00Z")]
    )
    q1 = write_stream_to_index(
        windowed_docs(file_events(spark, tmp_events_dir)),
        indexer,
        index="win",
        id_col="doc_id",
        checkpoint_dir=ckpt,
    )
    q1.awaitTermination(120)
    first = indexer.read_index("win")
    assert first["1704103200000000:click"]["n_events"] == 2

    time.sleep(1.1)
    write_event_chunk(tmp_events_dir, "001.json", [ev(3, "2024-01-01T10:05:00Z")])
    q2 = write_stream_to_index(
        windowed_docs(file_events(spark, tmp_events_dir)),
        indexer,
        index="win",
        id_col="doc_id",
        checkpoint_dir=ckpt,  # SAME checkpoint => resume, not reprocess
    )
    q2.awaitTermination(120)
    final = indexer.read_index("win")
    assert final["1704103200000000:click"]["n_events"] == 3
    assert final["1704103200000000:click"]["sum_value"] == 3.0


def test_restart_keeps_pinned_state_store_count(spark, tmp_events_dir, tmp_path):
    """The state-store count is fixed when a checkpoint is created: a query
    started with 3 stores and resumed with the default config (one store)
    still runs 3, and the window's state carries across."""
    ckpt = str(tmp_path / "ckpt")
    index_root = str(tmp_path / "index")

    write_event_chunk(
        tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:01:00Z"), ev(2, "2024-01-01T10:03:00Z")]
    )
    q1 = run_offline(spark, tmp_events_dir, index_root, ckpt, PipelineConfig(shuffle_partitions=3))
    q1.awaitTermination(120)

    time.sleep(1.1)
    write_event_chunk(tmp_events_dir, "001.json", [ev(3, "2024-01-01T10:05:00Z")])
    q2 = run_offline(spark, tmp_events_dir, index_root, ckpt)
    q2.awaitTermination(120)
    data = [p for p in q2.recentProgress if p.numInputRows > 0]
    assert len(data) == 1
    assert [op.numStateStoreInstances for op in data[0].stateOperators] == [3]
    final = JsonlIndexer(index_root).read_index("event_windows")
    assert final["1704103200000000:click"]["n_events"] == 3


def test_parquet_sink_round_trip(spark, tmp_events_dir, tmp_path):
    write_event_chunk(
        tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:00:00Z"), ev(2, "2024-01-01T10:01:00Z")]
    )
    out = str(tmp_path / "out_parquet")
    q = (
        file_events(spark, tmp_events_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert sorted(r.event_id for r in back.collect()) == [1, 2]
    assert back.schema["ts"].dataType.typeName() == "timestamp"


def test_complete_output_mode(spark, tmp_events_dir, tmp_path):
    write_event_chunk(
        tmp_events_dir,
        "000.json",
        [ev(1, "2024-01-01T10:00:00Z", etype="click"), ev(2, "2024-01-01T10:00:30Z", etype="view")],
    )
    name = f"complete_{uuid.uuid4().hex[:8]}"
    counts = file_events(spark, tmp_events_dir).groupBy("event_type").count()
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_type: r["count"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {"click": 1, "view": 1}


def test_processing_time_trigger_starts_and_stops(spark, tmp_events_dir, tmp_path):
    write_event_chunk(tmp_events_dir, "000.json", [ev(1, "2024-01-01T10:00:00Z")])
    name = f"pt_{uuid.uuid4().hex[:8]}"
    q = (
        file_events(spark, tmp_events_dir)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n >= 1:
            break
        time.sleep(0.5)
    q.stop()
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n >= 1


def test_kafka_source_wiring_without_package(spark):
    """The Kafka path is code-complete; without the spark-sql-kafka jar the
    engine must fail with the data-source error (not an API error) —
    proving the wiring is correct up to the missing package."""
    with pytest.raises(Exception) as exc:
        kafka_events(spark, bootstrap_servers="localhost:9092", topic="t").writeStream.format(
            "console"
        ).start()
    assert "kafka" in str(exc.value).lower()
