"""The KSE pipeline, end-to-end (the reference's identity, SURVEY.md §0.1):

    Kafka topic → parse JSON → filter/project → enrich with a static dim
    → event-time windowed aggregate → index documents into Elasticsearch.

This module assembles the pieces (sources, windows, indexer) into the one
flow a user of the reference runs today, parameterized by source and sink
backend so the same code runs offline (file source + JSONL index — this
container) and in production (Kafka + ES REST).

Consistency contract (SURVEY.md §3.3): offsets+state are checkpointed
(exactly-once within Spark); the index write is at-least-once with
idempotent per-_id upserts ⇒ effectively-once documents.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kse.streaming import windows as W
from kse.streaming.sources import parse_props


@dataclass
class PipelineConfig:
    window: str = "10 minutes"
    watermark: str = "15 minutes"
    min_value: float = 0.0
    event_types: tuple[str, ...] = ("click", "view", "purchase", "signup", "error")
    # Streaming state-store count = spark.sql.shuffle.partitions AT QUERY
    # START, pinned into the checkpoint's offset log thereafter (a resumed
    # query keeps the count it was created with). None = the cluster's
    # defaultParallelism: one task wave of store commits per micro-batch.
    # Inheriting the session's 32 on a 4-core host spread ~20 state rows
    # over 32 stores, 8 waves of near-empty commits per batch; sizing to
    # the 4 cores took perfbench's stream_replay from a median 595 to 1386
    # events/s over ten interleaved pairs (latency p50 2.24 -> 0.94 s;
    # traced state commit 3.23 -> 0.45 s). An explicit value wins: a
    # deployment whose keyspace outgrows one wave sizes it up, with a NEW
    # checkpoint.
    shuffle_partitions: int | None = None
    # Spark runs one extra NO-DATA micro-batch after an availableNow drain
    # to advance the watermark and evict expired state — measured at ~35%
    # of a warm 100k-event drain (`git show 33688ea:tools/stream_profile.py`:
    # 523 ms trigger on 0 input rows vs 1182 ms for the data batch). In
    # UPDATE output mode that batch emits ZERO rows (verified: index
    # byte-identical with it disabled), so a drain whose checkpoint does not
    # outlive the run (bench, one-shot exports) can skip it via
    # spark.sql.streaming.noDataMicroBatches.enabled=false. Keep the
    # default (None = inherit, Spark default ON) whenever the checkpoint
    # is reused: eviction then matters for state size, and APPEND-mode
    # queries need the flush batch to emit their finalized windows at all.
    no_data_microbatch: bool | None = None


def transform(events: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """The reference's transform stage: JSON parse → filter → project.

    Works identically on batch and streaming inputs (one logical plan,
    incrementalized by the engine when streaming).
    """
    parsed = parse_props(events)
    return parsed.filter(
        F.col("event_type").isin(*cfg.event_types) & (F.col("value") >= cfg.min_value)
    ).select("event_id", "ts", "user_id", "event_type", "value", "k")


def windowed_docs(events: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Transform → tumbling per-type aggregate → ES-document shape.

    doc_id = '<window_start_us>:<event_type>' so re-processed windows
    overwrite their own documents (idempotent upsert key).
    """
    agg = W.tumbling_counts(
        transform(events, cfg), window=cfg.window, watermark=cfg.watermark
    )
    return agg.select(
        F.concat(
            F.unix_micros(F.col("window_start").cast("timestamp")).cast("string"),
            F.lit(":"),
            F.col("event_type"),
        ).alias("doc_id"),
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        "sum_value",
    )


def run_offline(
    spark,
    events_dir: str,
    index_root: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
    *,
    fmt: str = "json",
    max_files_per_trigger: int | None = 1,
):
    """Offline end-to-end run: file-source replay → windowed docs → JSONL
    index, availableNow (drain everything, then stop). Returns the query
    handle; callers await ``awaitTermination()``."""
    from kse.sinks.indexer import JsonlIndexer, write_stream_to_index
    from kse.streaming.sources import file_events

    events = file_events(
        spark, events_dir, fmt=fmt, max_files_per_trigger=max_files_per_trigger
    )
    # The JSON reader turns a line it cannot parse into an all-NULL row,
    # which transform() then filters out; count those rows per micro-batch
    # (progress.observedMetrics["kse_parse"].malformed_lines). Observed here
    # and not in transform(), which one plan may call twice, and an
    # observation name may be defined only once per plan.
    events = events.observe(
        "kse_parse",
        F.count_if(
            reduce(operator.and_, [F.col(c).isNull() for c in events.columns])
        ).alias("malformed_lines"),
    )
    docs = windowed_docs(events, cfg)
    # shuffle.partitions is read once at stream START and pinned in the
    # checkpoint; scope the state-store sizing to this query by setting it
    # around .start() and restoring the session value immediately after.
    # Same scoping for the no-data flush batch knob (see PipelineConfig).
    partitions = cfg.shuffle_partitions
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    _ND_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nd = spark.conf.get(_ND_KEY)
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    if cfg.no_data_microbatch is not None:
        spark.conf.set(_ND_KEY, str(cfg.no_data_microbatch).lower())
    try:
        return write_stream_to_index(
            docs,
            JsonlIndexer(index_root),
            index="event_windows",
            id_col="doc_id",
            checkpoint_dir=checkpoint_dir,
            output_mode="update",
            available_now=True,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if cfg.no_data_microbatch is not None:
            spark.conf.set(_ND_KEY, prev_nd)
