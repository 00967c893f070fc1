"""SparkSession factory with scale-aware defaults.

Reference parity note: the reference (sekaiamber/KSE-Sample — mount empty at
survey time, see SURVEY.md §0) is an application on top of Spark and carries
no engine configuration of its own; everything here is our 100 TB posture.

Design for a 1000-executor cluster, tested on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join conversion are the three knobs that matter most at 100 TB
  and they are all runtime decisions AQE makes better than static config.
- ``spark.sql.shuffle.partitions`` is a *default* only — AQE coalesces it
  down at small scale and splits skewed partitions at large scale. On a real
  cluster set it to ~2-3x total cores. Unless passed, it is
  max($SPARK_GRAFT_CPUS, 8) (32 with the variable unset), whatever
  ``master`` is: an explicit ``local[N]`` does not change it. The KSE
  stream sizes its own state stores (kse.streaming.pipeline.PipelineConfig).
- Arrow enabled for every pandas_udf / toPandas crossing (the vector ops in
  kse.queries.llm live on this).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (which is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_session(
    app_name: str = "kse-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same code runs unmodified on a cluster where ``master`` is injected
    by spark-submit instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI explicitly (Spark 4 default, but one ambient conf away):
        # the engine's data-derived poison guards (e.g. the recursive
        # quarter-spine stop bound in kse/queries/extras.py) rely on
        # CAST('message' AS INT) THROWING on corrupt inputs. With ANSI off
        # that cast yields NULL and a guard would silently truncate instead
        # of failing loudly.
        .config("spark.sql.ansi.enabled", "true")
        # Reap superseded iterative-loop checkpoints (truncate_lineage's
        # reliable mode): cleanCheckpoints defaults to false, which leaks
        # one checkpoint dir per loop round for the application lifetime.
        # Must be set at session build time — setting it later is inert.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet NTZ timestamps (the testdata is tz-naive) read as NTZ so
        # they mean the same wall-clock instant in Spark and in DuckDB.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Forward-compat guard: a TIMESTAMP(NANOS)-vintage events file (which
        # Spark's reader otherwise rejects) loads as raw nanos (bigint) and
        # kse.catalog.load converts it. No-op for the current timestamp[us]
        # testdata, whose ts column passes through untouched.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Managed tables (the bucketed-layout path in kse/scale.py) land in
        # a scratch warehouse, never inside the repo checkout.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kse-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def truncate_lineage(df, *, eager: bool = True):
    """Checkpoint ``df`` to truncate its lineage — the per-round discipline
    of every iterative loop in the engine (min_label_components and
    bigstar_components in kse/queries/llm.py, the edge memo and PageRank in
    kse/queries/graphs.py).

    Mode is decided by the session, not the call site: when the
    SparkContext has a checkpoint directory set
    (``spark.sparkContext.setCheckpointDir(<cluster store path>)``) the
    frame is RELIABLY checkpointed to that directory — on a real cluster
    that's HDFS/object storage, so losing an executor mid-iteration costs
    one task retry, not the whole multi-round job. Without a checkpoint
    dir (local mode, tests, the driver harness) it falls back to
    ``localCheckpoint``, which stores blocks on executor-local disk/memory:
    fast and fine single-JVM, but NOT durable — an executor loss under
    localCheckpoint kills the job because the truncated lineage cannot be
    recomputed. At 100 TB always set a checkpoint dir before running the
    iterative operators; tests/test_graphs.py proves both modes produce
    identical results.

    Retention cost of reliable mode: ``df.checkpoint()`` files are NOT
    deleted when the DataFrame is garbage-collected —
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    ``false``, so a long iterative run (bigstar_components caps at ~200
    rounds) would accumulate one checkpoint directory per round in the
    cluster store for the life of the application. ``get_session`` now
    sets ``cleanCheckpoints=true`` in its builder defaults (it must be
    set at session build time) so the ContextCleaner reaps superseded
    rounds; sessions built outside ``get_session`` should set it
    alongside ``setCheckpointDir`` or clean the directory after the job;
    see DESIGN.md "iterative lineage".
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
