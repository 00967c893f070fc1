"""Document indexer sink — the Elasticsearch leg of the reference pipeline
(SURVEY.md §2.1 sink_es, [B:7]).

Two interchangeable backends behind one ``foreachBatch`` interface:

- ``EsBulkIndexer``: Elasticsearch REST ``_bulk`` with ``index`` actions
  keyed by ``_id`` → idempotent upserts, so Spark's at-least-once
  ``foreachBatch`` delivery yields effectively-once documents. Partitions
  POST independently (executor→ES fan-out; size bulk_size to ES heap).
  Code-complete but NOT runnable in this container (no ES, no network —
  verified at survey time); exercised in tests through a mock transport.
- ``JsonlIndexer``: offline stand-in with the SAME semantics — one
  directory per index, one JSONL file per micro-batch, documents keyed by
  ``_id``; a compaction view applies last-write-wins per _id, so replays
  of a micro-batch (Spark's recovery behavior) are idempotent exactly as
  they are against ES.

Why foreachBatch and not a custom sink: it gives the batch-DataFrame API
(joins, repartition) per micro-batch plus a batch_id for exactly-once
bookkeeping — the recommended pattern for external stores.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rows_to_actions(rows: Iterable, id_col: str) -> Iterable[tuple[str, dict]]:
    for row in rows:
        d = row.asDict(recursive=True)
        doc_id = str(d[id_col])
        yield doc_id, d


@dataclass
class JsonlIndexer:
    """Filesystem 'index': ``{root}/{index}/batch=<id>/part-00000.txt`` JSONL.

    One directory per micro-batch, replaced on replay, + last-write-wins
    read view per ``_id`` == ES upsert semantics. Spark renders the
    documents (``to_json(struct(_id, _source))``, no row pickled through a
    Python worker); the driver collects them as Arrow and writes the file.
    That is safe because a micro-batch emits only the windows it updated,
    a set bounded by the time span it touches x 5 event types, not by the
    event count (~15 documents a batch in perfbench's stream_replay, ~21k
    in bench.py's one-batch sf0.1 drain). It skips the Hadoop text
    writer's commit protocol (task-attempt directories, ``.crc`` files,
    ``_SUCCESS``), ~9 forked ``chmod`` calls a batch on a host without
    libhadoop (DESIGN.md, "Local Hadoop FS forks chmod per file"). With
    one state store, the traced stream_replay read 1 file a batch instead
    of 4, 7 tasks a replay instead of 19, and addBatch 0.37 s instead of
    0.61 s. The ES backend below keeps its per-partition fan-out because
    its job IS to POST from executors.

    Atomicity: the file is written into ``_tmp.batch=<id>`` and that
    directory is renamed into place. ``read_index`` skips ``_``/``.``
    entries, so a crash before the rename shows nothing; Spark replays a
    batch whose foreachBatch did not return, and the replay clears the
    leftover first.
    """

    root: str

    def foreach_batch(self, index: str, id_col: str) -> Callable[[DataFrame, int], None]:
        index_dir = os.path.join(self.root, index)

        def _write(batch_df: DataFrame, batch_id: int) -> None:
            # ignoreNullFields=false: Spark's to_json default DROPS
            # null-valued fields, which would change the document shape vs
            # the ES upsert contract (a NULL field must arrive as null, and
            # a NULL id must still produce an "_id" key for read_index).
            payload = F.to_json(
                F.struct(
                    F.col(id_col).cast("string").alias("_id"),
                    F.struct(*[F.col(c) for c in batch_df.columns]).alias("_source"),
                ),
                {"ignoreNullFields": "false"},
            )
            docs = batch_df.select(payload.alias("value")).toArrow().column("value")
            name = f"batch={batch_id:08d}"
            out_dir = os.path.join(index_dir, name)
            tmp_dir = os.path.join(index_dir, f"_tmp.{name}")
            shutil.rmtree(tmp_dir, ignore_errors=True)
            os.makedirs(tmp_dir)
            with open(os.path.join(tmp_dir, "part-00000.txt"), "w", encoding="utf-8") as f:
                f.writelines(f"{doc}\n" for doc in docs.to_pylist())
            # a replayed micro-batch replaces ITS OWN directory =>
            # idempotent, same contract as the ES upserts
            shutil.rmtree(out_dir, ignore_errors=True)
            os.rename(tmp_dir, out_dir)

        return _write

    # ---- read-side (the 'search' half used by tests) ----

    def read_index(self, index: str) -> dict[str, dict]:
        """Materialize the index with last-write-wins per _id (what ES
        would return after all bulks applied): batch directories applied
        in order, later batches overwriting earlier documents."""
        out: dict[str, dict] = {}
        out_dir = os.path.join(self.root, index)
        if not os.path.isdir(out_dir):
            return out
        for batch in sorted(os.listdir(out_dir)):
            batch_dir = os.path.join(out_dir, batch)
            if batch.startswith(("_", ".")) or not os.path.isdir(batch_dir):
                continue  # an unfinished write's temporary directory
            for fname in sorted(os.listdir(batch_dir)):
                if fname.startswith(("_", ".")):
                    continue  # _SUCCESS / commit markers
                with open(os.path.join(batch_dir, fname)) as f:
                    for line in f:
                        rec = json.loads(line)
                        out[rec["_id"]] = rec["_source"]
        return out


def check_bulk_response(status: int, body: bytes | str) -> None:
    """Raise ``IOError`` unless a ``_bulk`` request and every item in it
    succeeded; the message names the first failed item's ``_id``, status
    and ``error.type``."""
    if status >= 300:
        raise IOError(f"bulk index failed: HTTP {status}")
    resp = json.loads(body)
    if not resp.get("errors"):
        return
    results = [r for item in resp.get("items", []) for r in item.values()]
    failed = [r for r in results if r.get("error")]
    if not failed:
        raise IOError("bulk index reported errors but no failed item")
    first, err = failed[0], failed[0]["error"]
    kind = err.get("type") if isinstance(err, dict) else err
    raise IOError(
        f"bulk index: {len(failed)} of {len(results)} items failed; first "
        f"_id={first.get('_id')} status={first.get('status')} error={kind}"
    )


@dataclass
class EsBulkIndexer:
    """Elasticsearch REST bulk indexer (production backend).

    ``transport`` is ``(url, payload) -> (status, body)`` with ``body``
    the raw JSON response — ``urllib`` in production, a recording fake in
    tests. Injected so the bulk-assembly and response checks are testable
    without a cluster.

    ``_bulk`` answers HTTP 200 with ``"errors": true`` when single items
    fail (mapping conflicts, rejected executions), so the status alone
    would lose those documents without a trace: every response's item
    results are checked and the first failed item raises (see
    :func:`check_bulk_response`). Spark then fails the micro-batch, and the
    ``_id`` upserts make its replay idempotent.
    """

    base_url: str
    bulk_size: int = 1000
    transport: Callable[[str, bytes], tuple[int, bytes]] | None = None

    def _default_transport(self, url: str, payload: bytes) -> tuple[int, bytes]:
        import urllib.request

        req = urllib.request.Request(
            url, data=payload, headers={"Content-Type": "application/x-ndjson"}
        )
        with urllib.request.urlopen(req) as resp:  # pragma: no cover (no ES here)
            return resp.status, resp.read()

    def foreach_batch(self, index: str, id_col: str) -> Callable[[DataFrame, int], None]:
        base_url, bulk_size = self.base_url, self.bulk_size
        transport = self.transport or self._default_transport

        def _write(batch_df: DataFrame, batch_id: int) -> None:
            def send_partition(rows):
                buf: list[str] = []

                def flush():
                    if buf:
                        payload = ("\n".join(buf) + "\n").encode()
                        check_bulk_response(*transport(f"{base_url}/_bulk", payload))
                        buf.clear()

                for doc_id, doc in _rows_to_actions(rows, id_col):
                    buf.append(json.dumps({"index": {"_index": index, "_id": doc_id}}))
                    buf.append(json.dumps(doc, default=str))
                    if len(buf) >= 2 * bulk_size:
                        flush()
                flush()

            # foreachPartition, not rdd.mapPartitions(...).count(): same
            # per-partition bulk with bounded buffers, but expressed as
            # the DataFrame action it is — no legacy RDD job spun up per
            # micro-batch just to force evaluation.
            batch_df.foreachPartition(send_partition)

        return _write


def write_stream_to_index(
    df: DataFrame,
    indexer,
    *,
    index: str,
    id_col: str,
    checkpoint_dir: str,
    output_mode: str = "update",
    available_now: bool = True,
):
    """Wire a streaming DataFrame into an indexer via foreachBatch with a
    checkpoint (offsets + state => restart-safe, SURVEY.md §2.9
    st_checkpoint/st_foreachbatch)."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(indexer.foreach_batch(index, id_col))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_batch_to_index(df: DataFrame, indexer, *, index: str, id_col: str) -> None:
    """Batch convenience: index a finished DataFrame (batch_id = 0)."""
    indexer.foreach_batch(index, id_col)(df, 0)
