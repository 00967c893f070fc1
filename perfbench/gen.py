"""The benchmark's inputs.

- ``sf_tables()``: the repository's sf0.1 test tables, kept byte for byte under
  ``perfbench/data/sf0.1`` and checked against their SHA-256 sums. They do
  not depend on the seed.
- ``backlog(seed)``: JSON-lines event files for the stream replay, plus the
  well-formed events as a parquet truth table for the DuckDB oracle, a pure
  function of ``(seed, GEN_VERSION)``. It is cached under
  ``<work>/inputs/stream-s<seed>-v<GEN_VERSION>``, written to a temporary
  directory first and then renamed, so a killed run never leaves a
  half-written cache entry behind. The generator checks its output before
  it is published (line counts, disorder, shares).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

# Stream backlog make-up. Every file holds LINES_PER_FILE lines, of which
# exactly len(MALFORMED) are malformed; those lines and their positions do
# not depend on the seed, so the failed share is the same in every run.
BACKLOG_FILES = 3
LINES_PER_FILE = 2_000
MALFORMED = ('{"event_id": 0, "user_id": ', "#corrupt-record#")
MALFORMED_AT = (LINES_PER_FILE // 3, 2 * LINES_PER_FILE // 3)
# skewed event types; the last two are not in PipelineConfig.event_types,
# so transform() must filter them out
STREAM_TYPES = EVENT_TYPES + ("heartbeat", "debug")
STREAM_WEIGHTS = (0.30, 0.42, 0.10, 0.05, 0.04, 0.06, 0.03)
NEGATIVE_SHARE = 0.02  # value < 0: also filtered out by transform()
STREAM_T0 = datetime(2024, 3, 1)
EVENT_GAP_MS = 600  # nominal spacing: 2,000 events span 20 minutes
MAX_DISORDER_MS = 5 * 60 * 1000  # far below the 15-minute watermark
WATERMARK_MS = 15 * 60 * 1000


def _publish(dest: str, build) -> str:
    """Run ``build(tmp_dir)`` and rename the result to ``dest`` once."""
    if os.path.isdir(dest):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def sf_tables() -> str:
    """The sf0.1 tables' directory, after checking every file's SHA-256."""
    with open(os.path.join(DATA_DIR, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name, want in sums.items():
        with open(os.path.join(DATA_DIR, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != want:
            raise AssertionError(f"{name}: sha256 {got}, want {want}")
    return DATA_DIR


def _backlog_rows(seed: int) -> list[dict]:
    """All backlog events in line order (malformed lines excluded)."""
    rng = np.random.default_rng([seed, 2])
    n = BACKLOG_FILES * (LINES_PER_FILE - len(MALFORMED))
    nominal = np.arange(n, dtype=np.int64) * EVENT_GAP_MS
    ts_ms = nominal - rng.integers(0, MAX_DISORDER_MS, n)
    types = rng.choice(len(STREAM_TYPES), n, p=STREAM_WEIGHTS)
    values = np.round(rng.uniform(0.0, 100.0, n), 2)
    values[rng.random(n) < NEGATIVE_SHARE] *= -1
    users = rng.integers(0, 500, n)
    ks = rng.integers(0, 100, n)
    rows = []
    for i in range(n):
        ts = STREAM_T0 + timedelta(milliseconds=int(ts_ms[i]))
        rows.append({
            "event_id": i,
            "ts": ts.isoformat(timespec="milliseconds"),
            "user_id": int(users[i]),
            "event_type": STREAM_TYPES[types[i]],
            "value": float(values[i]),
            "props": f'{{"k": {int(ks[i])}}}',
        })
    return rows


def check_backlog(rows: list[dict]) -> dict:
    """Self-checks of the backlog's make-up; returns its shares."""
    n = BACKLOG_FILES * LINES_PER_FILE
    well_formed = n - BACKLOG_FILES * len(MALFORMED)
    if len(rows) != well_formed:
        raise AssertionError(f"backlog: {len(rows)} events, want {well_formed}")
    ts = [datetime.fromisoformat(r["ts"]) for r in rows]
    per_file = LINES_PER_FILE - len(MALFORMED)
    max_seen = None
    for f in range(BACKLOG_FILES):
        chunk = ts[f * per_file:(f + 1) * per_file]
        if max_seen is not None:
            # the watermark after file f-1 is max_seen - 15 min; no event of
            # file f may fall behind it, or the engine would drop it as late
            slack = (min(chunk) - (max_seen - timedelta(milliseconds=WATERMARK_MS)))
            if slack <= timedelta(0):
                raise AssertionError(f"backlog file {f}: disorder beyond the watermark")
        max_seen = max(chunk) if max_seen is None else max(max_seen, max(chunk))
    kept = sum(1 for r in rows if r["event_type"] in EVENT_TYPES and r["value"] >= 0)
    filtered_share = 1 - kept / len(rows)
    if not 0.05 < filtered_share < 0.2:
        raise AssertionError(f"backlog: filtered-out share {filtered_share:.3f}")
    return {
        "lines": n,
        "malformed": BACKLOG_FILES * len(MALFORMED),
        "well_formed": len(rows),
        "kept": kept,
        "filtered_share": round(filtered_share, 4),
    }


def backlog(work: str, seed: int) -> str:
    """Generate (or reuse) the stream backlog; returns its directory, which
    holds ``events/`` (the files the program replays) and ``truth.parquet``
    (the well-formed events, for the oracle only)."""
    dest = os.path.join(work, "inputs", f"stream-s{seed}-v{GEN_VERSION}")

    def build(tmp: str) -> None:
        rows = _backlog_rows(seed)
        stats = check_backlog(rows)
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        per_file = LINES_PER_FILE - len(MALFORMED)
        stamp = 1_700_000_000.0
        for f in range(BACKLOG_FILES):
            chunk = iter(rows[f * per_file:(f + 1) * per_file])
            path = os.path.join(events, f"part-{f:05d}.json")
            with open(path, "w") as out:
                for line in range(LINES_PER_FILE):
                    if line in MALFORMED_AT:
                        out.write(MALFORMED[MALFORMED_AT.index(line)] + "\n")
                    else:
                        out.write(json.dumps(next(chunk)) + "\n")
            # the file source replays in modification-time order
            os.utime(path, (stamp + f, stamp + f))
        truth = pa.Table.from_pylist(rows).set_column(
            1, "ts", pa.array([datetime.fromisoformat(r["ts"]) for r in rows],
                              pa.timestamp("us")))
        pq.write_table(truth, os.path.join(tmp, "truth.parquet"))
        with open(os.path.join(tmp, "stats.json"), "w") as out:
            json.dump(stats, out)

    return _publish(dest, build)


def backlog_stats(backlog_dir: str) -> dict:
    with open(os.path.join(backlog_dir, "stats.json")) as f:
        return json.load(f)
