"""The benchmark's own tests: helpers, accounting and the oracle checks.

    python3 -m pytest perfbench/tests -q

No JVM is started: every check here works on small in-memory inputs.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import P90_MIN_SAMPLES, Ops, median, p90  # noqa: E402


def test_median_is_true_median_for_even_counts():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])


def test_p90_needs_enough_samples():
    assert p90([float(i) for i in range(P90_MIN_SAMPLES - 1)]) is None
    values = [float(i) for i in range(1, 101)]
    assert p90(values) == pytest.approx(90.1)


def test_query_accounting():
    ops = Ops()
    assert ops.query(6, 6)
    assert not ops.query(5, 6)  # wrong row count
    assert not ops.query(None, 6)  # raised
    assert (ops.attempted, ops.failed) == (3, 2)


def test_line_accounting_counts_unreported_malformed_lines():
    ops = Ops()
    ops.lines(2_000, 2, 0)  # today: nothing reported
    ops.lines(2_000, 2, 2)  # a program that reports both
    assert (ops.attempted, ops.failed) == (4_000, 2)
    with pytest.raises(ValueError):
        ops.lines(10, 2, 3)


def test_query_oracle_fails_on_planted_wrong_answer():
    duck = pd.DataFrame({"k": ["a", "b"], "n": [3, 4], "v": [1.5, 2.25]})
    right = duck.iloc[::-1].reset_index(drop=True)  # row order is free
    assert oracle.compare_query(ROOT, right, duck) == []
    wrong = right.copy()
    wrong.loc[0, "v"] += 1e-6
    assert oracle.compare_query(ROOT, wrong, duck)
    assert oracle.compare_query(ROOT, right.iloc[:1], duck)


def test_stream_oracle_fails_on_planted_wrong_index(tmp_path):
    t0 = datetime(2024, 3, 1)
    rows = [
        {"event_id": 0, "ts": t0 + timedelta(minutes=1), "event_type": "click", "value": 1.25},
        {"event_id": 1, "ts": t0 + timedelta(minutes=2), "event_type": "click", "value": 2.5},
        {"event_id": 2, "ts": t0 + timedelta(minutes=11), "event_type": "view", "value": 4.0},
        {"event_id": 3, "ts": t0 + timedelta(minutes=3), "event_type": "debug", "value": 9.0},
        {"event_id": 4, "ts": t0 + timedelta(minutes=4), "event_type": "view", "value": -1.0},
    ]
    path = str(tmp_path / "truth.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    expected = oracle.stream_expected(path)
    start_us = int((t0 - datetime(1970, 1, 1)).total_seconds() * 1e6)
    assert expected == {
        f"{start_us}:click": (2, 3.75),
        f"{start_us + 600_000_000}:view": (1, 4.0),
    }
    index = {k: {"n_events": n, "sum_value": s} for k, (n, s) in expected.items()}
    assert oracle.compare_index(index, expected) == []
    wrong = dict(index)
    wrong[f"{start_us}:click"] = {"n_events": 2, "sum_value": 3.7501}
    assert oracle.compare_index(wrong, expected)
    assert oracle.compare_index({}, expected)


def test_backlog_self_check_rejects_disorder_beyond_the_watermark():
    rows = gen._backlog_rows(seed=1)
    stats = gen.check_backlog(rows)
    assert stats["malformed"] == gen.BACKLOG_FILES * len(gen.MALFORMED)
    late = [dict(r) for r in rows]
    per_file = gen.LINES_PER_FILE - len(gen.MALFORMED)
    ts = datetime.fromisoformat(late[per_file]["ts"]) - timedelta(hours=1)
    late[per_file]["ts"] = ts.isoformat(timespec="milliseconds")
    with pytest.raises(AssertionError, match="watermark"):
        gen.check_backlog(late)


def test_sf_tables_match_their_checksums(tmp_path, monkeypatch):
    assert gen.sf_tables() == gen.DATA_DIR
    (tmp_path / "t.parquet").write_bytes(b"changed")
    (tmp_path / "SHA256SUMS").write_text("0" * 64 + "  t.parquet\n")
    monkeypatch.setattr(gen, "DATA_DIR", str(tmp_path))
    with pytest.raises(AssertionError, match="t.parquet"):
        gen.sf_tables()


def test_parse_metric_units():
    assert layers.parse_metric("5,000") == 5000
    assert layers.parse_metric("8 ms") == pytest.approx(0.008)
    assert layers.parse_metric("1.3 s") == pytest.approx(1.3)
    assert layers.parse_metric("2.0 KiB") == 2048
    text = "total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 4))"
    assert layers.parse_metric(text) == 3 * 1024**2


def test_self_time_subtracts_children():
    tracer = layers.Tracer()
    parent = tracer.add("exec", 0.0, 1.0, None)
    tracer.add("catalyst.optimization", 0.0, 0.25, parent)
    tracer.add("catalyst.planning", 0.25, 0.5, parent)
    assert tracer.self_times() == {
        "exec": 0.5, "catalyst.optimization": 0.25, "catalyst.planning": 0.25}
