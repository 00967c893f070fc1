"""Independent computations the benchmark checks the program against.

- Queries: each query's registered DuckDB oracle SQL over the same files,
  compared with the exact-value comparison of ``tools/check.py`` (imported
  from the checkout as it is). The tables do not change, so a result is
  computed once per oracle SQL text and DuckDB version and kept on disk.
- Stream: the final index (last write wins per ``_id``) against a DuckDB
  10-minute tumbling ``GROUP BY event_type`` over the well-formed events.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb
import pandas as pd

from gen import EVENT_TYPES

_CHECK = None


def check_module(root: str):
    """``tools/check.py`` of the checkout at ``root``, loaded once."""
    global _CHECK
    if _CHECK is None:
        spec = importlib.util.spec_from_file_location(
            "kse_tools_check", os.path.join(root, "tools", "check.py"))
        _CHECK = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_CHECK)
    return _CHECK


def compare_query(root: str, spark_pdf, duck_pdf) -> list[str]:
    """Errors of ``tools/check.py``'s exact comparison (empty when equal)."""
    return check_module(root).compare(spark_pdf, duck_pdf)


def query_expected(root: str, sf_dir: str, oracles: dict[str, str], cache_dir: str) -> dict:
    """Each query's DuckDB oracle result as a pandas DataFrame, by name,
    read from ``cache_dir`` or computed there. The key is the files'
    checksums (``sf_dir/SHA256SUMS``), the DuckDB version and the SQL."""
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        data_key = f"{duckdb.__version__}\n{f.read()}"
    results, duck = {}, None
    try:
        for name, sql in oracles.items():
            key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:16]
            path = os.path.join(cache_dir, f"{name}-{key}.pkl")
            if not os.path.isfile(path):
                duck = duck or check_module(root).duck_connect(sf_dir)
                tmp = f"{path}.tmp-{os.getpid()}"
                duck.execute(sql).df().to_pickle(tmp)
                os.rename(tmp, path)
            results[name] = pd.read_pickle(path)
    finally:
        if duck is not None:
            duck.close()
    return results


# The window start in epoch microseconds, aligned like Spark's window(),
# then the pipeline's document id '<window_start_us>:<event_type>'.
_STREAM_SQL = f"""
SELECT CAST(epoch_us(ts) // 600000000 * 600000000 AS VARCHAR) || ':' || event_type
         AS doc_id,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM read_parquet(?)
WHERE event_type IN ({", ".join(f"'{t}'" for t in EVENT_TYPES)}) AND value >= 0
GROUP BY ALL
"""


def stream_expected(truth_parquet: str) -> dict[str, tuple[int, float]]:
    con = duckdb.connect()
    try:
        rows = con.execute(_STREAM_SQL, [truth_parquet]).fetchall()
    finally:
        con.close()
    return {doc_id: (int(n), float(s)) for doc_id, n, s in rows}


def compare_index(index: dict[str, dict], expected: dict[str, tuple[int, float]]) -> list[str]:
    """Errors between an index read back last-write-wins and the expected
    documents: same ids, same n_events, same rounded sum."""
    errs: list[str] = []
    missing = sorted(set(expected) - set(index))
    extra = sorted(set(index) - set(expected))
    if missing:
        errs.append(f"{len(missing)} documents missing, e.g. {missing[0]}")
    if extra:
        errs.append(f"{len(extra)} unexpected documents, e.g. {extra[0]}")
    for doc_id in sorted(set(index) & set(expected)):
        doc = index[doc_id]
        got = (doc.get("n_events"), doc.get("sum_value"))
        if got != expected[doc_id]:
            errs.append(f"{doc_id}: got {got}, want {expected[doc_id]}")
    return errs
