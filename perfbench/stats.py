"""Small, Spark-free helpers: percentiles, operation accounting and the
environment stamp. Kept apart from the Spark code so the benchmark's own
tests can exercise them without starting a JVM."""

from __future__ import annotations

import os
import platform
import socket
import statistics
from dataclasses import dataclass

# A tail percentile is reported only when at least this many samples back it
# (ten samples beyond the 90th percentile).
P90_MIN_SAMPLES = 100


def median(values: list[float]) -> float:
    """True median: the mean of the two middle values for even counts."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def p90(values: list[float]) -> float | None:
    """90th percentile (inclusive method), or None below P90_MIN_SAMPLES.
    No run of the benchmark reaches that many samples today, which is why
    ``latency_p90_s`` is not among its metrics."""
    if len(values) < P90_MIN_SAMPLES:
        return None
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


@dataclass
class Ops:
    """Operations attempted and failed in one run.

    Batch workloads count query executions: an execution fails when it
    raises or returns another row count than the checked result. The stream
    workload counts input lines: a malformed line fails unless the program
    reported it somewhere the benchmark looks (see README)."""

    attempted: int = 0
    failed: int = 0

    def query(self, rows: int | None, expected_rows: int) -> bool:
        """Record one query execution; ``rows`` is None when it raised."""
        self.attempted += 1
        ok = rows is not None and rows == expected_rows
        if not ok:
            self.failed += 1
        return ok

    def lines(self, n_lines: int, malformed: int, reported: int) -> None:
        """Record one replay of ``n_lines`` input lines, ``malformed`` of
        which were malformed and ``reported`` of those reported by the
        program (a dead-letter document or a parse-failure counter)."""
        if not 0 <= reported <= malformed <= n_lines:
            raise ValueError(f"bad line counts {n_lines}/{malformed}/{reported}")
        self.attempted += n_lines
        self.failed += malformed - reported


def read_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def env_stamp(spark, master: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "host": socket.gethostname(),
    }
