"""Pieces shared by the workloads: the operation record, result
normalization against DuckDB, latency statistics and the RSS sampler."""

from __future__ import annotations

import math
import os
import statistics
import threading
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import duckdb

from scripts.check_oracle import _normalize


@dataclass
class Op:
    """One operation as a user runs it. ``build`` constructs (and, for
    writes, performs) the work through the public API and returns the
    DataFrame to deliver, or None; ``deliver`` moves the result to the
    driver; ``check`` compares it with the expected result. ``before``
    and ``after`` run untimed around the operation."""

    kind: str
    category: str  # "query" | "read" | "write" | "refresh"
    build: Callable[[], Any]
    deliver: Callable[[Any], Any] | None = None
    check: Callable[[Any], bool] = lambda _result: True
    before: Callable[[], Any] | None = None
    after: Callable[[], Any] | None = None


class Workload:
    """What the runner drives. A cycle is one fixed multiset of
    operations; ``stats`` holds the workload's own counters, cleared by
    the runner before the timed sequence."""

    name: str
    tables: list[str]   # generated input tables
    scale: float        # input scale factor

    def __init__(self, spark, data_dir: str, run_dir: str, rng):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.stats: Counter = Counter()

    def setup(self) -> None:
        """Load inputs and compute expected results (part of setup_s)."""

    def corrupt(self) -> None:
        """Alter one expected result (self-test)."""
        raise NotImplementedError

    def warmup_ops(self, rng) -> list[Op]:
        raise NotImplementedError

    def cycle(self, rng) -> list[Op]:
        raise NotImplementedError

    def coverage(self) -> dict:
        """Counts of what the timed sequence exercised, by name."""
        return {}

    def end_metrics(self) -> dict:
        """Workload-specific end-to-end values: name -> (value, unit)."""
        return {}

    def layer_metrics(self, n_ops: int) -> dict:
        """Workload counters for the traced run: name -> (value, unit)."""
        return {}


def duckdb_views(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def oracle_rows(con, sql: str):
    """DuckDB result normalized like scripts/check_oracle.py."""
    rel = con.sql(sql)
    return _normalize(list(rel.columns), rel.fetchall())


def spark_rows(df_columns: list[str], rows) -> tuple:
    return _normalize(df_columns, [tuple(r) for r in rows])


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


class RssSampler:
    """Peak combined resident set size of a set of processes, sampled
    from /proc every ``interval`` seconds on a background thread."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
