"""Registry wiring SURVEY.md §2 operators to the driver contract.

Every implemented operator registers a ``queries()`` callable and (when
SQL-expressible) a DuckDB ``oracle_sql()`` string. The driver hash-compares
Spark result vs oracle at sf=0.01; column names/types are aligned on both
sides and floating aggregates are rounded to 4 decimals on both sides so the
comparison is numerically stable (fp summation order differs between engines
by ~1 ulp; ranking always tie-breaks on a key column for determinism).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Register a driver-facing query; ``oracle`` is equivalent DuckDB SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_suites() -> None:
    """Import all suite modules (side effect: they register queries)."""
    from milvus_spark import suites  # noqa: F401

    _gc_scratch()
    suites.load_all()


def _gc_scratch(max_age_hours: float = 6.0, max_entries: int = 48) -> None:
    """Bound _scratch growth on BOTH age and count: suite queries mkdtemp
    work dirs per run. The age cutoff (6h — outlives any single run,
    including multi-hour large-SF benches) reclaims across rounds; the
    count cap reclaims within a busy session — when more than
    ``max_entries`` dirs exist, the oldest beyond the cap go too, so a
    long check/bench loop can't pile up hundreds of dirs. Count-eviction
    skips dirs newer than 1h as a concurrent-session guard (check.py and
    bench.py additionally clean their own dirs at end of run)."""
    import shutil
    import time

    from milvus_spark.scratch import SCRATCH as root

    if not os.path.isdir(root):
        return
    now = time.time()
    cutoff = now - max_age_hours * 3600
    entries = []
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        try:
            mtime = os.path.getmtime(path)
        except OSError:
            continue
        if mtime < cutoff:
            shutil.rmtree(path, ignore_errors=True)
        else:
            entries.append((mtime, path))
    entries.sort(reverse=True)  # newest first
    for mtime, path in entries[max_entries:]:
        if mtime < now - 3600:
            shutil.rmtree(path, ignore_errors=True)
