"""Background plan pre-warming for serving sessions.

The serving-cold attribution (SCALING.md round-12; tools/
profile_cold_plan.py) shows a fresh process pays ~3.6s of one-time JVM
warm-up per unique plan family (Catalyst constructor classloading, Janino
codegen, C2 JIT) and ~1ms of msgvault_spark Python. That cost is not
removable, but it IS overlappable: a serving process answers queries on
one thread while spare driver threads build and Catalyst-compile the rest
of the catalog. PySpark's driver API is thread-safe (each Python thread
drives its own Py4J connection), the plan memo is a lock-guarded LRU
(catalog._PLAN_MEMO_LOCK), and the lake getters are single-flight per
key (sources/cache.memo), so a prewarmed plan is simply a memo hit by
the time a user asks for it.

The reference has the same feature in spirit: its pooled DuckDB
connection prepares statements ahead of use
(internal/query/duckdb.go:91-99); here the prepared object is the
analyzed+compiled DataFrame.

Usage (serving process, right after session create)::

    from msgvault_spark.serving import prewarm_plans
    handle = prewarm_plans(spark, sf_dir)          # returns immediately
    ...answer queries; each unique plan is either memoized already
    ...or builds on demand exactly as before
    handle.wait()                                  # optional barrier

Prewarming compiles plans (analysis → optimization → physical planning →
codegen via ``executedPlan``) but never EXECUTES them — no jobs, no
scans, no broadcasts are materialized, so the memory cost is the plan
objects the memo would hold anyway.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class PrewarmHandle:
    """Join handle + per-entry outcome ('ok' or the exception repr)."""

    threads: list[threading.Thread]
    results: dict[str, str] = field(default_factory=dict)

    def wait(self, timeout: float | None = None) -> dict[str, str]:
        for t in self.threads:
            t.join(timeout)
        return self.results

    @property
    def done(self) -> bool:
        return all(not t.is_alive() for t in self.threads)


def prewarm_plans(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] | None = None,
    *,
    n_threads: int | None = None,
    compile_plans: bool = True,
) -> PrewarmHandle:
    """Build (and optionally Catalyst-compile) catalog plans on background
    driver threads; returns immediately.

    ``names`` defaults to the headline set — the plans a serving session
    is most likely to be asked first. Streaming entries (memoize_plan=
    False, side-effectful) are never prewarmed: an entry is skipped
    unless its catalog fn is the memoizing wrapper, so prewarm can only
    ever populate the memo, never run work a user didn't ask for.
    """
    from msgvault_spark.catalog import CATALOG

    if names is None:
        picked = [n for n, s in CATALOG.items() if s.headline]
    else:
        picked = [n for n in names if n in CATALOG]
    # only memoized entries: a non-wrapper fn would EXECUTE side effects
    picked = [
        n for n in picked if getattr(CATALOG[n].fn, "__wrapped__", None)
    ]
    if n_threads is None:
        n_threads = min(4, max(1, (os.cpu_count() or 4) // 8))

    handle = PrewarmHandle(threads=[])
    lock = threading.Lock()
    queue = list(picked)

    def worker() -> None:
        while True:
            with lock:
                if not queue:
                    return
                name = queue.pop(0)
            try:
                df = CATALOG[name].fn(spark, sf_dir)
                if compile_plans:
                    # force analysis→codegen now, not at first collect;
                    # metadata-only (no jobs)
                    df._jdf.queryExecution().executedPlan()
                outcome = "ok"
            except Exception as exc:  # record, never kill the server
                outcome = f"{type(exc).__name__}: {exc}"
            with lock:
                handle.results[name] = outcome

    for i in range(n_threads):
        t = threading.Thread(
            target=worker, name=f"prewarm-{i}", daemon=True
        )
        t.start()
        handle.threads.append(t)
    return handle
