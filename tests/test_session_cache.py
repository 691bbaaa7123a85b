"""The session-cache registry (sources/cache.memo) is single-flight per
key: concurrent callers of one key share one build, and a slow build of
one key never blocks hits or builds of other keys (HTTP handler threads
and prewarm threads share it)."""

from __future__ import annotations

import sys
import threading
import time

NS = "unit_registry"


def _forget():
    from msgvault_spark.sources import cache

    with cache._REGISTRY_LOCK:
        for k in [k for k in cache._REGISTRY if k[1] == NS]:
            del cache._REGISTRY[k]


def test_concurrent_callers_share_one_build(spark):
    from msgvault_spark.sources.cache import memo

    _forget()
    calls = []
    start = threading.Barrier(8)
    results = []

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the build open while the others arrive
        return object()

    def caller():
        start.wait(30)
        results.append(memo(spark, (NS, "one"), build))

    threads = [threading.Thread(target=caller) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build windows
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(interval)
        _forget()
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(results) == 8
    assert all(r is results[0] for r in results)


def test_blocked_build_does_not_block_other_keys(spark):
    from msgvault_spark.sources.cache import memo

    _forget()
    assert memo(spark, (NS, "b"), lambda: "b") == "b"
    entered, release = threading.Event(), threading.Event()

    def slow_build():
        entered.set()
        release.wait(30)
        return "a"

    a_thread = threading.Thread(target=lambda: memo(spark, (NS, "a"), slow_build))
    a_thread.start()
    got = {}
    try:
        assert entered.wait(30)
        other = threading.Thread(
            target=lambda: got.update(
                b=memo(spark, (NS, "b"), lambda: "rebuilt"),
                c=memo(spark, (NS, "c"), lambda: "c"),
            )
        )
        other.start()
        other.join(10)
        assert not other.is_alive()
        # both finished while the build of "a" was still blocked
        assert got == {"b": "b", "c": "c"}
        assert a_thread.is_alive()
    finally:
        release.set()
        a_thread.join(30)
    assert not a_thread.is_alive()
    assert memo(spark, (NS, "a"), lambda: "rebuilt") == "a"
    _forget()
