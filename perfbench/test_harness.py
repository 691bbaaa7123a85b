"""Self-tests for the benchmark harness (not the program).

    python3 -m pytest perfbench/test_harness.py -q

Run from the root of a checkout: the oracle test reuses the program's
archive SQL (``msgvault_spark.sources.adapter``) and needs DuckDB; it
starts no Spark session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import reqgen  # noqa: E402
from stats import spread, tail  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    t = tail([float(i) for i in range(1, 101)])
    assert (t["percentile"], t["value"], t["beyond"], t["n"]) == (90, 90.0, 10, 100)
    t = tail([float(i) for i in range(1, 1001)])
    assert (t["percentile"], t["beyond"]) == (99, 10)


def test_small_samples_keep_a_quarter_beyond_the_tail():
    # 12 samples: 3 must lie above the reported value
    t = tail([float(i) for i in range(1, 13)])
    assert (t["percentile"], t["value"], t["beyond"], t["n"]) == (75, 9.0, 3, 12)
    t = tail([float(i) for i in range(1, 31)])
    assert (t["percentile"], t["value"], t["beyond"]) == (76, 23.0, 7)
    t = tail([float(i) for i in range(1, 41)])
    assert (t["percentile"], t["value"], t["beyond"]) == (75, 30.0, 10)
    t = tail([3.0, 1.0, 2.0])
    assert (t["percentile"], t["value"], t["beyond"]) == (66, 2.0, 1)
    assert tail([5.0])["value"] == 5.0


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0.0
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


@pytest.mark.parametrize("workload", ["serve_hot", "serve_unique"])
def test_request_lists_repeat_for_equal_seeds(workload):
    assert reqgen.first_pass(workload, 7) == reqgen.first_pass(workload, 7)
    assert reqgen.window_stream(workload, 7) == reqgen.window_stream(workload, 7)
    assert reqgen.window_stream(workload, 7) != reqgen.window_stream(workload, 8)


def test_serve_unique_never_repeats_a_request_within_a_run():
    paths = [r["path"] for r in reqgen.first_pass("serve_unique", 3)]
    paths += [r["path"] for r in reqgen.window_stream("serve_unique", 3)]
    assert len(paths) == len(set(paths))


def test_serve_hot_repeats_a_fixed_set_of_ten():
    paths = {r["path"] for r in reqgen.window_stream("serve_hot", 3)[:500]}
    assert len(paths) == 10
    assert paths == {r["path"] for r in reqgen.first_pass("serve_hot", 3)}


def test_every_traced_function_exists():
    from tracer import missing_functions

    assert missing_functions() == []


def test_a_missing_traced_function_is_reported(monkeypatch):
    import tracer

    monkeypatch.setattr(tracer, "TRACED", tracer.TRACED + (
        ("msgvault_spark.api", "no_such_function", "api"),
    ))
    assert tracer.install(None) == ["msgvault_spark.api.no_such_function"]


@pytest.fixture()
def slow_server():
    """A local HTTP server that answers every GET after 50 ms."""
    import http.server
    import threading
    import time

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            time.sleep(0.05)
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *args):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield httpd.server_address[1]
    httpd.shutdown()
    httpd.server_close()
    thread.join()


def test_measured_requests_are_issued_past_the_deadline(slow_server):
    import time

    from run import run_clients

    reqs = reqgen.hot_stream(1, 40)
    now = time.perf_counter()
    results, _, _ = run_clients(slow_server, reqs, "w", now, now + 60, must=7)
    assert sorted(int(r["op"][1:]) for r in results) == list(range(7))
    results, _, _ = run_clients(slow_server, reqs, "w", now + 60, now, must=7)
    assert results == []


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    pytest.importorskip("duckdb")
    import datagen
    from oracle import Oracle

    data = str(tmp_path_factory.mktemp("data"))
    datagen.generate(data, seed=5)
    return Oracle(data)


def _served(rows: list[dict]) -> bytes:
    cols = list(rows[0]) if rows else []
    return json.dumps({
        "columns": cols,
        "rows": [[r[c] for c in cols] for r in rows],
        "row_count": len(rows),
    }).encode()


def _result(req, status, body, error=None):
    return {"req": req, "status": status, "body": body, "error": error}


def test_corrupted_response_counts_as_a_failure(oracle):
    from run import check_results

    req = next(r for r in reqgen.hot_set(5) if r["kind"] == "agg")
    good = oracle.expected(req)
    assert good, "the aggregate should have rows"
    bad = [dict(r) for r in good]
    bad[0]["count"] += 1
    results = [
        _result(req, 200, _served(good)),
        _result(req, 200, _served(bad)),
        _result(req, 200, b"{not json"),
        _result(req, 500, b'{"error": "boom"}'),
        _result(req, None, b"", error="ConnectionResetError()"),
    ]
    reasons = check_results(results, oracle)
    assert [bool(r["fail"]) for r in results] == [False, True, True, True, True]
    assert len(reasons) == 4
