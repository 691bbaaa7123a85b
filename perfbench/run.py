"""sparkvault serving benchmark.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. On first use it builds the lake under
``.perfbench/`` (input tables and the artifact store the server builds
from them), then starts the program (``server_proc.py``:
``server.serve()`` on a copy of that store) in a child process, drives it
with two closed-loop HTTP clients sending requests picked by the seed,
checks every answer against DuckDB, and prints one JSON line of detail
and then the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and reports the per-layer metrics (see README.md). Exits non-zero,
without a result line, when the program cannot be run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import select
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.request

import datagen
import reqgen
from stats import tail
from tracer import OP_HEADER

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_hot", "serve_unique")
CLIENTS = 2
# Latency and throughput use the window's first MEASURED_ROUNDS whole
# rounds of routes in stream order, so every run times the same route
# mix whatever the machine's speed. The clients issue all of them even
# past the deadline; requests after them are in the detail line only.
MEASURED_ROUNDS = 1
RUN_BUDGET_S = 170.0
REQUEST_TIMEOUT_S = 30.0
# The input tables do not depend on the seed (the seed picks the
# requests), so they and the artifact store the program builds from them
# are made once per checkout and program version, like a build; every
# run starts the program on its own copy of that store.
DATA_SEED = 0
BUILD_BUDGET_S = 700.0


class ChildError(RuntimeError):
    pass


class Child:
    """The program's process: JSON commands in, JSON replies out."""

    def __init__(self, root: str, run_dir: str, data_dir: str,
                 artifact_dir: str, mode: str | None = None):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": root,
            "SPARK_GRAFT_ARTIFACT_DIR": artifact_dir,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_CONSOLE_PROGRESS": "false",
            "TZ": "UTC",
            # keep every temporary file of the program inside the run dir
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        cmd = [sys.executable, os.path.join(HERE, "server_proc.py"), "--data", data_dir]
        if mode is not None:
            cmd.append(f"--{mode}")
        self.log_path = os.path.join(run_dir, "program.log")
        self._log = open(self.log_path, "wb")
        self.started = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self._log, start_new_session=True,
        )
        self._buf = b""

    def read(self, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while b"\n" not in self._buf:
            left = deadline - time.monotonic()
            if left <= 0:
                raise ChildError(f"no reply within {timeout:.0f}s")
            ready, _, _ = select.select([self.proc.stdout], [], [], left)
            if ready:
                chunk = os.read(self.proc.stdout.fileno(), 65536)
                if not chunk:
                    raise ChildError(f"program exited ({self.proc.poll()})")
                self._buf += chunk
        line, self._buf = self._buf.split(b"\n", 1)
        return json.loads(line)

    def call(self, timeout: float, **cmd) -> dict:
        self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
        self.proc.stdin.flush()
        return self.read(timeout)

    def stop(self) -> None:
        """End the program's whole process group (the Python process and
        its JVM) and wait until it is gone."""
        _kill_group(self.proc)
        self._log.close()

    def log_tail(self, n: int = 20) -> str:
        with open(self.log_path, "rb") as f:
            return b"".join(f.readlines()[-n:]).decode(errors="replace")


def _live_members(pgid: int) -> list[int]:
    """Pids in process group ``pgid`` that have not exited (zombies are
    ended processes waiting to be reaped)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL the program's process group (the Python process and its
    JVM), reap it, and wait until no member is left. Nothing of the
    program outlives the run: its files are in the run dir."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _live_members(proc.pid):
        if time.monotonic() > deadline:
            raise ChildError(f"process group {proc.pid} still alive after SIGKILL")
        time.sleep(0.05)


def _lake_digest(root: str) -> str:
    """Hash of the sources a lake is made from: the program's package and
    the benchmark's input generator and program process."""
    paths = [os.path.join(HERE, "datagen.py"), os.path.join(HERE, "server_proc.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "msgvault_spark")):
        dirnames.sort()
        paths += [os.path.join(dirpath, fn) for fn in sorted(filenames)
                  if fn.endswith(".py")]
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_lake(root: str, base: str) -> dict:
    """The input tables and the artifact store the server builds from
    them when it starts on an empty store, for this version of the
    program: ``{"data", "store", "rows", "build_s"}``. Built on first use
    in a checkout, then reused; a lake of another version is deleted
    first."""
    lake = os.path.join(base, "lake-" + _lake_digest(root))
    ready = os.path.join(lake, "ready.json")
    if not os.path.exists(ready):
        for name in os.listdir(base):
            if name.startswith("lake-"):
                shutil.rmtree(os.path.join(base, name))
        t0 = time.monotonic()
        data = os.path.join(lake, "data")
        rows = datagen.generate(data, DATA_SEED)
        build_dir = os.path.join(lake, "build")
        os.makedirs(build_dir)
        child = Child(root, build_dir, data, os.path.join(lake, "store"), "build")
        try:
            child.read(BUILD_BUDGET_S)
        except ChildError as e:
            raise ChildError(f"building the artifact store: {e}\n"
                             f"--- program log tail ---\n{child.log_tail()}") from e
        finally:
            child.stop()
        shutil.rmtree(build_dir)
        with open(ready, "w") as f:
            json.dump({"rows": rows, "build_s": time.monotonic() - t0}, f)
    with open(ready) as f:
        info = json.load(f)
    info["data"] = os.path.join(lake, "data")
    info["store"] = os.path.join(lake, "store")
    return info


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def run_clients(port: int, requests: list[dict], prefix: str,
                deadline: float, hard_deadline: float,
                must: int = 0) -> tuple[list[dict], float, float]:
    """Closed loop: CLIENTS threads each send their next request only
    after the previous reply. Client c takes requests c, c + CLIENTS, ...
    in order, so the first requests of the list run first whatever the
    timing. Stops at the end of the list, or once ``deadline``
    (perf_counter) has passed and the first ``must`` requests have been
    issued, or at ``hard_deadline`` whatever was issued; requests in
    flight complete. Returns the results, the start (perf_counter) and
    the wall time."""
    results: list[dict] = []
    lock = threading.Lock()

    def client(c: int) -> None:
        for i in range(c, len(requests), CLIENTS):
            now = time.perf_counter()
            if now >= hard_deadline or (i >= must and now >= deadline):
                return
            op, req = f"{prefix}{i}", requests[i]
            httpreq = urllib.request.Request(
                f"http://127.0.0.1:{port}{req['path']}", headers={OP_HEADER: op}
            )
            t0 = time.perf_counter()
            status, body, error = None, b"", None
            try:
                with urllib.request.urlopen(httpreq, timeout=REQUEST_TIMEOUT_S) as r:
                    status, body = r.status, r.read()
            except urllib.error.HTTPError as e:
                status, body = e.code, e.read()
            except OSError as e:
                error = repr(e)
            t1 = time.perf_counter()
            with lock:
                results.append({"op": op, "req": req, "status": status,
                                "body": body, "error": error, "client": c,
                                "start": t0, "end": t1})

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = (max(r["end"] for r in results) - start) if results else 0.0
    return results, start, wall


def check_results(results: list[dict], expected) -> list[str]:
    """Mark each result ok or failed (non-2xx, transport error, wrong
    answer); returns the failure reasons."""
    from oracle import check

    reasons = []
    for r in results:
        if r["error"] is not None:
            r["fail"] = f"{r['req']['path']}: {r['error']}"
        elif not 200 <= r["status"] < 300:
            r["fail"] = f"{r['req']['path']}: HTTP {r['status']}"
        else:
            r["fail"] = check(expected, r["req"], r["body"])
        if r["fail"]:
            reasons.append(r["fail"])
    return reasons


def provenance(root: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    rev = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            rev = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": os.getloadavg(),
        "spark": spark_version,
        "python": platform.python_version(),
        "git_rev": rev,
    }


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def throughput(results: list[dict], start: float) -> float:
    """Replies per second over a fixed amount of work: the measured
    requests over the time from the window's start to the last of their
    replies."""
    return len(results) / (max(r["end"] for r in results) - start)


def latency_summary(results: list[dict]) -> dict:
    lat = sorted(_ms(r["end"] - r["start"]) for r in results)
    return {"mean_ms": statistics.mean(lat), "p50_ms": statistics.median(lat),
            "tail": tail(lat)}


def run(args, root: str, run_dir: str, lake: dict) -> tuple[dict, dict]:
    t_begin = time.monotonic()
    phases: dict[str, float] = {}

    def mark(name: str) -> None:
        phases[name] = round(time.monotonic() - t_begin, 2)

    def left(cap: float) -> float:
        return max(1.0, min(cap, RUN_BUDGET_S - (time.monotonic() - t_begin)))

    data_dir = lake["data"]
    artifact_dir = os.path.join(run_dir, "artifacts")
    shutil.copytree(lake["store"], artifact_dir)
    first = reqgen.first_pass(args.workload, args.seed)
    stream = reqgen.window_stream(args.workload, args.seed)
    n_measured = MEASURED_ROUNDS * reqgen.round_len(args.workload)
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "rows": lake["rows"], "lake_build_s": lake["build_s"],
              "provenance": provenance(root),
              "phase_end_s": phases}
    mark("inputs")

    child = Child(root, run_dir, data_dir, artifact_dir,
                  "trace" if args.trace else None)
    try:
        ready = child.read(left(150))
        setup_s = ready["t"] - child.started
        port = ready["port"]
        mark("setup")

        first_results, first_wall = [], None
        if first:
            first_deadline = time.perf_counter() + left(90)
            first_results, _, first_wall = run_clients(
                port, first, "f", first_deadline, first_deadline
            )
            if len(first_results) < len(first):
                raise ChildError("the first pass did not finish in time")
            mark("first_pass")

        if args.trace:
            before = child.call(30, cmd="counters")
        # the window follows at once, as a user's next requests would
        now = time.perf_counter()
        window, window_start, _ = run_clients(
            port, stream, "w", now + args.seconds, now + left(60), n_measured
        )
        mark("window")
        if args.trace:
            after = child.call(30, cmd="counters")
            jobs = child.call(60, cmd="jobs", since=before["max_job_id"])["jobs"]
            spans_path = os.path.join(run_dir, "spans.json")
            child.call(60, cmd="spans", path=spans_path)
            with open(spans_path) as f:
                spans = json.load(f)
        detail["driver_vm_hwm_mb"] = (
            vm_hwm_mb(child.proc.pid) + vm_hwm_mb(ready["jvm_pid"])
        )
        memory = child.call(30, cmd="memory")
        detail["driver_memory_mb"] = memory

    except ChildError as e:
        raise ChildError(f"{e}\n--- program log tail ---\n{child.log_tail()}") from e
    finally:
        child.stop()
        mark("stop")

    from oracle import Oracle

    expected = Oracle(data_dir)
    all_results = first_results + window
    reasons = check_results(all_results, expected)
    attempted = len(all_results)
    failed = sum(1 for r in all_results if r["fail"])
    detail["failures"] = sorted(set(reasons))[:10]
    mark("oracle")

    window.sort(key=lambda r: int(r["op"][1:]))
    detail["window_requests"] = len(window)
    measured = window[:n_measured]
    if [r["op"] for r in measured] != [f"w{i}" for i in range(n_measured)]:
        raise ChildError(
            f"only {len(measured)} of the {n_measured} measured requests "
            "completed in the run's time budget"
        )
    if first_wall is None:  # the measured round was the first pass
        first_wall = max(r["end"] for r in measured) - window_start
    lat = latency_summary(measured)
    detail["latency_tail"] = lat["tail"]
    detail["latency_p50_ms"] = lat["p50_ms"]
    detail["window_latencies_ms"] = [round(_ms(r["end"] - r["start"]), 1)
                                     for r in measured]
    detail["per_route_p50_ms"] = {
        kind: statistics.median([_ms(r["end"] - r["start"]) for r in measured
                      if r["req"]["kind"] == kind])
        for kind in sorted({r["req"]["kind"] for r in measured})
    }

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (first_wall, "s"),
            "latency_mean_ms": (lat["mean_ms"], "ms"),
            "latency_tail_ms": (lat["tail"]["value"], "ms"),
            "throughput_ops_s": (throughput(measured, window_start), "1/s"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
            "driver_live_mb": (sum(memory.values()), "MB"),
        }
    else:
        from layers import layer_metrics

        metrics = layer_metrics(
            spans, jobs, window, before, after,
            artifact_bytes=dir_bytes(artifact_dir),
        )
        # tracing overhead: this against latency_mean_ms of untraced runs
        metrics["trace.latency_mean_ms"] = (lat["mean_ms"], "ms")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM still runs the clean-up below: stop the program, delete
    # the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "msgvault_spark", "server.py")):
        print("perfbench: run from the root of a sparkvault checkout "
              "(msgvault_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(1, root)  # the oracle reuses the program's archive SQL
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        lake = ensure_lake(root, base)
        detail, result = run(args, root, run_dir, lake)
    except ChildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
