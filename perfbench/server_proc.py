"""The program under test, in its own process: the in-process
``server.serve()`` over the generated inputs, driven by ``run.py``. The
server runs without its background prewarm of catalog plans (README.md,
"Known limits").

Usage (by run.py): ``python3 server_proc.py --data DIR [--trace | --build]``
with the checkout root on PYTHONPATH. The process sets up at once and then
answers one JSON command per stdin line with one JSON line on its
original stdout. With ``--build`` it instead replies once the server is
up and exits: that fills the artifact store the timed runs start from. Everything else the process writes to stdout (the
program's ``print`` calls, the JVM) goes to stderr, so replies never mix
with program output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request


def _health(port: int) -> None:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=30) as r:
        if r.status != 200:
            raise RuntimeError(f"/health answered {r.status}")


def _jvm_counters(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    job_ids = [j.jobId() for j in conv.asJava(store.jobsList(None))]
    return {
        "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
        "heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
        "codegen_compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "max_job_id": max(job_ids, default=-1),
    }


def _live_memory(spark) -> dict:
    """Driver memory still in use once garbage is gone: JVM heap after
    two full collections, JVM non-heap (metaspace, code cache), and this
    Python process's resident set."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm.java.lang.System.gc()
    time.sleep(0.2)
    jvm.java.lang.System.gc()
    with open("/proc/self/status") as f:
        rss_kb = next(int(l.split()[1]) for l in f if l.startswith("VmRSS:"))
    return {
        "heap_mb": mem.getHeapMemoryUsage().getUsed() / 2**20,
        "non_heap_mb": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_rss_mb": rss_kb / 1024.0,
    }


def _jobs_since(spark, since: int) -> list[dict]:
    """Jobs after ``since`` from Spark's status store, with their
    perfbench tags and per-stage task, busy-time and shuffle counts."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in conv.asJava(store.jobsList(None)):
        if j.jobId() <= since:
            continue
        sub = j.submissionTime()
        stages = []
        for sid in conv.asJava(j.stageIds()):
            for s in conv.asJava(store.stageData(sid, False, None, False, None)):
                first = s.firstTaskLaunchedTime()
                stages.append({
                    "status": s.status().toString(),
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                    "first_launch_ms": first.get().getTime() if first.isDefined() else None,
                })
        out.append({
            "id": j.jobId(),
            "tags": [t for t in conv.asJava(j.jobTags()) if t.startswith("pb-")],
            "submit_ms": sub.get().getTime() if sub.isDefined() else None,
            "stages": stages,
        })
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--trace", action="store_true")
    mode.add_argument("--build", action="store_true")
    args = ap.parse_args()

    reply_fd = os.dup(1)
    os.dup2(2, 1)

    def reply(obj: dict) -> None:
        os.write(reply_fd, (json.dumps(obj) + "\n").encode())

    from msgvault_spark import server
    from msgvault_spark.session import get_spark

    spark = get_spark("perfbench")
    tracer = None
    if args.trace:
        from tracer import Tracer, install, wrap_handler

        tracer = Tracer(spark)
        missing = install(tracer)
        if missing:
            # a layer the tracer cannot see would read as zero cost
            print(f"perfbench: traced functions not found: {missing}",
                  file=sys.stderr)
            return 3
    srv = server.serve(spark, args.data, prewarm=False)
    if tracer is not None:
        wrap_handler(tracer, srv)
    _health(srv.port)
    if args.build:
        srv.shutdown()
        reply({"event": "built"})
        return 0
    reply({
        "event": "ready",
        "t": time.time(),
        "port": srv.port,
        "jvm_pid": spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(),
    })

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "counters":
            reply(_jvm_counters(spark))
        elif op == "memory":
            reply(_live_memory(spark))
        elif op == "jobs":
            reply({"jobs": _jobs_since(spark, cmd["since"])})
        elif op == "spans":
            with open(cmd["path"], "w") as f:
                json.dump(tracer.spans, f)
            reply({"spans": len(tracer.spans)})
        else:
            reply({"error": f"unknown command {op!r}"})
    return 1


if __name__ == "__main__":
    sys.exit(main())
