"""Per-layer metrics of a traced run, from the spans (tracer.py), the
Spark jobs tagged with them (status store) and JVM counters.

Per-operation figures cover the window's requests. The catalog-entry,
recovery-ladder, sources and artifact-store figures cover the whole
traced run, because set-up is where most of those layers run. A median over operations no span of its layer reached is
left out rather than reported as zero; a sum of a traced function's
time is 0 when the program never called it (a traced run refuses to
start when a traced function is missing).
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

ID, PARENT, OP, LAYER, NAME, START, END, ATTRS = range(8)


def _dur_ms(span) -> float:
    return (span[END] - span[START]) * 1000.0


def layer_metrics(spans, jobs, requests, before, after, artifact_bytes):
    ops = {r["op"]: r for r in requests}
    n_ops = len(ops)
    children = defaultdict(list)
    by_op = defaultdict(list)
    named = defaultdict(list)
    for s in spans:
        children[s[PARENT]].append(s)
        named[s[NAME]].append(s)
        if s[OP] in ops:
            by_op[s[OP]].append(s)
    by_id = {s[ID]: s for s in spans}
    m: dict[str, tuple[float, str]] = {}

    def put_median(name: str, values, unit: str) -> None:
        values = list(values)
        if values:
            m[name] = (median(values), unit)

    def put_sum_ms(name: str, span_name: str) -> None:
        m[name] = (sum(_dur_ms(s) for s in named[span_name]), "ms")

    def self_ms(span) -> float:
        return _dur_ms(span) - sum(_dur_ms(c) for c in children[span[ID]])

    def per_op(fn, layer=None) -> list[float]:
        """fn(op, spans) for each op (with a span of ``layer``, if given)."""
        return [fn(op, ss) for op, ss in by_op.items()
                if layer is None or any(s[LAYER] == layer for s in ss)]

    def layer_sum(op_spans, pred) -> float:
        return sum(_dur_ms(s) for s in op_spans if pred(s))

    def server_self(op, op_spans):
        srv = [s for s in op_spans if s[LAYER] == "server"]
        latency = (ops[op]["end"] - ops[op]["start"]) * 1000.0
        return latency - sum(_dur_ms(c) for s in srv for c in children[s[ID]])

    def top_level(layer):
        def pred(s):
            parent = by_id.get(s[PARENT])
            return s[LAYER] == layer and (parent is None or parent[LAYER] != layer)

        return pred

    collects = [s for op in ops for s in by_op[op] if s[NAME] == "collect_result"]
    statuses = [r["status"] or 0 for r in requests]
    put_median("server.self_ms", per_op(server_self), "ms")
    put_median("server.response_bytes", (len(r["body"]) for r in requests), "bytes")
    m["server.status_4xx"] = (sum(400 <= s < 500 for s in statuses), "count")
    m["server.status_5xx"] = (sum(s >= 500 for s in statuses), "count")
    put_median("api.call_ms", per_op(lambda op, ss: layer_sum(
        ss, lambda s: s[LAYER] == "api" and s[NAME] != "collect_result"),
        "api"), "ms")
    put_median("api.collect_ms", (_dur_ms(s) for s in collects), "ms")
    put_median("api.rows", (s[ATTRS].get("rows", 0) for s in collects), "count")
    put_median("plans.build_ms", per_op(lambda op, ss: layer_sum(
        ss, top_level("plans")), "plans"), "ms")
    put_median("search.parse_ms", per_op(lambda op, ss: layer_sum(
        ss, lambda s: s[LAYER] == "search"), "search"), "ms")
    # self time per layer and operation, over the ops that reach the layer
    for layer in ("catalog", "api", "plans", "search", "sources", "spark"):
        put_median(f"{layer}.self_ms", per_op(lambda op, ss, layer=layer: sum(
            self_ms(s) for s in ss if s[LAYER] == layer), layer), "ms")

    m["catalog.calls"] = (len(named["entry"]), "count")
    m["catalog.recovery_l1"] = (len(named["shed_plan_cache"]), "count")
    m["catalog.recovery_l2"] = (len(named["clear_session_caches"]), "count")
    put_sum_ms("sources.get_archive_ms", "get_archive")
    put_sum_ms("sources.get_table_ms", "get_table")
    put_sum_ms("artifact_store.save_ms", "save_group")
    put_sum_ms("artifact_store.load_ms", "load_group")
    m["artifact_store.bytes"] = (artifact_bytes, "bytes")

    op_tags = {f"pb-op-{op}" for op in ops}
    window_jobs = [j for j in jobs if op_tags.intersection(j["tags"])]
    ran = [s for j in window_jobs for s in j["stages"] if s["status"] != "SKIPPED"]
    waits = []
    for j in window_jobs:
        launches = [s["first_launch_ms"] for s in j["stages"]
                    if s["first_launch_ms"] is not None]
        if launches and j["submit_ms"] is not None:
            waits.append(min(launches) - j["submit_ms"])
    per = max(n_ops, 1)
    m.update({
        "spark.jobs": (len(window_jobs) / per, "count"),
        "spark.stages": (len(ran) / per, "count"),
        "spark.tasks": (sum(s["tasks"] for s in ran) / per, "count"),
        "spark.plan_ms": (sum(s[ATTRS].get("plan_ms", 0) for s in collects) / per, "ms"),
        "spark.codegen_compiles": (
            (after["codegen_compiles"] - before["codegen_compiles"]) / per, "count"),
        "spark.task_busy_ms": (sum(s["run_ms"] for s in ran) / per, "ms"),
        "spark.shuffle_bytes": (sum(s["shuffle_bytes"] for s in ran) / per, "bytes"),
        "spark.failed_tasks": (sum(s["failed_tasks"] for s in ran), "count"),
        "jvm.gc_ms": ((after["gc_ms"] - before["gc_ms"]) / per, "ms"),
        "jvm.heap_used_mb": (after["heap_used_mb"], "MB"),
        "trace.ops": (n_ops, "count"),
    })
    put_median("spark.job_wait_ms", waits, "ms")
    return m
