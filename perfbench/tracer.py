"""In-memory spans around the program's layer boundaries.

Nothing inside ``msgvault_spark`` is edited: ``install`` swaps each
traced public function for a wrapper, in its defining module and in every
loaded ``msgvault_spark`` module that imported it by name. Only traced
runs install it.

A span is ``[span_id, parent_id, op_id, layer, name, start, end, attrs]``
(``time.perf_counter`` seconds). Spans of one served request share the op
id the client sent in the ``X-Perfbench-Op`` header. Every span also tags
the Spark jobs started inside it (``pb-sp-<span id>``, plus ``pb-op-<op
id>``), so job, stage, task and shuffle counts can be read back from
Spark's status store per span and per operation.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time

OP_HEADER = "X-Perfbench-Op"

# (module, attribute, layer); a traced run refuses to start when one is
# missing, so a moved function cannot read as a layer that costs nothing
TRACED = (
    ("msgvault_spark.api", "aggregate_view", "api"),
    ("msgvault_spark.api", "sub_aggregate_view", "api"),
    ("msgvault_spark.api", "search_messages", "api"),
    ("msgvault_spark.api", "list_view", "api"),
    ("msgvault_spark.api", "get_total_stats", "api"),
    ("msgvault_spark.api", "get_message_summaries", "api"),
    ("msgvault_spark.api", "collect_result", "api"),
    ("msgvault_spark.plans.aggregate", "aggregate", "plans"),
    ("msgvault_spark.plans.aggregate", "sub_aggregate", "plans"),
    ("msgvault_spark.plans.aggregate", "total_stats", "plans"),
    ("msgvault_spark.plans.listing", "list_messages", "plans"),
    ("msgvault_spark.plans.lookup", "get_message_summaries_by_ids", "plans"),
    ("msgvault_spark.search.fast", "search_fast", "plans"),
    ("msgvault_spark.search.parser", "parse_query", "search"),
    ("msgvault_spark.catalog", "run_with_memory_recovery", "catalog"),
    ("msgvault_spark.catalog", "shed_plan_cache", "catalog"),
    ("msgvault_spark.catalog", "clear_session_caches", "catalog"),
    ("msgvault_spark.sources.cache", "get_archive", "sources"),
    ("msgvault_spark.sources.cache", "get_table", "sources"),
    ("msgvault_spark.sources.artifact_store", "save_group", "sources"),
    ("msgvault_spark.sources.artifact_store", "load_group", "sources"),
)
# SearchWithStats methods (the fts page route calls them from server.py)
TRACED_METHODS = (
    ("msgvault_spark.search.fast", "SearchWithStats", "__init__", "plans"),
    ("msgvault_spark.search.fast", "SearchWithStats", "count", "spark"),
    ("msgvault_spark.search.fast", "SearchWithStats", "page", "plans"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def record(self, layer: str, name: str, fn, *args, op=None, attrs=None,
               **kwargs):
        """Call ``fn`` inside a span; ``op`` starts a new operation."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        span_id = next(self._ids)
        op_id = op if op is not None else (parent[2] if parent else None)
        span = [span_id, parent[0] if parent else None, op_id, layer, name,
                0.0, 0.0, dict(attrs or {})]
        tag = f"pb-sp-{span_id}"
        if op is not None:
            self.sc.addJobTag(f"pb-op-{op}")
        self.sc.addJobTag(tag)
        stack.append(span)
        span[5] = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            if name == "collect_result":
                _collect_attrs(span[7], result, args, kwargs)
            return result
        finally:
            span[6] = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            if op is not None:
                self.sc.clearJobTags()
            with self._lock:
                self.spans.append(span)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.record(layer, name, fn, *args, **kwargs)

        return wrapper


def _collect_attrs(attrs: dict, result, args, kwargs) -> None:
    """Rows returned, and Catalyst's planning phases for the collected
    Dataset (QueryPlanningTracker), read after the collect."""
    attrs["rows"] = getattr(result, "row_count", 0)
    df = args[0] if args else kwargs.get("df")
    limit = args[1] if len(args) > 1 else kwargs.get("limit")
    if df is None or limit is not None:
        return  # a limited collect plans a different Dataset
    try:
        jvm = df.sparkSession.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases()
        )
        attrs["plan_ms"] = sum(phases[k].durationMs() for k in phases.keySet())
    except Exception as e:  # noqa: BLE001 — a missing tracker is not fatal
        attrs["plan_error"] = type(e).__name__


def _rebind(original, replacement) -> None:
    """Point every loaded msgvault_spark name bound to ``original`` at
    ``replacement`` (``from x import f`` copies the binding)."""
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("msgvault_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


def missing_functions() -> list[str]:
    """Traced functions this version of the program does not have."""
    missing = [
        f"{modname}.{attr}" for modname, attr, _ in TRACED
        if getattr(importlib.import_module(modname), attr, None) is None
    ]
    missing += [
        f"{modname}.{cls_name}.{meth}"
        for modname, cls_name, meth, _ in TRACED_METHODS
        if getattr(getattr(importlib.import_module(modname), cls_name, None),
                   meth, None) is None
    ]
    return missing


def install(tracer: Tracer) -> list[str]:
    """Wrap the traced functions and return []. If any is missing, wrap
    nothing and return the missing names."""
    missing = missing_functions()
    if missing:
        return missing
    for modname, attr, layer in TRACED:
        fn = getattr(importlib.import_module(modname), attr)
        _rebind(fn, tracer.wrap(layer, attr, fn))
    for modname, cls_name, meth, layer in TRACED_METHODS:
        cls = getattr(importlib.import_module(modname), cls_name)
        setattr(cls, meth, tracer.wrap(layer, f"{cls_name}.{meth}", getattr(cls, meth)))
    _wrap_catalog_entries(tracer)
    return []


def _wrap_catalog_entries(tracer: Tracer) -> None:
    """Trace every plan-memoizing catalog entry as a ``catalog.entry``
    span. Entries that do not memoize (no ``__wrapped__``) are left
    alone."""
    from msgvault_spark import catalog

    for name, spec in catalog.CATALOG.items():
        memo_fn = spec.fn
        if getattr(memo_fn, "__wrapped__", None) is None:
            continue

        @functools.wraps(memo_fn)
        def entry(spark, sf_dir, _name=name, _fn=memo_fn):
            return tracer.record("catalog", "entry", _fn, spark, sf_dir,
                                 attrs={"entry": _name})

        spec.fn = entry


def wrap_handler(tracer: Tracer, server_handle) -> None:
    """Open one operation per GET on the server's request handler."""
    handler = server_handle._httpd.RequestHandlerClass
    original = handler.do_GET

    def do_GET(self):
        op = self.headers.get(OP_HEADER)
        if op is None:
            return original(self)
        return tracer.record("server", "do_GET", original, self, op=op)

    handler.do_GET = do_GET
