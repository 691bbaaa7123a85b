"""Seeded request streams for the serve workloads.

A request is a plain dict: ``kind`` (the route family), ``params`` (what
the oracle needs) and ``path`` (the GET target). The program only ever
sees the paths; the benchmark keeps the params to check the answers.

* ``serve_hot`` repeats a fixed set of ten requests whose parameters the
  seed picks, in rounds of one request per route, so every request-keyed
  cache the program might hold fits the working set.
* ``serve_unique`` draws every request's parameters without replacement
  from a seeded space, so no request repeats within a run, in rounds of
  nine route slots (the hot set's routes without the parameterless
  stats/total).

The route order within a round is fixed, not seeded: a window holds about
one round at this version's speed, and a seeded order would change which
routes it holds, and so its median, from seed to seed.
"""

from __future__ import annotations

import random
from urllib.parse import urlencode

from datagen import N_ORDERS

VIEWS = ("senders", "domains", "labels", "time")
DOMAINS = tuple(f"nation_{i}.example.com" for i in range(25))
SUBJECT_TERMS = ("URGENT", "HIGH", "MEDIUM", "SPECIFIED", "LOW")

# one slot per route family and view: the hot set without the
# parameterless stats/total route
UNIQUE_KINDS = tuple(f"agg:{v}" for v in VIEWS) + (
    "sub_agg", "fast_search", "fts_page", "filter", "summaries",
)

# serve_unique draws from a pool large enough that no run can exhaust it
UNIQUE_STREAM_LEN = 2000


def _request(kind: str, params: dict) -> dict:
    if kind == "agg":
        path = "/api/v1/aggregates?" + urlencode(
            {"view": params["view"], "limit": params["limit"]}
        )
    elif kind == "sub_agg":
        path = "/api/v1/aggregates/sub?" + urlencode(
            {"view": "senders", "domain": params["domain"],
             "limit": params["limit"]}
        )
    elif kind == "fast_search":
        path = "/api/v1/search/fast?" + urlencode(
            {"q": f"subject:{params['term']}", "limit": params["limit"]}
        )
    elif kind == "fts_page":
        path = "/api/v1/search?" + urlencode(
            {"q": f"subject:{params['term']}", "page": params["page"],
             "page_size": params["page_size"]}
        )
    elif kind == "filter":
        path = "/api/v1/messages/filter?" + urlencode(
            {"domain": params["domain"], "limit": params["limit"],
             "offset": params["offset"]}
        )
    elif kind == "summaries":
        path = "/api/v1/messages?ids=" + ",".join(str(i) for i in params["ids"])
    elif kind == "total_stats":
        path = "/api/v1/stats/total"
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    return {"kind": kind, "params": params, "path": path}


def hot_set(seed: int) -> list[dict]:
    """The ten fixed serve_hot requests."""
    rng = random.Random(f"hot-{seed}")
    limits = (20, 50, 100)
    reqs = [
        _request("agg", {"view": v, "limit": rng.choice(limits)}) for v in VIEWS
    ]
    reqs += [
        _request("sub_agg", {"domain": rng.choice(DOMAINS), "limit": 50}),
        _request("fast_search", {"term": rng.choice(SUBJECT_TERMS), "limit": 50}),
        _request("fts_page", {"term": rng.choice(SUBJECT_TERMS),
                              "page": rng.randint(1, 3), "page_size": 20}),
        _request("filter", {"domain": rng.choice(DOMAINS), "limit": 20,
                            "offset": rng.choice((0, 10, 20))}),
        _request("summaries",
                 {"ids": rng.sample(range(N_ORDERS), 5)}),
        _request("total_stats", {}),
    ]
    return reqs


def hot_stream(seed: int, n: int) -> list[dict]:
    """``n`` requests: rounds of the hot set, back to back."""
    hot = hot_set(seed)
    return [hot[i % len(hot)] for i in range(n)]


def _draw_unique(kind: str, rng: random.Random, seen: set) -> dict:
    while True:
        if kind.startswith("agg:"):
            params = {"view": kind[4:], "limit": rng.randint(5, 500)}
        elif kind == "sub_agg":
            params = {"domain": rng.choice(DOMAINS), "limit": rng.randint(5, 500)}
        elif kind == "fast_search":
            params = {"term": rng.choice(SUBJECT_TERMS),
                      "limit": rng.randint(5, 500)}
        elif kind == "fts_page":
            params = {"term": rng.choice(SUBJECT_TERMS),
                      "page": rng.randint(1, 5), "page_size": rng.randint(5, 100)}
        elif kind == "filter":
            params = {"domain": rng.choice(DOMAINS), "limit": rng.randint(5, 100),
                      "offset": rng.randint(0, 200)}
        elif kind == "summaries":
            params = {"ids": rng.sample(range(N_ORDERS), rng.randint(3, 8))}
        else:
            raise ValueError(f"unknown request kind {kind!r}")
        req = _request(kind.split(":")[0], params)
        if req["path"] not in seen:
            seen.add(req["path"])
            return req


def unique_stream(seed: int, n: int = UNIQUE_STREAM_LEN) -> list[dict]:
    """``n`` distinct requests in rounds of the route slots, each request's
    parameters drawn without replacement."""
    rng = random.Random(f"unique-{seed}")
    seen: set = set()
    return [
        _draw_unique(UNIQUE_KINDS[i % len(UNIQUE_KINDS)], rng, seen)
        for i in range(n)
    ]


def round_len(workload: str) -> int:
    """Requests in one round of the workload's routes."""
    return len(hot_set(0)) if workload == "serve_hot" else len(UNIQUE_KINDS)


def first_pass(workload: str, seed: int) -> list[dict]:
    """The workload's distinct operations, issued once right after set-up,
    before the window. serve_unique has none of its own: no request of it
    repeats, so the window's first round is its first pass."""
    if workload == "serve_hot":
        return hot_set(seed)
    return []


def window_stream(workload: str, seed: int) -> list[dict]:
    """Requests for the closed-loop window, in issue order."""
    if workload == "serve_hot":
        return hot_stream(seed, UNIQUE_STREAM_LEN)
    return unique_stream(seed)
