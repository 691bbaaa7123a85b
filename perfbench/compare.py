"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds the standard output of one or more ``run.py`` runs of
one workload (a detail line and a result line per run). Prints each
metric's median on both sides, the change as a share of the base, and
the base's spread (quartile distance over median). Given untraced runs
as the base and traced runs (``--trace 1``) as the change, it also prints
the tracing overhead: traced ``trace.latency_mean_ms`` over untraced
``latency_mean_ms``. Refuses to compare runs taken at a different
processor count or on different workloads.
"""

from __future__ import annotations

import json
import sys
from statistics import median

from stats import spread


def load(path: str) -> tuple[set, set, dict[str, list[float]]]:
    nprocs, workloads, metrics = set(), set(), {}
    with open(path) as f:
        for line in f:
            doc = json.loads(line)
            if "perfbench" in doc:
                nprocs.add(doc["perfbench"]["provenance"]["nproc"])
                workloads.add(doc["perfbench"]["workload"])
            elif "metrics" in doc:
                for name, m in doc["metrics"].items():
                    metrics.setdefault(name, []).append(m["value"])
    return nprocs, workloads, metrics


def main(base_path: str, change_path: str) -> int:
    base_nproc, base_wl, base = load(base_path)
    change_nproc, change_wl, change = load(change_path)
    if len(base_nproc | change_nproc) != 1:
        print(f"refusing: runs taken at nproc {sorted(base_nproc | change_nproc)}",
              file=sys.stderr)
        return 2
    if len(base_wl | change_wl) != 1:
        print(f"refusing: mixed workloads {sorted(base_wl | change_wl)}",
              file=sys.stderr)
        return 2
    if "latency_mean_ms" in base and "trace.latency_mean_ms" in change:
        ratio = median(change["trace.latency_mean_ms"]) / median(base["latency_mean_ms"])
        print(f"tracing overhead: traced / untraced latency_mean_ms = {ratio:.3f}")
    for name in sorted(set(base) & set(change)):
        b, c = median(base[name]), median(change[name])
        rel = (c - b) / b if b else float("nan")
        sp = spread(base[name]) if len(base[name]) > 1 else float("nan")
        print(f"{name:28s} base {b:14.4f}  change {c:14.4f}  "
              f"{rel:+8.1%}  base spread {sp:.3f}  (n={len(base[name])}/{len(change[name])})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
