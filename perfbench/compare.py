"""Compare two sets of benchmark records.

    python3 perfbench/compare.py <A> <B>

A and B are each a record file written by run.py (perfbench/results/*.json)
or a directory of them.  For every workload present on both sides it prints
each metric's median and quartiles on A and on B (across runs; within one
run, across that run's passes, queries or races where the record has them)
and the change of the median, then the same for the unbounded set-up
figures ``process_to_session_s`` and ``cold_pass_s``.  Traced records add
the per-layer deltas, and every record adds per-query latency deltas.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

# per-run samples behind some figures: within-run quartiles of one run
_SAMPLES = {"wall_s": "pass_wall_s", "cancel.latency_ms": "cancel_ms"}
# unbounded set-up figures of every record: JVM start and the cold pass
_RUN_FIGURES = {"process_to_session_s": "s", "cold_pass_s": "s"}


def load(path: str) -> dict[str, list[dict]]:
    """Records under ``path`` grouped by workload."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(
        path) else [path]
    out: dict[str, list[dict]] = defaultdict(list)
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        out[rec["workload"]].append(rec)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def metric_values(records: list[dict], name: str) -> list[float]:
    """Across runs: one value per run; for a single run, the run's raw
    samples where the record keeps them."""
    if len(records) == 1 and name in _SAMPLES and _SAMPLES[name] in records[0]:
        return records[0][_SAMPLES[name]]
    return [r["metrics"][name]["value"] for r in records if name in r["metrics"]]


def query_medians(records: list[dict]) -> dict[str, float]:
    lat = defaultdict(list)
    for r in records:
        for q, samples in r.get("per_query", {}).items():
            lat[q] += [s["latency_ms"] for s in samples if "latency_ms" in s]
    return {q: statistics.median(v) for q, v in lat.items() if v}


def layer_medians(records: list[dict]) -> dict[str, dict[str, float]]:
    """Per query, the median of each traced layer figure."""
    vals: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for r in records:
        for q, samples in r.get("per_query", {}).items():
            for s in samples:
                for k, v in s.items():
                    if k != "latency_ms":
                        vals[q][k].append(v)
    return {q: {k: statistics.median(v) for k, v in ks.items()}
            for q, ks in vals.items()}


def pct(a: float, b: float) -> str:
    return f"{100.0 * (b - a) / a:+.1f}%" if a else "n/a"


def compare(a: dict[str, list[dict]], b: dict[str, list[dict]]) -> list[str]:
    lines = []
    for workload in sorted(set(a) & set(b)):
        ra, rb = a[workload], b[workload]
        lines.append(f"== {workload}  (A: {len(ra)} run(s), B: {len(rb)} run(s))")
        rows = [
            (name, metric["unit"], metric_values(ra, name), metric_values(rb, name))
            for name, metric in ra[0]["metrics"].items()
            if name in rb[0]["metrics"]
        ] + [
            (name, unit, [r[name] for r in ra if name in r],
             [r[name] for r in rb if name in r])
            for name, unit in _RUN_FIGURES.items()
        ]
        for name, unit, va, vb in rows:
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            lines.append(
                f"  {name:28s} A {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
                f"B {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}] {unit}  "
                f"median {pct(qa[1], qb[1])}"
            )
        qa, qb = query_medians(ra), query_medians(rb)
        common = sorted(set(qa) & set(qb), key=lambda q: qa[q] - qb[q])
        if common:
            lines.append("  per-query latency (median ms): A -> B")
            for q in common:
                lines.append(f"    {q:36s} {qa[q]:.1f} -> {qb[q]:.1f}  {pct(qa[q], qb[q])}")
        la, lb = layer_medians(ra), layer_medians(rb)
        for q in sorted(set(la) & set(lb)):
            deltas = [
                f"{k}={la[q][k]:.4g}->{lb[q][k]:.4g}"
                for k in sorted(set(la[q]) & set(lb[q]))
                if la[q][k] != lb[q][k]
            ]
            if deltas:
                lines.append(f"  layers {q}: " + " ".join(deltas))
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n".join(compare(load(argv[0]), load(argv[1]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
