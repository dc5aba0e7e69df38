#!/usr/bin/env python3
"""Per-layer view of trace artifacts, and the diff of two of them.

    python3 perfbench/compare.py perfbench/out/trace-envelope-1.json
    python3 perfbench/compare.py BEFORE.json AFTER.json

An artifact is what `run.py --trace 1` writes: the spans of the traced
passes plus the per-layer metrics. A span's layer is its name up to the
first dot (`ops.components` -> `ops`; the pass root is `run`). A layer's
self time is the duration of its spans minus the part of each span's
interval that its child spans cover, summed and divided by the number
of traced passes. Its share is that self time over the traced passes'
mean duration (the `run` layer is the pass root's own remainder), so the
shares of one artifact add up to 100%.
"""
import json
import sys
from collections import defaultdict


def covered(start, end, children):
    """Length of [start, end] covered by the union of child intervals."""
    total, cur = 0.0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def self_times(artifact):
    """Layer -> self time in ms per traced pass."""
    spans = [s for s in artifact["spans"] if s["pass"] >= 0]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    passes = len({s["pass"] for s in spans}) or 1
    out = defaultdict(float)
    for s in spans:
        layer = s["name"].split(".")[0] if "." in s["name"] else "run"
        dur = s["end_ms"] - s["start_ms"]
        out[layer] += dur - covered(s["start_ms"], s["end_ms"], kids[s["id"]])
    return {k: v / passes for k, v in out.items()}


def load(path):
    with open(path) as f:
        return json.load(f)


def pass_ms(artifact):
    """Mean duration in ms of the traced passes' root spans."""
    roots = [s["end_ms"] - s["start_ms"] for s in artifact["spans"]
             if s["pass"] >= 0 and s["name"] == "pass"]
    return sum(roots) / len(roots) if roots else 0.0


def show(path):
    a = load(path)
    total = pass_ms(a)
    print(f"{a['workload']} seed {a['seed']} ({a['run_id']}), "
          f"traced pass {total:.1f} ms")
    print(f"{'layer':<12}{'self ms/pass':>14}{'share':>8}")
    for k, v in sorted(self_times(a).items(), key=lambda kv: -kv[1]):
        share = f"{100 * v / total:7.1f}%" if total else f"{'-':>8}"
        print(f"{k:<12}{v:>14.1f}{share}")


def diff(path_a, path_b):
    a, b = load(path_a), load(path_b)
    if a["workload"] != b["workload"]:
        print(f"warning: workloads differ ({a['workload']} vs {b['workload']})")
    sa, sb = self_times(a), self_times(b)
    print(f"{'layer':<12}{'A ms/pass':>12}{'B ms/pass':>12}{'B-A':>10}{'B/A':>8}")
    for k in sorted(set(sa) | set(sb), key=lambda k: -max(sa.get(k, 0), sb.get(k, 0))):
        x, y = sa.get(k, 0.0), sb.get(k, 0.0)
        ratio = f"{y / x:8.2f}" if x else f"{'-':>8}"
        print(f"{k:<12}{x:>12.1f}{y:>12.1f}{y - x:>10.1f}{ratio}")
    print()
    print(f"{'metric':<34}{'A':>14}{'B':>14}{'B/A':>8}")
    ma, mb = a["metrics"], b["metrics"]
    for k in sorted(set(ma) | set(mb)):
        x, y = ma.get(k), mb.get(k)
        if x is None or y is None or x == y:
            continue
        ratio = f"{y / x:8.2f}" if x else f"{'-':>8}"
        print(f"{k:<34}{x:>14.4g}{y:>14.4g}{ratio}")


def main():
    if len(sys.argv) == 2:
        show(sys.argv[1])
    elif len(sys.argv) == 3:
        diff(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
