#!/usr/bin/env python3
"""Print where a traced run's measured seconds go, by layer.

Usage: python3 perfbench/render.py .perfbench/spans-<workload>-s<seed>.json

The span file holds the traced phase's span tree (measured phase → pass →
gate or pipeline call → micro-batch → Spark job → stage), each span with its
self time. Every instant of the phase is charged to the deepest span active
then, so the layer totals below add up to its wall time.
"""
import collections
import json
import sys

LAYERS = (
    ("harness", "benchmark loop, checks and cache clearing between calls"),
    ("driver", "inside a call, outside micro-batches and jobs: planning, "
               "codegen, listing, query start and stop"),
    ("input_wait", "continuous query waiting for the open-loop generator"),
    ("streaming", "micro-batch outside its jobs: offsets, WAL, commit, "
                  "driver work inside the batch handler"),
    ("scheduler", "job time not covered by a running stage"),
    ("executor", "stages running on executors"),
)


def render(path, out=sys.stdout):
    with open(path) as fh:
        spans = json.load(fh)
    root = next(s for s in spans if s["kind"] == "measure")
    wall = (root["end_ms"] - root["start_ms"]) / 1000
    by_layer = collections.defaultdict(float)
    for s in spans:
        by_layer[s["layer"]] += s["self_s"]
    print(f"{root['name']}: measured wall {wall:.3f} s", file=out)
    for layer, what in LAYERS:
        v = by_layer.get(layer, 0.0)
        share = 100 * v / wall if wall else 0.0
        print(f"  {layer:<11} {v:9.3f} s {share:6.1f}%  {what}", file=out)
    total = sum(by_layer.values())
    print(f"  {'total':<11} {total:9.3f} s {100 * total / wall if wall else 0:6.1f}%",
          file=out)
    # where each call's seconds go, summed over its subtree, per layer
    parent = {s["id"]: s["parent"] for s in spans}
    calls = {s["id"]: s for s in spans if s["kind"] in ("call", "live")}
    per_call = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        a = s["id"]
        while a in parent and a not in calls:
            a = parent[a]
        if a in calls:
            per_call[calls[a]["name"]][s["layer"]] += s["self_s"]
    if per_call:
        names = [l for l, _ in LAYERS if l != "harness"]
        print(f"  {'call (summed over passes)':<40}" +
              "".join(f"{n:>11}" for n in names), file=out)
        for name, layers in sorted(per_call.items(), key=lambda kv: -sum(kv[1].values())):
            print(f"  {name[:40]:<40}" +
                  "".join(f"{layers.get(n, 0.0):11.3f}" for n in names), file=out)


if __name__ == "__main__":
    render(sys.argv[1])
