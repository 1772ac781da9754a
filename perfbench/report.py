#!/usr/bin/env python3
"""Per-layer report of a traced benchmark run.

    python3 perfbench/report.py --workload <name> --seed <n>

Reads `.bench_build/results/<workload>-seed<n>-trace1.json` and its span
file, as `perfbench/run.py --trace 1` leaves them, and prints:

- the workload's per-layer metrics;
- self time per span level: each span's duration minus the part of it
  its child spans cover, summed over the run. The levels are the
  benchmark's call (request, drain or query), the micro-batch (drains
  only), and Spark jobs and SQL executions together. The self times add
  up to the wall time of the benchmark's calls;
- the tracing overhead: for `serve`, the median request latency per layer
  with the job listeners off and on inside the traced run; otherwise the
  traced run's end-to-end numbers next to the untraced run of the same
  seed (`...-trace0.json`), when there is one.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")
PREFIXES = {"serve": ("index.", "retrieval.", "replay.", "api.", "sources.", "streaming.", "store."),
            "operators": ("registry.",)}


def union(iv):
    total, cur = 0.0, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if cur is None:
            cur = [s, e]
        elif s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            total += cur[1] - cur[0]
            cur = [s, e]
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans):
    """Self ms per level, and the wall ms of the top-level spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def walk(s, level):
        ch = kids.get(s["id"], [])
        covered = union([(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in ch])
        out[level] = out.get(level, 0.0) + (s["end"] - s["start"]) - covered
        nested = [c for c in ch if c["kind"] == "batch"]
        for c in nested:
            walk(c, "batch")
        def cover(kinds):
            return union([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in ch if c["kind"] in kinds])
        jobs = cover(("job",))
        out["spark job"] = out.get("spark job", 0.0) + jobs
        out["sql outside jobs"] = out.get("sql outside jobs", 0.0) + cover(("job", "sql")) - jobs

    roots = [s for s in spans if s["parent"] == ""]
    for r in roots:
        walk(r, r["kind"])
    return out, sum(r["end"] - r["start"] for r in roots)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(PREFIXES))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    base = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}")
    traced = json.load(open(base + "-trace1.json"))
    spans = [json.loads(l) for l in open(base + "-trace1.spans.jsonl") if l.strip()]

    print(f"== per-layer metrics: {args.workload}, seed {args.seed}")
    for k, v in sorted(traced["metrics"].items()):
        if k.startswith(PREFIXES[args.workload]):
            print(f"  {k:48s} {v['value']:14.3f} {v['unit']}")

    selfs, wall = self_times(spans)
    print(f"== self time by level ({len(spans)} spans)")
    for level, ms in sorted(selfs.items(), key=lambda x: -x[1]):
        print(f"  {level:24s} {ms:12.1f} ms {100 * ms / wall:6.1f}%")
    print(f"  {'sum':24s} {sum(selfs.values()):12.1f} ms  (wall of top-level spans {wall:.1f} ms)")

    inrun = traced["info"].get("trace_overhead_http_p50_ms")
    if inrun:
        # serve times the same kind of request rounds with the job
        # listeners off and on inside the traced run
        print("== tracing overhead (median request latency, listeners off vs on, c=1)")
        for layer, v in sorted(inrun.items()):
            print(f"  {layer:28s} untraced {v['untraced']:12.3f}  traced {v['traced']:12.3f}  "
                  f"{100 * (v['traced'] - v['untraced']) / v['untraced']:+6.1f}% ms")
        return
    untraced_file = base + "-trace0.json"
    print("== tracing overhead (traced vs untraced, same seed)")
    if not os.path.exists(untraced_file):
        print("  no untraced run of this seed")
        return
    untraced = json.load(open(untraced_file))["metrics"]
    for k, v in sorted(untraced.items()):
        if k in traced["metrics"] and k != "setup_s":
            t = traced["metrics"][k]["value"]
            print(f"  {k:28s} untraced {v['value']:12.3f}  traced {t:12.3f}  "
                  f"{100 * (t - v['value']) / v['value']:+6.1f}% {v['unit']}")


if __name__ == "__main__":
    main()
