#!/usr/bin/env python3
"""Per-op-kind summary of perfbench span files.

Usage:
    python3 tools/perf_spans.py A.spans.jsonl [B.spans.jsonl]

A traced perfbench run (`--trace 1`) writes one span per op, per layer
call and per Spark job to `perfbench/out/results/*-trace1.spans.jsonl`.
For each op kind this prints how many ops ran, their median wall, and for
each layer call the op made (`layer.fn`) the calls per op, the median wall
of one call, the median time inside its Spark jobs (the union of its job
spans, so overlapping jobs count once) and the Spark jobs of every call,
in the order they ran, with a run of equal counts written `jobs×n`: a
write chain that grows reads `6,13`, not a median of 9.5. Given two
files (say parent and change), the columns stand side by side. The layer
totals perfbench reports (`cypher.jobs`) sum over every
call of a layer; this splits them per op kind, so the cost of one cheap
read shows on its own line.
"""
import json
import statistics
import sys
from collections import defaultdict


def summarize(path):
    spans = [json.loads(line) for line in open(path) if line.strip()]
    ops = {s["id"]: s for s in spans if s["kind"] == "op"}
    calls = {s["id"]: s for s in spans if s["kind"] == "call"}
    jobs = defaultdict(list)  # call id -> its job intervals
    for s in spans:
        if s["kind"] == "job":
            jobs[s["parent"]].append((s["start_ms"], s["end_ms"]))
    walls = defaultdict(list)
    for o in ops.values():
        walls[o["name"]].append(o["end_ms"] - o["start_ms"])
    # (op kind, layer.fn) -> (jobs, wall ms, in-job ms) of each call, in run order
    per_call = defaultdict(list)
    for c in sorted(calls.values(), key=lambda c: c["start_ms"]):
        op = ops.get(c["parent"])
        if op is not None:
            iv = jobs[c["id"]]
            per_call[(op["name"], f'{c["layer"]}.{c["name"]}')].append(
                (len(iv), c["end_ms"] - c["start_ms"], union_ms(iv)))
    return walls, per_call


def union_ms(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def cells(summary, kind, call):
    walls, per_call = summary
    if call is None:
        w = walls.get(kind)
        return [str(len(w)), f"{statistics.median(w):.0f}", "", ""] if w else ["-"] * 4
    cs = per_call.get((kind, call))
    if not cs:
        return ["-"] * 4
    return [f"{len(cs) / max(1, len(walls.get(kind, []))):.1f}",
            f"{statistics.median(c[1] for c in cs):.0f}",
            f"{statistics.median(c[2] for c in cs):.0f}",
            runs([c[0] for c in cs])]


def runs(xs):
    """`2,2,2,3` as `2×3,3`."""
    out = []
    for x in xs:
        if out and out[-1][0] == x:
            out[-1][1] += 1
        else:
            out.append([x, 1])
    return ",".join(f"{x}×{n}" if n > 1 else str(x) for x, n in out)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    runs = [summarize(p) for p in argv[1:]]
    kinds = sorted({k for walls, _ in runs for k in walls})
    head = ["op kind / layer.fn"]
    for i, _ in enumerate(runs):
        tag = "AB"[i] if len(runs) > 1 else ""
        head += [f"{tag} ops | calls/op", f"{tag} wall p50 ms", f"{tag} in-job p50 ms",
                 f"{tag} jobs per call"]
    rows = [head]
    for k in kinds:
        rows.append([k] + [c for r in runs for c in cells(r, k, None)])
        fns = sorted({fn for _, per_call in runs for (kk, fn) in per_call if kk == k})
        for fn in fns:
            rows.append(["  " + fn] + [c for r in runs for c in cells(r, k, fn)])
    widths = [max(len(r[i]) for r in rows) for i in range(len(head))]
    for r in rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
