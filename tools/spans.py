#!/usr/bin/env python3
"""Summarize a perfbench span file, one block per op.

    python3 tools/spans.py .bench_build/traces/corpus_dedup-seed1.spans.jsonl

A traced perfbench run (--trace 1) writes op -> job -> stage spans, one
JSON object per line. For each op this prints its wall time, its driver
self time (wall time no stage of its jobs covers, as in the run's
driver.self_s), its job count, and its stages grouped by call site:
stage count, task count and summed stage time per site.
"""
import collections
import json
import sys


def covered(ivs, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            total += 0 if cur_b is None else cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (0 if cur_b is None else cur_b - cur_a)


def main(path):
    spans = [json.loads(line) for line in open(path) if line.strip()]
    ops = [s for s in spans if s["kind"] == "op"]
    jobs = collections.defaultdict(list)
    stages = collections.defaultdict(list)
    for s in spans:
        if s["kind"] == "job":
            jobs[s["parent"]].append(s)
        elif s["kind"] == "stage":
            stages[s["parent"]].append(s)
    for op in ops:
        lo, hi = op["start_ms"], op["end_ms"]
        sts = [st for j in jobs[op["id"]] for st in stages[j["id"]]]
        self_ms = (hi - lo) - covered([(s["start_ms"], s["end_ms"]) for s in sts], lo, hi)
        print(f"{op['name']}: wall {(hi - lo) / 1e3:.3f} s, driver self "
              f"{self_ms / 1e3:.3f} s, {len(jobs[op['id']])} jobs, {len(sts)} stages")
        by_site = collections.defaultdict(lambda: [0, 0, 0])
        for st in sts:
            agg = by_site[st["name"]]
            agg[0] += 1
            agg[1] += st.get("tasks", 0)
            agg[2] += st["end_ms"] - st["start_ms"]
        for site, (n, tasks, ms) in sorted(by_site.items(), key=lambda kv: -kv[1][2]):
            print(f"  {n:3d} stages {tasks:4d} tasks {ms / 1e3:7.3f} s  {site}")


if __name__ == "__main__":
    main(sys.argv[1])
