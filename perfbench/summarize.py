#!/usr/bin/env python3
"""Per-layer table of a traced benchmark run, with the tracing overhead.

    python3 perfbench/summarize.py [WORKLOAD ...]

Reads perfbench/out/trace_<workload>.jsonl (written by
`run.py --trace 1`): its first line is the traced run's result, the rest
are spans (op, name, start_ms, end_ms, parent). Each op's wall time is split
into self times: `exec` is the union of its Spark jobs, `plans` the union
of its planning phases outside those jobs, and `engine` what is left. The
per-layer counters follow, each with its base. The tracing overhead compares
the traced run with perfbench/out/last_<workload>_trace0.json, the latest
untraced run of the same workload, if there is one.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")
WORKLOADS = ["hiveql_scripts", "warehouse_queries", "cow_dml", "dedup_increments"]
BASES = {  # what each per-layer figure is counted over
    "plans.rule_effective_ratio": "rule runs", "exec.task_skew": "worst stage",
    "exec.task_wait_ms": "per task", "sources.scan_per_result": "per result row",
    "acid.table_files": "at end", "acid.table_bytes": "at end",
    "acid.files_rewritten_ratio": "per write", "dedup.batch_docs": "per call",
    "dedup.survivor_ratio": "per batch doc", "dedup.shuffle_records_per_batch_doc": "per batch doc",
    "dedup.call_ms": "per call", "dedup.corpus_docs": "per call",
    "host.steal_s": "window", "jvm.driver_gc_ms": "window",
}


def union(iv, lo, hi):
    iv = sorted((max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo))
    total, cur = 0.0, None
    for s, e in iv:
        if cur and s <= cur[1]:
            cur = (cur[0], max(cur[1], e))
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = (s, e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans):
    ops = {s["op"]: s for s in spans if s["parent"] is None}
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["op"], []).append(s)
    tot = {"engine": 0.0, "plans": 0.0, "exec": 0.0, "op": 0.0}
    for i, o in ops.items():
        lo, hi = o["start_ms"], o["end_ms"]
        jobs = [(k["start_ms"], k["end_ms"]) for k in kids.get(i, []) if k["name"] == "exec.job"]
        plans = [(k["start_ms"], k["end_ms"]) for k in kids.get(i, []) if k["name"].startswith("plans.")]
        both = union(jobs + plans, lo, hi)
        ex = union(jobs, lo, hi)
        tot["op"] += hi - lo
        tot["exec"] += ex
        tot["plans"] += both - ex
        tot["engine"] += (hi - lo) - both
    return len(ops), tot


def summarize(w):
    path = os.path.join(OUT, f"trace_{w}.jsonl")
    if not os.path.isfile(path):
        print(f"== {w}: no trace (run: python3 perfbench/run.py --workload {w} --trace 1)")
        return
    with open(path) as f:
        head = json.loads(f.readline())
        spans = [json.loads(l) for l in f if l.strip()]
    n, tot = self_times(spans)
    print(f"== {w} (traced run, seed {head['seed']}): {n} ops, {head['failed']} failed")
    print(f"  {'self time':34s} {'ms/op':>12s} {'share':>8s}")
    for k in ("engine", "plans", "exec"):
        print(f"  {k:34s} {tot[k] / max(n, 1):12.2f} {tot[k] / max(tot['op'], 1e-9):8.1%}")
    print(f"  {'counter':34s} {'value':>12s}  base")
    for k, v in head["per_layer"].items():
        print(f"  {k:34s} {v:12.4g}  {BASES.get(k, 'per op')}")
    plain = os.path.join(OUT, f"last_{w}_trace0.json")
    if os.path.isfile(plain):
        with open(plain) as f:
            base = json.load(f)["end_to_end"]
        traced = head["end_to_end"]
        print("  tracing overhead (traced vs untraced, seeds %s vs %s):" % (
            head["seed"], json.load(open(plain))["seed"]))
        for k in ("ops_per_s", "op_p50_ms", "cpu_ms_per_op"):
            if base.get(k):
                print(f"    {k:32s} {traced[k]:12.4g} vs {base[k]:12.4g} ({traced[k] / base[k] - 1:+.1%})")
    else:
        print("  tracing overhead: no untraced run of this workload in perfbench/out/")


def main():
    for w in sys.argv[1:] or WORKLOADS:
        summarize(w)


if __name__ == "__main__":
    main()
