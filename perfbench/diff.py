#!/usr/bin/env python3
"""Diff the work counters of traced captures against the checked-in baseline.

    python3 perfbench/diff.py perfbench/out/query_mix-seed1-trace1.json ...
    python3 perfbench/diff.py --update CAPTURE...   # re-record the baseline

A capture is the raw result a ``--trace 1`` run of run.py leaves in
perfbench/out/. Work counters are jobs, stages, tasks, bytes and files:
with one client they repeat from run to run of one tree, so a changed
counter means changed work, not a slower window. The baseline keeps, per
workload, each counter's [min, max] over the captures it was recorded
from; min == max marks a counter that repeated exactly. Exits 1 when a
counter falls outside its range, 0 otherwise.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BASELINE = os.path.join(HERE, "baseline", "work_counters.json")

# Per-layer metrics that count work (the rest are times).
WORK_COUNTERS = [
    "tables.schema_jobs", "operators.build_jobs", "plans.derivation_rdds",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "extract.partitions", "extract.files", "extract.rows_per_file", "extract.bytes_written",
    "curation.jobs", "curation.stages_computed", "curation.frontier_files",
    "curation.frontier_bytes", "ivf.log_files", "ivf.log_bytes", "ivf.rebuilds",
]
# Ledger fields that count work, per operation.
LEDGER_COUNTERS = ["jobs", "stages", "tasks", "schema_jobs", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes", "failed_tasks"]


def counters(capture):
    """Flat {counter: value} of one capture: per-layer work counters and,
    keyed ``<op>/<field>``, the ledger's per-operation counters."""
    out = {k: capture["per_layer"][k] for k in WORK_COUNTERS}
    for row in capture["ledger"]:
        for f in LEDGER_COUNTERS:
            out[f"{row['op']}/{f}"] = row[f]
    return out


def load(path):
    with open(path) as fh:
        capture = json.load(fh)
    if not capture.get("trace"):
        raise SystemExit(f"{path}: not a traced capture (run with --trace 1)")
    return capture


def record(captures):
    """Baseline from captures of one seed: per workload, each counter's
    [min, max] over the captures."""
    seeds = {c["seed"] for c in captures}
    if len(seeds) != 1:
        raise SystemExit(f"captures mix seeds {sorted(seeds)}; record one seed")
    by_workload = {}
    for c in captures:
        by_workload.setdefault(c["workload"], []).append(counters(c))
    out = {"seed": seeds.pop(), "workloads": {}}
    for w, runs in sorted(by_workload.items()):
        keys = sorted(set().union(*runs))
        out["workloads"][w] = {
            "captures": len(runs),
            "counters": {k: [min(r.get(k, 0) for r in runs), max(r.get(k, 0) for r in runs)]
                         for k in keys},
        }
    return out


def diff(baseline, capture):
    """Lines describing each counter of `capture` outside the baseline range."""
    w = capture["workload"]
    if capture["seed"] != baseline["seed"]:
        return [f"{w}: capture seed {capture['seed']} is not the baseline's {baseline['seed']}"]
    base = baseline["workloads"].get(w)
    if base is None:
        return [f"{w}: no baseline"]
    got = counters(capture)
    lines = []
    for k in sorted(set(base["counters"]) | set(got)):
        lo, hi = base["counters"].get(k, [None, None])
        v = got.get(k)
        if lo is None or v is None or not lo <= v <= hi:
            want = "absent" if lo is None else (f"{lo:g}" if lo == hi else f"[{lo:g}, {hi:g}]")
            have = "absent" if v is None else f"{v:g}"
            lines.append(f"{w} {k}: {want} -> {have}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("captures", nargs="+")
    ap.add_argument("--baseline", default=BASELINE)
    ap.add_argument("--update", action="store_true", help="write the baseline from the captures")
    a = ap.parse_args(argv)
    captures = [load(p) for p in a.captures]
    if a.update:
        os.makedirs(os.path.dirname(a.baseline), exist_ok=True)
        with open(a.baseline, "w") as fh:
            json.dump(record(captures), fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {a.baseline}")
        return 0
    with open(a.baseline) as fh:
        baseline = json.load(fh)
    changed = [line for c in captures for line in diff(baseline, c)]
    for line in changed:
        print(line)
    print(f"{len(changed)} counters outside the baseline in {len(captures)} captures")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
