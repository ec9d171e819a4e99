#!/usr/bin/env python3
"""Compare two sets of benchmark runs, refusing to compare across hosts or inputs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are run records written by run.py (.bench_build/results/*.json),
each given as a directory or a single file. Records are grouped by workload
and trace mode; for every metric the medians are compared against the
bound BENCHMARK.json fixes for it.

Exit 0: no metric is worse than its bound. Exit 1: at least one is.
Exit 2: the sets are not comparable - a file is not a run record (the
local[32] PERF_anchor_r*.json files are not), or the host or input
signature differs (nproc, cpus, defaultParallelism, max heap, Spark
version, the benchmark's own hash, the inputs' sizes and hashes, or the
seed sets). File mtimes are recorded but not compared: every checkout
writes new ones.
"""
import json
import statistics
import sys
from pathlib import Path

HOST_KEYS = ("nproc", "cpus", "default_parallelism", "max_heap_mb", "spark_version",
             "bench_hash")


def refuse(msg):
    print(f"NOT COMPARABLE: {msg}", file=sys.stderr)
    sys.exit(2)


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    groups = {}
    for f in files:
        rec = json.loads(f.read_text())
        if f.name.startswith("PERF_anchor") or not isinstance(rec, dict) \
                or "signature" not in rec:
            refuse(f"{f} is not a perfbench run record")
        groups.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    if not groups:
        refuse(f"no run records in {arg}")
    return groups


def inputs_sig(rec):
    """Inputs without mtimes: sizes and hashes only."""
    return {k: ({kk: vv for kk, vv in v.items() if kk != "mtime"} if isinstance(v, dict) else v)
            for k, v in rec["signature"]["inputs"].items()}


def main(base_arg, new_arg):
    bounds = {m["name"]: m for m in
              json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json")
                         .read_text())["end_to_end"]}
    base, new = load(base_arg), load(new_arg)
    if set(base) != set(new):
        refuse(f"workloads differ: {sorted(base)} vs {sorted(new)}")
    worse = 0
    for key in sorted(base):
        b, n = base[key], new[key]
        for side in (b, n):
            for r in side:
                host = {k: r["signature"].get(k) for k in HOST_KEYS}
                ref = {k: b[0]["signature"].get(k) for k in HOST_KEYS}
                if host != ref:
                    refuse(f"{key}: host signature {host} != {ref}")
        b_seeds = {r["seed"]: inputs_sig(r) for r in b}
        n_seeds = {r["seed"]: inputs_sig(r) for r in n}
        if b_seeds != n_seeds:
            refuse(f"{key}: seeds or inputs differ between the two sets")
        print(f"{key[0]} (trace {key[1]}), {len(b)} vs {len(n)} runs")
        for name in [m for m in b[0]["metrics"] if m in n[0]["metrics"]]:
            bm = statistics.median(r["metrics"][name]["value"] for r in b)
            nm = statistics.median(r["metrics"][name]["value"] for r in n)
            change = (nm - bm) / bm if bm else 0.0
            line = f"  {name:28s} {bm:12.4f} -> {nm:12.4f} {change:+8.1%}"
            if name in bounds:
                m = bounds[name]
                bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                worse += bad
                line += f"  bound {m['bound']:.0%} {'WORSE' if bad else 'ok'}"
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
