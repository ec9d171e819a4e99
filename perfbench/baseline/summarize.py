#!/usr/bin/env python3
"""Summarise a set of run records into the traced-run artifact.

    python3 perfbench/baseline/summarize.py .bench_build/results > perfbench/baseline/trace.json

Per workload: the untraced runs' medians, quartiles and spreads (IQR over
median, as statistics.quantiles(n=4) gives them), the traced runs' median
per-layer metrics, span_cover (the summed layer spans over the traced wall)
and the tracing overhead (median traced wall minus median untraced wall_s).
"""
import json
import statistics
import sys
from pathlib import Path

QUERY_SPANS = ("operators.build_s", "plans.plan_s", "exec.exec_s")
ETL_SPANS = ("sources.read_validate_s", "etl.stage_write_s", "etl.aggregate_s", "etl.seed_s",
             "etl.upsert_s", "etl.quality_s", "etl.views_s")


def quartiles(values, unit):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "unit": unit}


def summarize(recs):
    untraced = sorted((r for r in recs if r["trace"] == 0), key=lambda r: r["seed"])
    traced = sorted((r for r in recs if r["trace"] == 1), key=lambda r: r["seed"])
    out = {}
    if untraced:
        metrics = {m: quartiles([r["metrics"][m]["value"] for r in untraced], v["unit"])
                   for m, v in untraced[0]["metrics"].items()}
        metrics["op_tail_s"] = dict(quartiles([r["op_tail_s"] for r in untraced], "s"),
                                    percentile=untraced[0]["op_tail_percentile"],
                                    samples=untraced[0]["op_samples"])
        out["untraced"] = {"runs": len(untraced), "seeds": [r["seed"] for r in untraced],
                           "metrics": metrics}
    if traced:
        metrics = {m: {"value": statistics.median(r["metrics"][m]["value"] for r in traced),
                       "unit": v["unit"]}
                   for m, v in traced[0]["metrics"].items()}
        walls = [r["metrics"]["trace.wall_s"]["value"] for r in traced]
        spans = ETL_SPANS if traced[0]["workload"] == "weather_etl" else QUERY_SPANS
        out["traced"] = {"runs": len(traced), "seeds": [r["seed"] for r in traced],
                         "trace_wall_s": walls, "metrics": metrics}
        out["span_cover"] = statistics.median(
            sum(r["metrics"][s]["value"] for s in spans) / r["metrics"]["trace.wall_s"]["value"]
            for r in traced)
    if untraced and traced:
        untraced_wall = out["untraced"]["metrics"]["wall_s"]["median"]
        overhead = statistics.median(walls) - untraced_wall
        out["tracing_overhead_s"] = overhead
        out["tracing_overhead_share"] = overhead / untraced_wall
    return out


def main(results):
    recs = [json.loads(p.read_text()) for p in sorted(Path(results).glob("*.json"))]
    if not recs:
        sys.exit(f"no run records in {results}")
    by_workload = {}
    for r in recs:
        by_workload.setdefault(r["workload"], []).append(r)
    sig = {k: v for k, v in recs[0]["signature"].items() if k not in ("seed", "inputs")}
    print(json.dumps({
        "note": "Untraced (--trace 0) and traced (--trace 1) runs of one tree on one host; "
                "made by perfbench/baseline/summarize.py. Every metric is over the timed "
                "passes, after the warm-up pass.",
        "signature": sig,
        "workloads": {w: summarize(rs) for w, rs in sorted(by_workload.items())},
    }, indent=1))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
