"""Summarize ``.perfbench/results`` into one baseline record.

    python3 perfbench/report.py [--out FILE]

For each workload it takes every untraced run. For each end-to-end metric
it reports the median and quartiles over the runs, plus the spread
(interquartile distance as a share of the median), checked against the
metric's bound in BENCHMARK.json. Traced runs contribute their per-layer
metrics, the span coverage and the tracing overhead against the untraced
median. A full-registry run contributes every per-query time.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench", "results")


def _spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) >= 2 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def summarize() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for path in sorted(glob.glob(os.path.join(RESULTS, "*.json"))):
        if not path.endswith(".spans.json"):
            with open(path) as f:
                runs.append(json.load(f))
    out: dict = {"workloads": {}}
    # BENCHMARK.json's workloads first, then any other one that has runs
    # (extract_header runs from the command line but is not in BENCHMARK.json)
    names = [x["name"] for x in bench["workloads"]]
    names += sorted({r["workload"] for r in runs} - set(names))
    for w in names:
        plain = [r for r in runs if r["workload"] == w and not r["trace"]
                 and r["registry"] == "subset"]
        traced = [r for r in runs if r["workload"] == w and r["trace"]
                  and r["registry"] == "subset"]
        rec: dict = {"seeds": sorted(r["seed"] for r in plain),
                     "attempted": sum(r["attempted"] for r in plain),
                     "failed": sum(r["failed"] for r in plain)}
        if plain:
            rec["end_to_end"] = {}
            for m in bounds:
                s = _spread([r["metrics"][m][0] for r in plain])
                s["bound"] = bounds[m]
                s["within_third_of_bound"] = s["spread"] < bounds[m] / 3
                rec["end_to_end"][m] = s
            rec["named"] = {
                m: dict(_spread([r["named"][m][0] for r in plain]), unit=plain[0]["named"][m][1])
                for m in plain[0]["named"] if plain[0]["named"][m][0] is not None
            }
        if traced:
            t = traced[-1]
            rec["per_layer"] = t["layers"]
            rec["span_coverage"] = t["layers"]["trace.span_coverage"]
            if plain:
                base = statistics.median(r["metrics"]["pass_s"][0] for r in plain)
                rec["trace_overhead"] = t["layers"]["trace.pass_s"] / base - 1
            if w == "analytics_registry":
                rec["eager_builds_subset"] = t["detail"]["eager_builds"]
        out["workloads"][w] = rec
    full = [r for r in runs if r["registry"] == "full"]
    if full:
        f = full[-1]
        out["registry_full"] = {
            "seed": f["seed"], "trace": f["trace"], "named": f["named"],
            "attempted": f["attempted"], "failed": f["failed"],
            "failures": f["failures"], "eager_builds": f["detail"]["eager_builds"],
            "order": f["detail"]["order"], "per_query": f["detail"]["per_query"],
        }
    hosts = {json.dumps(r.get("host"), sort_keys=True) for r in runs if r.get("host")}
    out["host"] = [json.loads(h) for h in sorted(hosts)]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out")
    args = ap.parse_args()
    rep = summarize()
    for w, rec in rep["workloads"].items():
        for m, s in rec.get("end_to_end", {}).items():
            flag = "ok" if s["within_third_of_bound"] else "WIDE"
            print(f"{w:20s} {m:12s} n={s['n']:2d} median={s['median']:10.4f} "
                  f"spread={s['spread']:.4f} bound={s['bound']} {flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rep, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
