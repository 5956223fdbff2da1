#!/usr/bin/env python3
"""Merge N soak runs into one per-query MIN file (the SCALING.md
min-over-runs protocol — this VM has whole-run degraded windows, so a
single soak can over-read any query by 3-10x).

Each run is `graft.Bench` output: the `SPARK_GRAFT_BENCH_OUT` file of a
run with `SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_WARMUP=1`, whose
`"queries"` map holds each query's warm seconds.

Usage: soak_min.py out.json run1.json run2.json [...]
"""
import json
import sys

out, runs = sys.argv[1], sys.argv[2:]
datas = [json.load(open(r)) for r in runs]
failed = sorted({q for d in datas for q in d.get("failed", [])})
queries = {}
for d in datas:
    for q, s in d["queries"].items():
        queries[q] = min(queries.get(q, float("inf")), s)
merged = {
    "metric": "warm_total_min",
    "value": sum(queries.values()),
    "unit": "sec",
    "runs": len(datas),
    "queries": queries,
    "failed": failed,
    "sf": datas[0].get("sf", "?"),
}
with open(out, "w") as f:
    json.dump(merged, f)
print(json.dumps({q: round(s, 2) for q, s in sorted(queries.items())}))
