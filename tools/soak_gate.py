#!/usr/bin/env python3
"""Scaling gate over two soak runs (SCALING.md's sf0.1 -> sf1 table).

Usage:
  soak_gate.py <soak_small.json> <soak_big.json> [data_ratio]
               [max_superlinear] [quadratic_csv]

Each input is `graft.Bench` output: the `SPARK_GRAFT_BENCH_OUT` file of
a run with `SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_WARMUP=1` (one
untimed cold pass, then one timed warm pass; its `"queries"` map holds
the warm seconds per query, `"failed"` the queries that threw), or a
`soak_min.py` merge of several such files. data_ratio defaults to 10 (sf0.1 -> sf1); max_superlinear to 2.0.

A query FAILS the gate when warm_big / warm_small > data_ratio *
max_superlinear — i.e. it scaled more than `max_superlinear`x worse
than linear. Sub-second small-side times are floored at 0.2 s before
the ratio so constant-overhead queries (0.05 s -> 0.4 s) don't trip a
gate that exists to catch quadratic blowups, not scheduler noise.
A non-empty "failed" list in either run fails the gate outright:
crashed queries must not read as scaling wins (the BENCH_r07 lesson).

`quadratic_csv` names queries whose DECLARED work is quadratic in the
input — e.g. d5_embedding_dup, the exact all-pairs cosine baseline the
blocked paths (d8 SemDeDup, s2 IVF) are measured against. Their bound
is data_ratio^2 * max_superlinear: still gated (a 300x blowup at 10x
data fails), but not held to a linear standard their spec contradicts.

Exit 0 = all pass; 1 = gate violations (listed); 2 = input problems.
"""
import json
import sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"queries"' in line:
                return json.loads(line)
    raise ValueError(f"no soak JSON line found in {path}")


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    small, big = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    max_super = float(sys.argv[4]) if len(sys.argv) > 4 else 2.0
    quadratic = set(sys.argv[5].split(",")) if len(sys.argv) > 5 else set()
    bound = ratio * max_super

    rc = 0
    for side, run in (("small", small), ("big", big)):
        failed = run.get("failed", [])
        if failed:
            print(f"GATE FAIL: {side} run has crashed queries: {failed}")
            rc = 1

    qs, qb = small["queries"], big["queries"]
    common = sorted(set(qs) & set(qb))
    missing = sorted(set(qs) ^ set(qb))
    if missing:
        print(f"note: only in one run (not gated): {missing}")
    rows = []
    for q in common:
        s, b = max(qs[q], 0.2), qb[q]
        r = b / s
        q_bound = bound * ratio if q in quadratic else bound
        ok = r <= q_bound
        verdict = ("OK (quadratic spec)" if q in quadratic else "OK") if ok \
            else "SUPER-LINEAR"
        rows.append((r, q, qs[q], b, verdict))
        if not ok:
            rc = 1
    for r, q, s, b, verdict in sorted(rows, reverse=True):
        print(f"{q:28s} {s:8.2f}s -> {b:8.2f}s  x{r:6.2f}  {verdict}")
    n_bad = sum(1 for row in rows if not row[4].startswith("OK"))
    print(f"== {len(rows) - n_bad}/{len(rows)} within {max_super}x-of-linear "
          f"at {ratio}x data ==")
    return rc


if __name__ == "__main__":
    sys.exit(main())
