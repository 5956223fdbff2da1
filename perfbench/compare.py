#!/usr/bin/env python3
"""Run sets: collect them, and compare two of them within the benchmark's bounds.

    python3 perfbench/compare.py collect OUT.jsonl [--workloads a,b] [--seeds 1-10]
                                          [--seconds N] [--trace 0|1]
    python3 perfbench/compare.py compare A.jsonl [B.jsonl]

`collect` runs perfbench/run.py once per (workload, seed) and appends one JSON
line per run: {"workload", "seed", "trace", "wall_s", "result", "report", "env"},
the last three being the run's result line and the report and environment
record of its full result.

`compare` prints, per workload and metric, the median and quartiles of each
set (Python's statistics.quantiles(n=4)) and the spread (Q3 - Q1) / median; a
spread above a third of the metric's bound is marked NOISY, and one above the
bound fails the comparison (setup_s included). With a second set
it also prints the change of the median and whether it stays within the bound
in the metric's worse direction. Traced sets (per-layer metrics) have no
bounds; their medians and quartiles are printed the same way.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(argv):
    out = Path(argv[0])
    opts = dict(zip(argv[1::2], argv[2::2]))
    s = spec()
    workloads = opts.get("--workloads", ",".join(w["name"] for w in s["workloads"])).split(",")
    seconds = opts.get("--seconds", str(s["run_seconds"]))
    trace = opts.get("--trace", "0")
    for seed in seeds_of(opts.get("--seeds", "1-10")):
        for w in workloads:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", seconds, "--trace", trace],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            last = HERE / ".work" / f"last-{w}.json"
            full = json.loads(last.read_text()) if result and last.is_file() else {}
            with out.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": int(trace),
                                    "wall_s": round(time.monotonic() - t0, 1),
                                    "result": result, "report": full.get("report"),
                                    "env": full.get("env")}) + "\n")
            print(f"{w} seed {seed}: " + ("ok" if result and result["correct"] else "FAILED")
                  + f" in {time.monotonic() - t0:.0f} s", file=sys.stderr)


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        r = json.loads(line)
        runs.setdefault(r["workload"], []).append(r)
    return runs


def quart(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def compare(argv):
    s = spec()
    bounds = {m["name"]: m for m in s["end_to_end"]}
    sets = [load(p) for p in argv]
    ok = True
    for w in sorted(sets[0]):
        runs = [rs.get(w, []) for rs in sets]
        bad = [sum(1 for r in rr if not (r["result"] and r["result"]["correct"])) for rr in runs]
        print(f"== {w}: runs {[len(r) for r in runs]}, incorrect or failed {bad}")
        ok &= not any(bad)
        names = sorted({k for rr in runs for r in rr if r["result"]
                        for k in r["result"]["metrics"]})
        for name in names:
            cols = []
            meds = []
            for rr in runs:
                vals = [r["result"]["metrics"][name]["value"] for r in rr
                        if r["result"] and name in r["result"]["metrics"]]
                if len(vals) < 2:
                    cols.append("n/a")
                    meds.append(None)
                    continue
                q1, med, q3 = quart(vals)
                spread = (q3 - q1) / abs(med) if med else float("inf")
                meds.append(med)
                m = bounds.get(name)
                tag = ""
                if m:
                    tag = " steady" if spread <= m["bound"] / 3 else " NOISY"
                    ok &= spread <= m["bound"]
                cols.append(f"med {med:.6g} [{q1:.6g}, {q3:.6g}] spread {spread:.3f}{tag}")
            line = f"  {name:40s} " + " | ".join(cols)
            m = bounds.get(name)
            if m and len(meds) == 2 and None not in meds and meds[0]:
                change = (meds[1] - meds[0]) / abs(meds[0])
                worse = change if m["better"] == "lower" else -change
                agree = worse <= m["bound"]
                ok &= agree
                line += f" | change {change:+.3f} (bound {m['bound']}) {'agree' if agree else 'WORSE'}"
            print(line)
    print("all within bounds" if ok else "NOT within bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] not in ("collect", "compare"):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    if sys.argv[1] == "collect":
        collect(sys.argv[2:])
    else:
        sys.exit(compare(sys.argv[2:]))
