#!/usr/bin/env python3
"""Profile the micro-batches of one streaming query from a Spark event log.

The timed stream is the query with the most micro-batches that read
input (in a perfbench `webhook_live` run, the stream that carries the
timed window). For it, prints:

- the median `durationMs` of each progress phase over those batches;
- per stage (labelled by its first and last RDD's operator, summed
  over a batch): the batches it ran in, tasks per batch, and the
  median and max of its task run time per batch (`Executor Run Time`);
- its batch plan: `from_json` calls in the physical plan, and the plan
  operators that run outside whole-stage codegen.

Capture a log with Spark's own confs, e.g. for a perfbench run:

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \
    python3 perfbench/run.py --workload webhook_live --seed 5 --seconds 18 --trace 0

Usage: batch_profile.py <eventlog>   (a file, or a rolling-log directory)
"""
import collections
import glob
import json
import os
import re
import statistics
import sys

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def events(path):
    if os.path.isdir(path):
        # rolling logs: events_<n>_<app>, read in n order
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def stage_label(info):
    """A stage as `first→last` of its RDDs' operator scopes: every stage
    of a stream shares the stream's call site, so the stage name does
    not tell them apart."""
    rdds = sorted(info["RDD Info"], key=lambda r: r["RDD ID"])
    if not rdds:
        return info["Stage Name"]

    def scope(r):
        return json.loads(r["Scope"])["name"] if r.get("Scope") else r["Name"]
    first, last = scope(rdds[0]), scope(rdds[-1])
    return first if first == last else f"{first}→{last}"


def outside_codegen(node, in_codegen=False, found=None):
    """Operator names in a sparkPlanInfo tree not under a WholeStageCodegen."""
    found = collections.Counter() if found is None else found
    name = node["nodeName"]
    if name.startswith("WholeStageCodegen"):
        in_codegen = True
    elif name == "InputAdapter":
        in_codegen = False
    elif not in_codegen:
        found[name] += 1
    for c in node.get("children", []):
        outside_codegen(c, in_codegen, found)
    return found


def main(path):
    progress = collections.defaultdict(list)  # query id -> progress dicts
    jobs = {}                                 # job id -> (query id, batch, exec id)
    stage_job = {}                            # stage id -> job id
    stage_name = {}
    task_ms = collections.defaultdict(list)   # stage id -> task run times
    plans = {}                                # exec id -> SQLExecutionStart
    for e in events(path):
        ev = e["Event"]
        if ev == PROGRESS:
            p = e["progress"]
            progress[p["id"]].append(p)
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            q = props.get("sql.streaming.queryId")
            if q is not None:
                jobs[e["Job ID"]] = (q, props.get("streaming.sql.batchId"),
                                     props.get("spark.sql.execution.id"))
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_name[info["Stage ID"]] = stage_label(info)
        elif ev == "SparkListenerTaskEnd":
            run = (e.get("Task Metrics") or {}).get("Executor Run Time")
            if run is not None:
                task_ms[e["Stage ID"]].append(run)
        elif ev == SQL_START:
            plans[str(e["executionId"])] = e

    def data(ps):
        return [p for p in ps if sum(s["numInputRows"] for s in p["sources"]) > 0]

    if not progress:
        sys.exit("no streaming progress events in " + path)
    qid = max(progress, key=lambda q: len(data(progress[q])))
    batches = data(progress[qid])
    ids = {str(p["batchId"]) for p in batches}
    print(f"stream {qid}: {len(batches)} batches with input "
          f"(of {len(progress[qid])})")

    print("\nphase                median_ms")
    phases = sorted({k for p in batches for k in p["durationMs"]})
    for k in phases:
        med = statistics.median(p["durationMs"].get(k, 0) for p in batches)
        print(f"  {k:<18} {med:>9.1f}")

    # stage name -> batch -> [task run ms]
    per = collections.defaultdict(lambda: collections.defaultdict(list))
    execs = set()
    for s, j in stage_job.items():
        q, b, x = jobs[j]
        if q != qid or b not in ids:
            continue
        execs.add(x)
        per[stage_name.get(s, "?")][b].extend(task_ms.get(s, []))
    print("\nstage                                          batches  tasks/batch"
          "  task_ms/batch p50   max")
    for name, by_batch in sorted(per.items(), key=lambda kv: -len(kv[1])):
        tasks = statistics.median(len(v) for v in by_batch.values())
        sums = [sum(v) for v in by_batch.values()]
        print(f"  {name[:44]:<44} {len(by_batch):>7}  {tasks:>11.1f}"
              f"  {statistics.median(sums):>17.1f}  {max(sums):>5}")

    execs.discard(None)
    parses, outside = [], collections.Counter()
    for x in sorted(execs, key=int):
        if x in plans:
            parses.append(len(re.findall(r"\bfrom_json\(",
                                         plans[x]["physicalPlanDescription"])))
            outside = outside_codegen(plans[x]["sparkPlanInfo"])
    if parses:
        print(f"\nplan: {len(parses)} batch executions; from_json calls per plan "
              f"median {statistics.median(parses)}")
        print("  outside whole-stage codegen (last plan): " +
              ", ".join(f"{n}×{c}" for n, c in sorted(outside.items())))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
