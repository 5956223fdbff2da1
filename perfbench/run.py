#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the workload in one JVM,
checks the outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics. A human-readable report goes to
stderr, the full result (report fields, environment) to
perfbench/.work/last-<workload>.json, and a traced run's spans to
perfbench/.work/last-<workload>-spans.jsonl. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
START = time.monotonic()
# A run must end within 180 s; the run that builds the checkout within 900 s.
LIMIT_S, BUILD_LIMIT_S = 175.0, 890.0

WORKLOADS = ("webhook_live", "dashboard_surface")

# Two packs, in this (cold-pass) order: e1 is the flagship scoreboard
# (SparkEntry.entry), e15 routes through graft.etl.Scoreboard (the dashboard's
# Dims/Scoreboard layer), t3 reads the token registry artifact. Of three
# queries with distinct warm cost, the p50 of the per-query warm costs is one
# query's and the p90 lies between the two slowest. Queries whose first touch
# builds a ConnectedComponents or graph artifact (d20, m4, c1, g*, b*) cost
# 8-12 s each cold, more than a run's budget allows.
SURFACE_QUERIES = ["e1_scoreboard", "e15_shift_pace", "t3_tokens"]
# The corpus is the same for every run, so data changes do not mix into
# the run-to-run spread; the run's seed orders the warm passes.
CORPUS_SF, CORPUS_SEED = 0.01, 1
# Corpus copies for the cold passes after the first. With the corpus they
# make four directories, the engine's default registry residency
# (ArtifactRegistry.defaultMaxCorpora), so no pass evicts another's artifacts.
COLD_COPIES = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    """Compile engine + benchmark once per source state.

    Returns (whether this call built, the runtime classpath)."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            die(f"engine source missing: {need.relative_to(ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    stamp = WORK / "build" / "classpath.json"
    digest = source_digest()
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return False, saved["classpath"]
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or " " in cp:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    log(f"build done in {time.monotonic() - t0:.1f} s")
    return True, cp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def oracle_mismatches(corpus_dir, out_dir):
    """Queries whose cold-pass output fails the repository's oracle check.

    tools/check_oracle.py runs each query's DuckDB oracle SQL on the corpus
    and compares it with the Spark output, order-insensitively."""
    checker = ROOT / "tools" / "check_oracle.py"
    if not checker.is_file():
        die("tools/check_oracle.py not found")
    proc = subprocess.run([sys.executable, str(checker), str(corpus_dir), out_dir],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=120)
    passed = set()
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            passed.add(line.split()[1])
        elif line.startswith("FAIL "):
            log(f"oracle {line}")
    if proc.returncode != 0 and not passed:
        sys.stderr.write(proc.stdout[-2000:])
    # a query without a PASS line (no oracle SQL, a crashed check) fails
    return [q for q in SURFACE_QUERIES if q not in passed]


def cpu_ticks():
    """The machine's CPU time counters (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(cp, args, work, extra, budget_s):
    nproc = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -Xms2g: G1 does not shrink the heap below it at the System.gc()
    # between passes, so a pass does not pay to grow it back.
    # -XX:TieredStopAtLevel=1: C1 only. With C2, measured on a 4-vCPU VM, the
    # background compiler threads compete with Spark's task threads, so warm
    # passes were still speeding up after 40 s and settled on plateaus up to
    # 1.5x apart from run to run; with C1 they settle by the second warm pass.
    cmd = ["java", "-Xms2g", "-Xmx3g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    cmd += extra
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=open(work / "jvm.log", "w"), text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, budget_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("workload exceeded its time budget (see jvm.log in the work dir)")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        die(f"benchmark JVM failed with exit code {proc.returncode}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        die("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    built, cp = ensure_build()
    build_s = time.monotonic() - START

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    extra = []
    try:
        if args.workload == "dashboard_surface":
            sys.path.insert(0, str(HERE))
            import corpus
            corpus.generate(str(work / "corpus"), CORPUS_SEED, CORPUS_SF)
            # copies for the cold passes after the first (perfbench/README.md)
            dirs = [work / "corpus"] + [work / f"corpus-copy{i}" for i in range(1, COLD_COPIES + 1)]
            for d in dirs[1:]:
                shutil.copytree(dirs[0], d)
            extra = ["--corpus", ",".join(map(str, dirs)), "--queries", ",".join(SURFACE_QUERIES)]
        budget = (BUILD_LIMIT_S if built else LIMIT_S) - (time.monotonic() - START)
        ticks0 = cpu_ticks()
        res = run_jvm(cp, args, work, extra, budget)
        ticks1 = cpu_ticks()
        failed, checks = int(res["failed"]), dict(res["checks"])
        if args.workload == "dashboard_surface":
            bad = oracle_mismatches(work / "corpus", res["report"]["output_dir"])
            checks["oracle_match"] = not bad
            res["report"]["oracle_mismatch"] = bad
            # every execution of a query with a wrong result counts as failed
            passes = res["report"]["warm_passes"] + res["report"]["cold_passes"]
            failed += sum(passes for q in bad if q not in res["report"]["failed_queries"])
        attempted = int(res["attempted"])
        failed = min(failed, attempted)
        if args.trace:
            shutil.copy(work / "spans.jsonl", WORK / f"last-{args.workload}-spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {"value": 0.0})["value"]
        if not args.trace and m["name"] not in got:
            die(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    res["env"].update({"git_commit": git_commit(), "build_s": round(build_s, 3),
                       "python": sys.version.split()[0]})
    if ticks0 and ticks1 and len(ticks0) > 7:
        # share of the machine's CPU time taken by the hypervisor during
        # the run (steal): a busy host shows here, not in the program
        d = [b - a for a, b in zip(ticks0, ticks1)]
        res["env"]["cpu_steal_frac"] = round(d[7] / max(1, sum(d[:8])), 4)
    if args.workload == "dashboard_surface":
        res["report"]["corpus_sf"] = CORPUS_SF
    res["checks"] = checks
    (WORK / f"last-{args.workload}.json").write_text(json.dumps(res, indent=1))
    for k, v in sorted(res["report"].items()):
        log(f"{args.workload} {k} = {json.dumps(v)[:300]}")
    for k, v in metrics.items():
        log(f"{args.workload} {k} = {v['value']} {v['unit']}")
    for k, v in checks.items():
        log(f"{args.workload} check {k}: {'ok' if v else 'FAILED'}")
    print(json.dumps({"correct": all(checks.values()) and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
