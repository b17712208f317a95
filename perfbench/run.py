#!/usr/bin/env python3
"""Benchmark of the log-to-report paths and the query registry.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload mongo_report|mysql_report|registry \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source tree),
generates the workload's inputs from the seed (cached per seed), runs the
JVM harness for `--seconds` of timed passes, checks every output, and
prints the metrics as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. A full record of the run (seed, source
sha, JVM flags, Spark confs, every sample, and the spans of a traced run)
is written under .bench_build/runs/. Exits non-zero when a report census
or oracle check fails, and without a result when the checkout lacks the
engine's sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_logs  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# Xms = Xmx with pre-touch, as build.sbt sets for the forked JVMs: a heap
# that never resizes keeps G1's uncommit/regrow cycles out of the timings.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] + [
    f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Input sizes: lines / entries of a log workload (written as 16 files),
# the table scale of the registry.
LOG_FILES = 16
SIZES = {"mongo_report": 20000, "mysql_report": 30000, "registry": 0.002}
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_sha():
    """sha256 over every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(src_sha):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["sources_sha"] == src_sha and all(
                os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, env=env,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}", 3)
    cp = lines[-1].split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"sources_sha": src_sha, "classpath": cp}, fh)
    return cp


def inputs(workload, seed):
    """Generate (or reuse) the seed's input."""
    d = os.path.join(BUILD, "inputs", workload, str(seed))
    done = os.path.join(d, "census.json")
    if not os.path.exists(done):
        # keep the cache small: one seed per workload
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
        if workload == "registry":
            gen_tables.generate(os.path.join(d, "input"), seed, SIZES[workload])
            census = {}
        else:
            gen = gen_logs.gen_mongo if workload == "mongo_report" else gen_logs.gen_mysql
            census = gen(os.path.join(d, "input"), seed, SIZES[workload], LOG_FILES)
        with open(done, "w") as fh:
            json.dump(census, fh)
    with open(done) as fh:
        census = json.load(fh)
    data = os.path.join(d, "input")
    nbytes = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
    return data, census, nbytes


def run_jvm(cp, workload, seed, trace, seconds, data, census):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    census_path = "-"
    if census:
        census_path = os.path.join(work, "census.json")
        with open(census_path, "w") as fh:
            json.dump(census, fh)
    # the set-up warm-up reads 1 of the 16 log files, or all of the tables
    warm = data if workload == "registry" else os.path.join(data, "part-00000.log")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp",
                                   "-cp", os.pathsep.join(cp), "perfbench.Main"] +
           ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--input", data, "--warm", warm,
            "--census", census_path, "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out, see {log}", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}, see {log}", 4)
    with open(out) as fh:
        return json.load(fh), work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} missing); run from the "
                 "root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    src_sha = sources_sha()
    cp = build(src_sha)
    data, census, nbytes = inputs(args.workload, args.seed)
    raw, work = run_jvm(cp, args.workload, args.seed, args.trace,
                        args.seconds, data, census)

    checked = None
    if args.workload == "registry":
        checked = oracle.check(data, os.path.join(work, "oracle"))

    res = metrics.summarize(raw, nbytes, census, checked)
    record = {"seed": args.seed, "git_sha": git_sha(), "sources_sha": src_sha,
              "input_bytes": nbytes, "census": census, "oracle": checked,
              "result": res, "raw": raw}
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        # paths relative to the checkout, so records compare across hosts
        fh.write(json.dumps(record, indent=1).replace(ROOT + os.sep, ""))

    for msg in res["problems"]:
        print(f"FAILED {msg}")
    out = res["per_layer"] if args.trace else res["end_to_end"]
    for k, v in out.items():
        print(f"{k:44s} {v['value']:>16.6g} {v['unit']}")
    print(f"record: {path}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
