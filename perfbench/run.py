#!/usr/bin/env python3
"""Medallion-first benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline,
into the build directory: $CARGO_TARGET_DIR or .bench_build), then runs one
workload in one JVM on local[nproc] and prints, as the last line of standard
output, one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones. The full record of the run (every metric, ambience, errors)
is kept under <build dir>/results/, with the spans of a traced run beside it.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("medallion_incremental", "operator_mix")
# the JVM's allowance: set-up (JVM and Spark start, generation, warm-up,
# initial loads), the timed part with its overshoot of one cycle, and the
# final checks; 170 s at --seconds 12
SETUP_ALLOWANCE_S = 110
TIMED_ALLOWANCE = 5
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the engine and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not in the "
             "current directory; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_BUILD_DIR=os.path.relpath(build_dir, ROOT))
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", "-Xmx2g",
                                "-XX:-UsePerfData"]).strip()
    log("building the engine and the harness (sbt) ...")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "exportClasspath"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(os.path.join(build_dir, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log: {build_dir}/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def run_jvm(classpath, args, work, out, fixture):
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and the parallel collector keep the heap's footprint,
    # and so the peak resident set, the same from run to run; no perf-data
    # file, so the JVM writes only inside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores)]
    if fixture:
        cmd += ["--fixture", fixture]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=SETUP_ALLOWANCE_S + TIMED_ALLOWANCE * args.seconds)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the benchmark process timed out" if rc is None
             else f"the benchmark process failed (exit {rc})")


def check_oracle(fixture, results):
    """Compare the engine's results with SparkEntry.oracleSql in DuckDB by
    the repository's oracle checker. Returns (queries checked, queries
    failed, the checker's failure lines)."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.isfile(checker):
        fail("tools/check_oracle.py is not in the current directory; "
             "run from the repository root")
    p = subprocess.run([sys.executable, checker, fixture, results],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL)
    sys.stderr.write(p.stdout)
    checked = len(json.load(open(os.path.join(results, "oracle_sql.json"))))
    if p.returncode == 0:
        return checked, 0, []
    lines = p.stdout.splitlines()
    counts = [int(l.split()[-1]) for l in lines if l.startswith("FAILURES:")]
    messages = []
    for l in lines:
        if l.startswith("    ") and messages:  # a mismatch's detail lines
            messages[-1] += " " + l.strip()
        elif l.startswith("  ") and ": OK rows=" not in l and "NO ORACLE" not in l:
            messages.append(l.strip())
    if counts:
        return checked, counts[-1], messages
    # the checker itself broke: count every query as failed
    messages.append(f"oracle checker exited {p.returncode}: "
                    + (p.stderr.strip().splitlines() or [""])[-1])
    return checked, checked, messages


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    steps = {}
    try:
        fixture = None
        t0 = time.time()
        if args.workload == "operator_mix":
            sys.path.insert(0, HERE)
            import fixture as fixture_gen
            fixture = os.path.join(work, "fixture")
            fixture_gen.generate(fixture, args.seed)
            steps["fixture_s"] = time.time() - t0
        t1 = time.time()
        run_jvm(classpath, args, work, out, fixture)
        steps["jvm_s"] = time.time() - t1
        record = json.load(open(out))
        record["steps"] = steps
        if fixture:
            h = hashlib.sha256()
            for f in sorted(os.listdir(fixture)):
                with open(os.path.join(fixture, f), "rb") as fh:
                    h.update(fh.read())
            record["info"]["inputs_sha256"] = h.hexdigest()
        if args.workload == "operator_mix":
            t2 = time.time()
            checked, failed, messages = check_oracle(fixture, os.path.join(work, "results"))
            steps["oracle_s"] = time.time() - t2
            record["oracle"] = {"checked": checked, "failed": failed, "messages": messages}
            record["errors"] += messages
            record["failed"] += failed
            record["correct"] = record["correct"] and not failed
        if args.trace:
            spans = out + ".spans.jsonl"
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(results, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for e in record["errors"]:
        log(f"error: {e}")
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(f"[perfbench] record: {os.path.relpath(os.path.join(results, tag + '.json'), ROOT)}")
    print(json.dumps({"correct": bool(record["correct"]),
                      "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
