#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 perfbench/run.py --workload lms_nightly --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. On first use it builds the engine and
the benchmark from source with sbt (offline) and keeps the build while the
sources are unchanged. The workload runs in one JVM; the last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. The full result, with provenance, batches and spans, is written to
perfbench/results/. The exit code is non-zero when the build fails, an output
check fails, or scratch from an earlier run is still present.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_DIR = os.path.join(BENCH, ".run")
RESULTS = os.path.join(BENCH, "results")
JVM_SECONDS = 170   # a run must end within 180 s once built
BUILD_SECONDS = 700   # the first run of a checkout builds; it must end within 900 s
HEAP = "4g"
# The heap's floor. Each batch starts after a System.gc(), which otherwise
# shrinks the heap to a few hundred MB, so every batch would grow it again;
# batches ran ~30% slower and spread wider that way.
MIN_HEAP = "1g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    single = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(proj):
            single += [os.path.join(proj, f) for f in os.listdir(proj)
                       if f.endswith((".sbt", ".properties", ".scala"))]
    out = [f for f in single if os.path.isfile(f)]
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, digest):
    """sbt compile of engine + benchmark, skipped when the digest matches."""
    stamp = os.path.join(build_dir, "stamp")
    launch = os.path.join(build_dir, "launch")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return launch
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "sbt.repository.config" not in opts[0]:
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if "-Xmx" not in opts[0]:
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.launchDir={launch}", "writeLaunchFiles"]
    print(f"perfbench: building ({' '.join(cmd)})", file=sys.stderr)
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_SECONDS)
    if p.returncode != 0:
        fail(f"build failed with exit code {p.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unavailable"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_file))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found; nothing to build")
    if os.path.isdir(RUN_DIR) and os.listdir(RUN_DIR):
        fail(f"scratch from an earlier run survives in {RUN_DIR}: "
             f"{sorted(os.listdir(RUN_DIR))}; remove it and find out why it was left", 3)

    digest = source_digest()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    launch = build(build_dir, digest)
    with open(os.path.join(launch, "classpath.txt")) as fh:
        classpath = os.pathsep.join(l.strip() for l in fh if l.strip())
    with open(os.path.join(launch, "jvm_options.txt")) as fh:
        jvm_opts = [l.strip() for l in fh if l.strip()]

    run = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    result_file = os.path.join(
        RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{MIN_HEAP}", f"-Xmx{HEAP}", *jvm_opts,
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           f"-Dderby.stream.error.file={os.path.join(run, 'derby.log')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run, "--result", result_file,
           "--prov-git_sha", git_sha(), "--prov-source_digest", digest,
           "--prov-nproc", str(os.cpu_count())]

    proc = None

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM ran past {JVM_SECONDS} s", 4)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)
        if os.path.isdir(RUN_DIR) and not os.listdir(RUN_DIR):
            os.rmdir(RUN_DIR)

    if not os.path.isfile(result_file):
        fail(f"the benchmark JVM exited with {proc.returncode} and wrote no result", 5)
    result = json.load(open(result_file))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v!r}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if result["error"]:
        print(f"perfbench: {result['error']}", file=sys.stderr)
    if result["leftovers"]:
        print(f"perfbench: run left files behind: {result['leftovers']}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
