#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_short --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source with the benchmark's
own sbt project (offline; Spark from $SPARK_HOME/jars) when the sources
changed since the last build, then runs one JVM that executes the
workload's closed loop for --seconds. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it is the run's noise
record (load average, calibration loop, cores, heap, corpus, seed,
source hash and git commit). Exits non-zero if the build fails, any op fails, or a
metric is missing. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
RUNS = os.path.join(HERE, "runs")
# the read-only corpora (TESTDATA.md); GRAFT_TESTDATA overrides
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
DEFAULT_CORPUS = os.path.join(TESTDATA, "sf0.1")
CORES = 4
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark installation the library is built and run against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail(f"no Spark jars under SPARK_HOME={home!r}")
    return home


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile with sbt unless the classes were built from these sources."""
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD_DIR, "build.log")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "clean", "compile"], cwd=HERE,
                             env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def jvm_command(run_dir, main_class, main_args):
    """A JVM running `main_class` whose working, Spark-local and temp
    directories all live in `run_dir`."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # a pre-touched fixed heap keeps peak RSS from depending on when G1
    # chose to grow the heap
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dspark.local.dir={run_dir}/spark-local",
               "-Dspark.ui.enabled=false",
               "-cp", f"{CLASSES}:{spark_home()}/jars/*", main_class] + main_args)


def run_jvm(args, run_dir, stamp):
    """Run the workload in a fresh JVM; returns its result record."""
    result = os.path.join(run_dir, "result.json")
    cmd = jvm_command(run_dir, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--corpus", os.path.abspath(args.corpus),
        "--reference", os.path.abspath(args.reference),
        "--cache-dir", os.path.join(run_dir, "cache"),
        "--cpus", str(CORES), "--out", result])
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        cmd += ["--spans", os.path.join(
            HERE, "out", f"{args.workload}-seed{args.seed}.spans.jsonl")]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    log_text = open(log_path, errors="replace").read()
    ours = [l for l in log_text.splitlines() if l.startswith("[perfbench]")]
    if ours:
        sys.stderr.write("\n".join(ours) + "\n")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(log_text[-4000:])
        fail(f"benchmark JVM exited {rc}", 4)
    res = json.load(open(result))
    res["noise"]["source_hash"] = stamp
    res["noise"]["commit"] = git_commit()
    return res


def git_commit():
    """HEAD of the checkout, or None outside a git work tree."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bi_short", "cache_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corpus", default=DEFAULT_CORPUS,
                    help="corpus directory (default: the sf0.1 corpus)")
    ap.add_argument("--reference", default=None,
                    help="reference digests (default: reference/<corpus name>.json)")
    args = ap.parse_args()
    if args.reference is None:
        args.reference = os.path.join(
            HERE, "reference", os.path.basename(os.path.normpath(args.corpus)) + ".json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala/graft")
    for p, what in ((args.corpus, "corpus"), (args.reference, "reference")):
        if not os.path.exists(p):
            fail(f"{what} not found: {p}")
    expected = expected_metrics(args.trace)

    # a SIGTERM from whoever runs us must still reach the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp = source_hash()
    build(stamp)
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        res = run_jvm(args, run_dir, stamp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    wrong = {n: metrics.get(n, {}).get("unit") for n, u in expected.items()
             if metrics.get(n, {}).get("unit") != u}
    extra = sorted(set(metrics) - set(expected))
    print(json.dumps({"noise": res["noise"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    if wrong or extra:
        fail(f"metrics differ from BENCHMARK.json: missing/wrong unit {wrong}, extra {extra}", 5)
    if res["failed"] or not res["correct"]:
        fail(f"{res['failed']} of {res['attempted']} ops failed", 1)


if __name__ == "__main__":
    main()
