#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <async_io|async_hot_keys>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt (offline) on first use, generates the workload's inputs from
the seed, runs one JVM on local[<cores>], checks the outputs and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (a layer of the other workload reads
0; a missing layer of its own is an error). Everything the run writes lives under perfbench/.work/<run> and is
deleted when the run ends; the traced run leaves its spans in
perfbench/out/trace-<workload>.csv.
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

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORKLOADS = ("async_io", "async_hot_keys")
# per-layer metrics each workload's traced run reports, by name prefix: its
# async window, then the broker cycle (async_io) or curation passes
# (async_hot_keys). A metric of the other workload reads 0; one of its own
# that is missing is an error.
ASYNC_LAYERS = ("streaming.async.", "streaming.timer.", "jvm.", "trace.")
OWN_LAYERS = {
    "async_io": ASYNC_LAYERS + ("streaming.trigger.", "sources.", "broker.", "api."),
    "async_hot_keys": ASYNC_LAYERS + ("queries.", "spark.", "curation."),
}
# the traced run of this workload also runs the curation passes
CURATION_WORKLOAD = "async_hot_keys"
CURATION_TABLES = ("documents", "events", "embeddings")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    log("building engine + benchmark with sbt (first run in this checkout)")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=BENCH,
                   env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=BUILD_TIMEOUT_S)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_jvm(classpath, args, work, trace_out):
    # -UsePerfData: no hsperfdata file under /tmp, outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           # flatMapAsyncKeyed instantiates the engine's blocking I/O pool even
           # though it never runs work on it; its default is 2048 threads
           "-Dgraft.async.io.threads=16",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    launch_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh), launch_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still kills its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        log(f"no engine sources under {REPO}/src/main/scala; run from a full checkout")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    classpath = build()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
        trace_out = os.path.join(BENCH, "out", f"trace-{args.workload}.csv")
    curation = args.trace and args.workload == CURATION_WORKLOAD
    try:
        if curation:
            import datagen
            os.makedirs(os.path.join(work, "data"))
            datagen.generate(os.path.join(work, "data"), args.seed)
        result, launch_ms = run_jvm(classpath, args, work, trace_out)
        attempted, failed = result["attempted"], result["failed"]
        for note in result["notes"]:
            log(note)
        if curation:
            import oracle
            verdicts = oracle.check(os.path.join(work, "data"), os.path.join(work, "out"),
                                    CURATION_TABLES)
            runs = next(int(n.split()[1]) for n in result["notes"] if n.startswith("curation_runs "))
            mismatched = {n.split()[1]: int(n.split()[2]) for n in result["notes"]
                          if n.startswith("mismatch ")}
            for name, why in verdicts.items():
                if why is not None:
                    log(f"oracle mismatch {name}: {why}")
                    failed += runs - mismatched.get(name, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only once no other run is using it
        except OSError:
            pass

    if args.trace:
        layers = result["layers"]
        names = [m["name"] for m in spec["per_layer"]]
        missing = [n for n in names if n.startswith(OWN_LAYERS[args.workload]) and n not in layers]
        if missing:
            raise RuntimeError(f"workload did not report {missing}")
        metrics = {m["name"]: {"value": layers[m["name"]]["value"] if m["name"] in layers else 0,
                               "unit": m["unit"]} for m in spec["per_layer"]}
        log(f"spans recorded={result['spans']} dropped={result['spans_dropped']} -> {trace_out}")
    else:
        metrics = {"setup_s": {"value": (result["ready_ms"] - launch_ms) / 1000, "unit": "s"}}
        metrics.update(result["e2e"])
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"workload did not report {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
