#!/usr/bin/env python3
"""Benchmark of the graft engine on three seeded workloads.

    python3 perfbench/run.py --workload stream-ticks --seed 1 --seconds 16 --trace 0

Run from the repository root. On first use it builds the harness
(`perfbench/build.sbt`, which compiles the repository's own build as a
source dependency) into `target/` directories and caches the classpath
under `.bench_build/`. It then runs the harness JVM on a local Spark
session, checks the outputs, and prints as its last line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, the per-layer metrics with
`--trace 1` (untraced, traced and single-core passes in one run).

Workloads:
  stream-ticks    ticks through StreamingEngine.process and Sinks.attach
                  (logging + alerts): closed-loop burst, open-loop paced phase
  batch-backfill  RefPipeline.pipeline and Finance.ohlcBars over a seeded
                  events table; Dedup.exactDedup,
                  Similarity.semanticDedup, Similarity.knnIvf and
                  Caches.releaseAll over a seeded re-keying of a fixed corpus
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

# Input sizes and rates per workload (see perfbench/README.md).
WORKLOADS = {
    "stream-ticks": {
        "keys": 1000000, "zipf": 1.0, "invalid": 0.02,
        "burst_chunk": 5000, "burst_ahead": 2, "burst_share": 0.3,
        "rate": 2000, "chunk_ms": 10, "trigger_ms": 1000, "warm_ms": 8000,
    },
    "batch-backfill": {"events": 100000, "users": 2500, "days": 30, "files": 4,
                       "docs": 250, "embs": 250, "copies": 2, "dim": 64,
                       "warm_iters": 1, "probe_reps": 2},
}
# set-ups per run (setup_s is their median); a batch-backfill set-up
# writes both inputs and costs several times a stream-ticks one
SETUPS = {"stream-ticks": 5, "batch-backfill": 3}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def fingerprint():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("program sources not found next to perfbench/; run from a full checkout", 2)
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    fp = fingerprint()
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                  stderr=out, stdin=subprocess.DEVNULL, text=True,
                                  timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        out.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines()
             if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail("build failed (see %s)" % os.path.join(BUILD_DIR, "build.log"))
    cp = lines[-1]
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log("built in %.0f s" % (time.time() - t0))
    return cp


def run_harness(cp, workload, seed, seconds, mode, cores, work, out, setups, heap="2g"):
    """Run the harness JVM; return its raw.json."""
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap keeps the resident set from following the
    # collector's heap-resizing decisions, which vary from run to run
    cmd = ["java", "-cp", cp, "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--mode", mode, "--cores", str(cores),
            "--work", work, "--out", out, "--setups", str(setups)]
    for k, v in WORKLOADS[workload].items():
        cmd += ["--param", "%s=%s" % (k, v)]
    log_path = os.path.join(out, "harness.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    raw_path = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.isfile(raw_path):
        with open(log_path, errors="replace") as lf:
            tail = lf.readlines()[-40:]
        sys.stderr.writelines(tail)
        fail("harness %s (%s) failed: %s" % (workload, mode, rc))
    with open(raw_path) as f:
        return json.load(f)


def read_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = metrics.load_spec()
    cp = build()
    cores = max(1, min(8, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(BUILD_DIR, "runs", "%s-trace%d" % (a.workload, a.trace))
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    mode = "trace" if a.trace else "measure"
    t0 = time.time()
    raw = run_harness(cp, a.workload, a.seed, a.seconds, mode, cores, work, out, SETUPS[a.workload])
    t1 = time.time()

    attempted, failed = raw["ops"]["attempted"], raw["ops"]["failed"]
    for name, reason in oracle.check(out):
        attempted += 1
        if reason:
            failed += 1
            log("oracle mismatch %s: %s" % (name, reason))
    log("harness %.1f s (set-ups %s ms, check %.0f ms), oracle %.1f s"
        % (t1 - t0, [round(x) for x in raw["setup_ms"]], raw["check_ms"], time.time() - t1))
    if a.workload == "stream-ticks":
        # sustainability: a paced phase that ends with a growing backlog fails
        e2e = raw["passes"]["e2e"]
        p = WORKLOADS["stream-ticks"]
        paced = metrics.phase_batches(metrics.label_batches(e2e["batches"], e2e["chunks"]), "paced")
        limit = metrics.backlog_limit_rows(p["rate"], p["trigger_ms"], paced)
        attempted += 1
        if e2e["backlog_end_rows"] > limit:
            failed += 1
            log("paced phase ended with backlog %d > %d rows" % (e2e["backlog_end_rows"], limit))
    for c in raw["ops"]["checks"]:
        if not c["ok"]:
            log("check %s failed: %s" % (c["name"], c["detail"]))

    if a.trace:
        spans = read_spans(os.path.join(out, "spans.jsonl"))
        names = [m["name"] for m in spec["per_layer"]]
        values = metrics.per_layer(raw, spans, names)
        unit_of = metrics.units(spec, "per_layer")
    else:
        values = metrics.end_to_end(raw, attempted, failed)
        unit_of = metrics.units(spec, "end_to_end")
        lat = metrics.latency_samples(raw)
        log("latency samples: %d; highest percentile with %d beyond: %s"
            % (len(lat), metrics.MIN_BEYOND, metrics.highest_supported(len(lat))))
    rendered = metrics.render(values, unit_of)
    print(metrics.result_line(failed == 0, attempted, failed, rendered), flush=True)


if __name__ == "__main__":
    main()
