#!/usr/bin/env python3
"""The vectorizer benchmark: one command that builds the program from
source, generates seeded inputs, runs one workload in one JVM, checks the
outputs and prints every metric.

    python3 perfbench/run.py --workload idf_dimension --seed 1 \
        --seconds 20 --trace 0

Run it from the root of a checkout of the repository. The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
Build output, generated inputs and run records stay in the checkout,
under .bench_build/, .bench_inputs/ and .bench_out/.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# vectorize_corpus runs, but BENCHMARK.json does not list it: see README.md
WORKLOADS = ("idf_dimension", "stream_upsert", "vectorize_corpus")
SCALE = 5               # ScaleBlowup factor of the corpus (25,000 posts)
SETUP_REPS = 3          # set-up rounds per run; setup_s is their median
WARMUPS = 1             # warm-up passes or polls per set-up round
FILES_PER_S = 10        # open-loop schedule of the stream: one file every 0.1 s
POSTS_PER_FILE = 10     # ... of 10 posts, so 100 posts/s offered
DRAIN_S = 60            # how long the stream may take to catch up after the window
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def tree_files(root, rel):
    base = os.path.join(root, rel)
    if os.path.isfile(base):
        return [rel]
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def source_digest(root):
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for rel in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        for f in tree_files(root, rel):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, digest):
    """Compile the program and the harness with sbt; returns the classpath.
    A build is reused only when the source digest it was made from matches."""
    out = os.path.join(root, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(out, exist_ok=True)
    log("building the program and the harness with sbt")
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    log("built in %.0f s" % (time.time() - t))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def host_sample():
    """Load average and cumulative CPU steal, for the run record only."""
    steal = total = None
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal, total = vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        pass
    return {"loadavg": list(os.getloadavg()), "steal_jiffies": steal,
            "total_jiffies": total}


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("run from the root of a checkout: build.sbt and src/main/scala "
            "are missing here")
        return 2
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)

    host_start = host_sample()
    digest = source_digest(root)
    classpath = build(root, digest)

    inputs = os.path.join(root, ".bench_inputs")
    corpus = gen.corpus(inputs, args.seed, SCALE)
    outdir = os.path.join(root, ".bench_out")
    work = os.path.join(outdir, "work-" + args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    cores = os.cpu_count()
    conf = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": cores,
            "setup_reps": SETUP_REPS, "warmups": WARMUPS,
            "corpus": corpus["dir"],
            "posts": corpus["posts"], "work": work, "out": raw_path}
    # the batch workload's traced run upserts the arrivals' warm-up file once
    arr = gen.arrivals(inputs, args.seed, SCALE, args.seconds,
                       FILES_PER_S, POSTS_PER_FILE)
    conf.update(arrivals=arr["dir"], posts_per_file=POSTS_PER_FILE)
    input_bytes = {"corpus": dir_bytes(os.path.join(corpus["dir"], "documents.parquet"))}
    if args.workload == "stream_upsert":
        conf.update(files=arr["files"], files_per_s=FILES_PER_S, drain_s=DRAIN_S,
                    store_cache=os.path.join(inputs, "store-x%d" % SCALE),
                    store_key="%s:%s" % (corpus["fingerprint"], digest))
        input_bytes["arrivals"] = dir_bytes(os.path.join(arr["dir"], "files"))

    cmd = (["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classpath, "graft.perfbench.Harness"]
           + ["%s=%s" % kv for kv in conf.items()])
    t = time.time()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("the harness did not finish within %d s" % JVM_TIMEOUT_S)
        return 1
    if proc.returncode != 0 or not os.path.exists(raw_path):
        log("the harness failed (exit %d)" % proc.returncode)
        return 1
    with open(raw_path) as f:
        record = json.load(f)

    if args.workload == "stream_upsert":
        attempted, failed, e2e, notes = stats.stream_outcome(record)
    else:
        attempted, failed, e2e, notes = stats.batch_outcome(
            record, pins[args.workload]["x%d" % SCALE])
    per_layer, layer_notes = stats.layers(record, attempted, failed)
    correct = failed == 0 and set(e2e) == set(stats.E2E_UNITS)

    run_record = {
        "commit": git_commit(root), "source_digest": digest,
        "nproc": cores, "master": "local[%d]" % cores,
        "jvm_heap_max_bytes": record["heap_max_bytes"],
        "spark_conf": record["spark_conf"], "input_bytes": input_bytes,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host_start": host_start, "host_end": host_sample(),
        "wall_s": time.time() - t}
    with open(os.path.join(outdir, "%s-s%d-t%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump({"run": run_record, "e2e": e2e, "per_layer": per_layer,
                   "notes": notes + layer_notes, "raw": record}, f, indent=1)
    if args.trace:
        with open(os.path.join(outdir, "spans-%s-s%d.json" % (
                args.workload, args.seed)), "w") as f:
            json.dump({"spans": record["spans"], "counters": record["counters"]}, f)

    # human-readable lines first; the result object is the last line
    for k, v in sorted(e2e.items()):
        print("e2e   %-36s %14.4f %s" % (k, v, stats.E2E_UNITS[k]))
    print("e2e   %-36s %14.4f %s" % ("error_rate", stats.error_rate(attempted, failed),
                                     "fraction"))
    if args.trace:
        for k, v in sorted(per_layer.items()):
            print("layer %-36s %14.4f %s" % (k, v, stats.LAYER_UNITS[k]))
    for n in notes + layer_notes:
        print("note  " + n)
    print("run   load %s -> %s, %d cores, heap %.1f GiB" % (
        host_start["loadavg"][0], run_record["host_end"]["loadavg"][0], cores,
        record["heap_max_bytes"] / 2 ** 30))
    chosen = (per_layer, stats.LAYER_UNITS) if args.trace else (e2e, stats.E2E_UNITS)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": chosen[1][k]}
                    for k, v in sorted(chosen[0].items())}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
