#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the harness and the program from source on first use (sbt, into
perfbench/target), generates the seeded inputs, runs one JVM on local[4]
with the workload in a closed loop, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (see
perfbench/README.md). Everything it writes stays under perfbench/work.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
FINGERPRINTS = os.path.join(BENCH, "fingerprints.tsv")
CORPUS = os.path.join(WORK, "corpus")
sys.path.insert(0, BENCH)
import corpus  # noqa: E402

WORKLOADS = ["ingest", "zip_scan", "pair_graph", "relational"]
ZIP_WORKLOADS = {"ingest", "zip_scan"}
CORPUS_MB = 48
HEAP = "1536m"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def find_spark_home():
    """The Spark installation whose jars the program builds and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must name a Spark installation (with a jars/ directory)", 2)
    return home


def build():
    """Compile with sbt when the sources differ from the last build."""
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env["SPARK_HOME"] = find_spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -XX:-UsePerfData"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile", "copyResources"],
                       cwd=BENCH, env=env, stdout=out, timeout=840)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group; kills the group on timeout and
    always waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(args, extra, fingerprints=FINGERPRINTS):
    spark_home = find_spark_home()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed, pre-touched heap: peak RSS then varies only with off-heap memory
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Harness"]
    out = os.path.join(WORK, f"result-{args.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd += ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--corpus", CORPUS, "--work", WORK, "--out", out,
            "--fingerprints", fingerprints] + extra
    log = os.path.join(WORK, f"jvm-{args.workload}.log")
    with open(log, "w") as fh:
        rc = run_child(cmd, cwd=WORK, stdout=fh, timeout=JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"harness failed (exit {rc}); log in {log}", 4)
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="write the query workload's fingerprints instead of checking them")
    ap.add_argument("--fingerprint-dir",
                    help="compare fingerprints of graft.Verify dumps in DIR with the recorded ones")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"program sources not found under {ROOT}/src/main/scala", 2)
    find_spark_home()
    os.makedirs(WORK, exist_ok=True)
    build()

    t_start = time.time()  # set-up: input generation, JVM + session, first warm-up pass
    if args.workload in ZIP_WORKLOADS:
        corpus.generate(args.seed, CORPUS, CORPUS_MB)
    extra = []
    if args.record_fingerprints:
        extra = ["--record", "1"]
    if args.fingerprint_dir:
        extra = ["--fingerprint-dir", os.path.abspath(args.fingerprint_dir)]
    res = run_jvm(args, extra)
    if extra:
        print(json.dumps(res, indent=1))
        return

    # the metrics, and their units, are the ones BENCHMARK.json lists
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        listed, values = spec["per_layer"], res["layers"]
    else:
        listed, values = spec["end_to_end"], dict(res, setup_s=res["setup_end_epoch_s"] - t_start)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    attempted, failed = res["attempted"], res["failed"]
    summary = dict(workload=args.workload, seed=args.seed, passes=res["passes"],
                   inputs_s=res["jvm_start_epoch_s"] - t_start,
                   jvm_session_s=res["session_ready_epoch_s"] - res["jvm_start_epoch_s"],
                   warmup_s=res["warmup_s"],
                   op_fail_ratio=failed / attempted if attempted else None,
                   in_mb_per_pass=res["in_mb_per_pass"], op_s=res["op_s"])
    print(json.dumps(summary), file=sys.stderr)
    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
