#!/usr/bin/env python3
"""graft benchmark: build the library from source, run one workload, report.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: import_batch, curation_queries (see
perfbench/README.md). The first run compiles src/main/scala plus
perfbench/src with the Scala compiler shipped in $SPARK_HOME/jars into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes
while the sources are unchanged. Every input, warehouse and checkpoint
lives in a fresh directory under .bench_runs/ that is removed afterwards.

Standard output: one bare JSON line per metric (name, value, unit,
workload, seed), then, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 `metrics` holds
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics.

Extra flags for the self-test: --toy 1 (tiny inputs) and
--wrong-expected 1 (one deliberately wrong expected count).
"""
import argparse
import fcntl
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
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
EXPECTED = os.path.join(HERE, "expected", "curation_rows.json")
WORKLOADS = ("import_batch", "curation_queries")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the JDK module
# options spark-submit would inject).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    out = []
    for base in (MAIN_SRC, MAIN_RES, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build(jars):
    """Compile the library and the harness once per source state."""
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.join(ROOT, target, "perfbench")
    classes = os.path.join(build_dir, "classes")
    os.makedirs(build_dir, exist_ok=True)
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        fresh = classes + ".new"
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        scala = [f for f in srcs if f.endswith(".scala")]
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(scala))
        cp = os.path.join(jars, "*")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", fresh, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("compilation failed")
        print(f"perfbench: compiled {len(scala)} files in {time.time() - t0:.1f} s",
              file=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(fresh, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of MemTotal, between 2 and 8 GiB."""
    kb = 8 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    gib = max(2, min(8, kb // (4 << 20)))
    return f"{gib}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--toy", default="0", choices=("0", "1"))
    ap.add_argument("--wrong-expected", default="0", choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(MAIN_SRC):
        fail(f"library sources missing: {os.path.relpath(MAIN_SRC, os.getcwd())}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        fail("BENCHMARK.json missing")
    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]

    jars = spark_jars()
    classes = build(jars)

    run_dir = os.path.join(ROOT, ".bench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    n = cores()
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, MAIN_RES, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(n), "--dir", run_dir, "--expected", EXPECTED,
            "--toy", args.toy, "--wrong-expected", args.wrong_expected]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(ROOT, ".bench_runs", f"last-{args.workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    env=env, start_new_session=True, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"{args.workload} exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{args.workload} exited with {proc.returncode}")

    lines = [json.loads(l) for l in stdout.splitlines() if l.startswith("{")]
    summary = [l for l in lines if "attempted" in l]
    metric_lines = [l for l in lines if "metric" in l]
    for l in metric_lines:
        print(json.dumps(l, separators=(",", ":")))
    if len(summary) != 1:
        fail("no summary line from the workload")
    metrics = {}
    for w in wanted:
        got = [l for l in metric_lines if l["metric"] == w["name"]]
        if len(got) != 1 or got[0]["value"] is None or got[0]["unit"] != w["unit"]:
            fail(f"metric {w['name']} reported {len(got)} times or malformed: {got}")
        metrics[w["name"]] = {"value": got[0]["value"], "unit": w["unit"]}
    attempted, failed = summary[0]["attempted"], summary[0]["failed"]
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
