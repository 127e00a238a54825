#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

Usage (from the repository root): python3 perfbench/selftest.py

For every workload it runs perfbench/run.py with tiny inputs, untraced
and traced, and checks that every metric BENCHMARK.json names for that
mode is printed exactly once (in the bare metric lines and in the
summary), that end-to-end values are positive, and that all checks
pass. It then runs each workload with one deliberately wrong expected
count and checks that `failed_frac > 0` and `correct` is false.
Exits non-zero on the first failed expectation.
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, wrong="0"):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", trace, "--toy", "1",
         "--wrong-expected", wrong],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    return lines, time.time() - t0


def expect(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            lines, secs = run(w, trace)
            names = [m["name"] for m in spec[key]]
            summary = lines[-1]
            emitted = [l["metric"] for l in lines if "metric" in l]
            for n in names:
                expect(emitted.count(n) == 1, f"{w}: metric {n} printed {emitted.count(n)} times")
            expect(sorted(summary["metrics"]) == sorted(names),
                   f"{w} trace={trace}: summary metrics differ from BENCHMARK.json")
            expect(summary["correct"] and summary["failed"] == 0 and summary["attempted"] > 0,
                   f"{w} trace={trace}: checks failed: {summary}")
            if trace == "0":
                bad = [n for n, m in summary["metrics"].items() if not m["value"] > 0]
                expect(not bad, f"{w}: end-to-end metrics not positive: {bad}")
            print(f"ok   {w} trace={trace}: {len(names)} metrics, "
                  f"{summary['attempted']} checked operations, {secs:.0f} s")
        lines, secs = run(w, "0", wrong="1")
        frac = [l["value"] for l in lines if l.get("metric") == "failed_frac"]
        expect(frac and frac[0] > 0 and not lines[-1]["correct"],
               f"{w}: a wrong expected count did not give failed_frac > 0")
        print(f"ok   {w} wrong expected count: failed_frac={frac[0]:.3f}, {secs:.0f} s")
    print("selftest passed")


if __name__ == "__main__":
    main()
