#!/usr/bin/env python3
"""Regenerate perfbench/expected/curation_rows.json, the row count each
curation query must return on the generated dataset.

Usage (from the repository root): python3 perfbench/make_expected.py

For the full and the toy scale it writes the curation dataset, runs
`graft.Verify` over it for the benchmark's queries, checks every result
against the DuckDB oracle with tools/check_oracle.py, and records the
row counts only if the oracle agrees on all of them. Needs the Python
duckdb module.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

SCALES = {"full": 0.1, "toy": 0.01}


def queries():
    src = open(os.path.join(bench.BENCH_SRC, "graft", "perfbench", "Curation.scala")).read()
    return re.findall(r'"(q_[a-z_]+)" -> "(?:graph|vector|text|relational|fixed)"', src)


def java(classes, jars, work, *args):
    cp = os.pathsep.join([classes, bench.MAIN_RES, os.path.join(jars, "*")])
    cmd = ["java", f"-Xmx{bench.heap()}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in bench.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.cores()),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    subprocess.run(cmd + ["-cp", cp] + list(args), check=True, env=env,
                   stdout=sys.stderr)


def main():
    jars = bench.spark_jars()
    classes = bench.build(jars)
    names = queries()
    work = os.path.join(bench.ROOT, ".bench_runs", "expected")
    out = {}
    for key, scale in SCALES.items():
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        sf, res = os.path.join(work, "sf"), os.path.join(work, "verify")
        java(classes, jars, work, "graft.perfbench.Main", "--gen-curation", sf,
             "--scale", str(scale), "--cores", str(bench.cores()), "--dir", work)
        java(classes, jars, work, "graft.Verify", sf, res, *names)
        oracle = json.load(open(os.path.join(res, "oracle_sql.json")))
        with open(os.path.join(res, "oracle_sql.json"), "w") as fh:
            json.dump({n: oracle[n] for n in names}, fh)
        check = subprocess.run(
            [sys.executable, os.path.join(bench.ROOT, "tools", "check_oracle.py"), sf, res],
            capture_output=True, text=True)
        sys.stderr.write(check.stdout + check.stderr)
        if check.returncode != 0 or "FAIL" in check.stdout:
            sys.exit(f"oracle disagrees at scale {scale}")
        con = duckdb.connect()
        rows = {n: con.execute(f"SELECT count(*) FROM '{res}/{n}/*.parquet'").fetchone()[0]
                for n in names}
        out[key] = {"scale": scale, "rows": rows}
    shutil.rmtree(work, ignore_errors=True)
    out["produced_by"] = ("perfbench/make_expected.py: graft.Verify on the generated "
                          "dataset, every query checked by tools/check_oracle.py")
    with open(bench.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
