#!/usr/bin/env python3
"""Regenerate `reference/query_suite.json`, the stored answers the
`query_suite` workload checks every query against.

    python3 perfbench/make_reference.py

Three steps over the benchmark's fixture:
  1. `graft.Verify` dumps every declared query's result as parquet;
  2. `tools/check_oracle.py` compares each dump with its DuckDB oracle
     (`SparkEntry.oracleSql`); any FAIL aborts;
  3. the harness runs every query the way the benchmark does and records
     its row count and order-insensitive hash.
The stored entry keeps the oracle verdict (`pass`, or `none` for a
query without oracle SQL, which is checked against itself) and the row
count must agree with the dump.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

import duckdb

import run

OUT = run.REFERENCE


def main():
    digest = run.source_hash()
    cp = run.ensure_build(digest)
    run.ensure_templates(cp, digest, time.time() + 900)
    work = os.path.join(run.WORK, "reference")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        dump = os.path.join(work, "verify")
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        cmd = ["java", "-Xmx3g",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        os.makedirs(os.path.join(work, "tmp"))
        for p in run.JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.graft.indexDir=" + os.path.join(work, "index"),
                "-cp", cp, "graft.Verify", run.FIXTURE, dump]
        subprocess.run(cmd, cwd=work, env=env, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        tool = os.path.join(run.ROOT, "tools", "check_oracle.py")
        check = subprocess.run([sys.executable, tool, run.FIXTURE, dump],
                               stdout=subprocess.PIPE, text=True)
        verdict = {}
        for line in check.stdout.splitlines():
            m = re.match(r"(PASS|SKIP|FAIL) (\S+?):? ", line + " ")
            if m:
                verdict[m.group(2)] = m.group(1)
        failed = sorted(n for n, v in verdict.items() if v == "FAIL")
        if failed:
            raise SystemExit(f"oracle mismatches: {failed}")
        ref_file = os.path.join(work, "hashes.json")
        run.java(cp, ["--mode", "reference", "--workload", "query_suite",
                      "--fixture", run.FIXTURE, "--work",
                      os.path.join(work, "ref"), "--template",
                      os.path.join(run.BUILD, "templates", "query_suite"),
                      "--out", ref_file], work, time.time() + 900)
        with open(ref_file) as fh:
            hashes = json.load(fh)
        out = {}
        for name in sorted(hashes):
            rows = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{dump}/{name}/*.parquet')"
            ).fetchone()[0]
            if rows != hashes[name]["rows"]:
                raise SystemExit(f"{name}: dump has {rows} rows, "
                                 f"benchmark run {hashes[name]['rows']}")
            out[name] = dict(hashes[name], oracle=(
                "pass" if verdict.get(name) == "PASS" else "none"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        fh.write("{\n" + ",\n".join(
            f'"{n}":{json.dumps(v, separators=(",", ":"))}'
            for n, v in out.items()) + "\n}\n")
    n_pass = sum(v["oracle"] == "pass" for v in out.values())
    print(f"wrote {len(out)} references ({n_pass} oracle-checked) to {OUT}")


if __name__ == "__main__":
    main()
