#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt into `perfbench/.build` and lays
down the base-state artifact stores every later run copies; later runs
reuse both while the sources are unchanged. Each run works in its own
directory under `perfbench/.work` and deletes it when it ends.

Workloads: `observe_tick`, `ingest_tick`, `query_suite` (see NOTES.md).
The amount of work is fixed for a given `--seconds`: a fixed price per
op turns the seconds into a number of ticks or queries, so `run_s`
compares the same work across commits. The last line of stdout is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
FIXTURE = os.path.join(BENCH, "fixture", "sf0.01")
REFERENCE = os.path.join(BENCH, "reference", "query_suite.json")

# The fixed price of one op in `--seconds`: `--seconds` / price = ops.
OP_PRICE_S = {"observe_tick": 3.0, "ingest_tick": 10.0,
              "query_suite": 0.715}
# Workloads whose runs copy a prepared base-state artifact store.
TEMPLATED = ["ingest_tick", "query_suite"]
SETUP_REPS = 3
RUN_LIMIT_S = 170.0

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Digest of every file the harness build reads."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if "/target/" in f:
            continue
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(digest):
    """Compile the engine and the harness; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("/") and ".jar" in ln]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def java(cp, args, work, deadline):
    """Run the harness JVM to completion (or kill it at the deadline)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # C1 only: in a process this short, background C2 compiles compete
    # with the four task threads and swung run_s by about 10% from run
    # to run; with C1 alone the same work repeated within about 2%.
    # Parallel GC: G1 sizes the heap adaptively, and the peak RSS of the
    # same work spread by 30% across runs; with Parallel GC, by 5%.
    cmd = ["java", "-Xmx3g", "-XX:MetaspaceSize=512m", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -9
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = [ln for ln in fh.read().splitlines()
                    if "Exception" in ln or "Error" in ln][-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: harness exited with {code}")


def ensure_templates(cp, digest, deadline):
    """Build each templated workload's base-state artifact store once."""
    for wl in TEMPLATED:
        tdir = os.path.join(BUILD, "templates", wl)
        stamp = tdir + ".stamp"
        if os.path.exists(stamp) and open(stamp).read() == digest:
            continue
        log(f"preparing the {wl} artifact store")
        work = os.path.join(WORK, wl)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        os.makedirs(work)
        try:
            java(cp, ["--mode", "prepare", "--workload", wl, "--seed", "0",
                      "--fixture", FIXTURE, "--work", work,
                      "--out", os.path.join(work, "prepare.json")],
                 work, deadline)
            os.makedirs(os.path.dirname(tdir), exist_ok=True)
            shutil.move(os.path.join(work, "index"), tdir)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(stamp, "w") as fh:
            fh.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(OP_PRICE_S))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine sources are not next to the benchmark; "
            "run from the root of a full checkout")
        return 2
    started = time.time()
    digest = source_hash()
    cp = ensure_build(digest)
    ensure_templates(cp, digest, time.time() + 600)
    # a run that built gets its full limit after the build
    run_start = time.time() if time.time() - started > 30 else started

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ops = max(1, round(a.seconds / OP_PRICE_S[a.workload]))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--ops", str(ops), "--trace", str(a.trace), "--fixture", FIXTURE,
            "--work", work, "--setup-reps", str(SETUP_REPS),
            "--reference", REFERENCE,
            "--out", os.path.join(work, "result.json")]
    if a.workload in TEMPLATED:
        args += ["--template", os.path.join(BUILD, "templates", a.workload)]
    try:
        java(cp, args, work,
             run_start + max(RUN_LIMIT_S, 6 * a.seconds))
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        # the raw result of the latest run stays for inspection
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(BUILD, f"last-{a.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK):
            os.rmdir(WORK)

    ops_run = result["ops"]
    failed = [o for o in ops_run if not o["ok"]]
    for o in failed[:10]:
        print(f"FAILED {o['name']} ({o['layer']}): {o['error']}")
    slow = sorted(ops_run, key=lambda o: -o["wall_s"])[:8]
    print("slowest ops: " + ", ".join(
        f"{o['name']} {o['wall_s']:.2f}s" for o in slow))
    if a.trace:
        units = dict(metrics.per_layer_names())
        values = metrics.per_layer(result)
        print(f"tracing: run_s {result['run_s']:.3f} traced, listener "
              f"{values['trace.listener_ms']:.1f} ms")
    else:
        units = metrics.END_TO_END_UNITS
        values = metrics.end_to_end(result)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops_run),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
