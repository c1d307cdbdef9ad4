#!/usr/bin/env python3
"""Run one zarr-spark benchmark workload and print its result line.

    python3 perfbench/run.py --workload era5_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program's
sources (src/main) together with the benchmark (perfbench/src/main) with
sbt and caches the class path; later runs start the JVM directly. The
last line on stdout is the result object; perfbench/out/ receives one
artifact per run with the machine stamp, class medians, op log and, for
traced runs, the spans. `--workload all` runs every workload in turn and
prints the per-class medians from their artifacts.
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
WORKLOADS = ["era5_scan", "era5_ingest", "corpus_mix"]
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
RUN_LIMIT_S = 175  # a run must end within 180 s
SBT_FLAGS = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.override.build.repos=true", "-Dsbt.server.forcestart=false"]
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached class path matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    log("building program and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run([sbt, "--batch"] + SBT_FLAGS + ["export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; returns (exit code, stdout)."""
    work = os.path.join(HERE, ".work", "%s-%d" % (workload, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] + [
        "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", os.path.join(HERE, "out")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources at %s/src/main/scala; run from a full checkout" % ROOT)
        return 2
    cp = build()
    if a.workload != "all":
        code, out = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        sys.stdout.write(out)
        return code
    worst = 0
    for w in WORKLOADS:
        t0 = time.time()
        code, out = run_one(cp, w, a.seed, a.seconds, a.trace)
        worst = max(worst, code)
        lines = out.strip().splitlines()
        print("== %s (exit %d, %.0f s)" % (w, code, time.time() - t0))
        if not lines:
            continue
        res = json.loads(lines[-1])
        art = os.path.join(HERE, "out", "%s_seed%d_trace%d.json" % (w, a.seed, a.trace))
        with open(art) as f:
            detail = json.load(f)
        shown = dict(res["metrics"])
        shown.update(detail["classes"])
        print("   correct=%s attempted=%d failed=%d error_rate=%.4f cores=%d" % (
            res["correct"], res["attempted"], res["failed"],
            res["failed"] / res["attempted"], detail["cores"]))
        for k, v in shown.items():
            print("   %-44s %14.6g %s" % (k, v["value"], v["unit"]))
        t = detail["op_tail"]
        print("   op_tail_s is p%.1f of %d samples (%d beyond)" % (t["percentile"], t["samples"], t["beyond"]))
    return worst


if __name__ == "__main__":
    sys.exit(main())
