#!/usr/bin/env python3
"""graft benchmark: STAC serving and a cold-snapshot curation pipeline.

Usage (from the repository root):

    python3 graftbench/run.py --workload stac-mixed|curate-pipeline \
        --seed N --seconds S --trace 0|1 [--out report.json]

Builds the engine and the harness from source with sbt on first use (the
classpath is cached in .bench_build/graftbench, keyed by a hash of every
source file), generates the fixture once, then runs one workload in a fresh
JVM with a private java.io.tmpdir and SPARK_LOCAL_DIRS that are removed
afterwards. The last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}; --out receives the full report
(environment, sample counts, route shares, problems) with the result under
"result".
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stac-mixed", "curate-pipeline")
# graft.Bench's JDK 17 module opens (what spark-submit injects)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840


def fail(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(state):
    """Compile with sbt and return the runtime classpath, reusing a cached one."""
    stamp = source_hash()
    cp_file = os.path.join(state, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(state, "build.log")
    # dependencies come from the local caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=BUILD_DEADLINE_S)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.startswith(os.path.join(HERE, "target"))]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    # the classes directory is shared, so only the latest build's stamp holds
    for name in os.listdir(state):
        if name.startswith("classpath-"):
            os.remove(os.path.join(state, name))
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--out", help="file for the full JSON report")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from a graft checkout")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    state = os.path.join(ROOT, ".bench_build", "graftbench")
    os.makedirs(state, exist_ok=True)
    cp = build(state)

    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    report = os.path.join(work, "report.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap size, so the full collections that measure the retained
    # heap do not shrink the heap the next timed pass then regrows; no
    # hsperfdata file under the system temp directory
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--data", os.path.join(state, "data"), "--work", work,
            "--expected", os.path.join(HERE, "expected.json"), "--out", report]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    stderr_log = os.path.join(state, "last_run.stderr")
    try:
        with open(stderr_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_DEADLINE_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_DEADLINE_S} s", 4)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(open(stderr_log).read()[-4000:])
            if args.out and os.path.isfile(report):
                shutil.copy(report, args.out)
            fail(f"benchmark JVM exited with {proc.returncode}", 5)
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            fail(f"malformed result line: {lines[-1]}", 5)
        full = json.load(open(report))
        full["result"] = result
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(full, fh, indent=2)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
