#!/usr/bin/env python3
"""Run one lake benchmark workload from the root of a checkout.

    python3 lakebench/run.py --workload acid_cdc --seed 1 --seconds 10 --trace 0

On first use (or after a source change) it builds the program and the
benchmark from the checkout's sources with sbt, then runs the benchmark in
one JVM. The last line of standard output is the JSON result; a failed
build, run or output check exits non-zero without one.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "lakebench"
WORKLOADS = ("po_ingest", "acid_cdc", "corpus_dedup")
# a run, build excluded, must end well inside three minutes
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPTS = [
    "-Xms2g",
    "-Xmx2g",
    # no performance-data file under the system temp directory
    "-XX:-UsePerfData",
    "-Xss4m",
    # Spark on JDK 17 outside spark-submit needs the module opens it would
    # otherwise inject
    *[arg for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
      for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")],
    "--add-modules=jdk.incubator.vector",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion and return (exit code, stdout). The child is
    killed, and waited for, on timeout and when this process is told to
    stop; a timeout returns exit code None.
    """
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                             text=True, **kw)

    def stop(signum, _frame):
        child.kill()
        child.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out
    except subprocess.TimeoutExpired:
        child.kill()
        child.communicate()
        return None, ""


def fingerprint():
    """Hash of every source and build file the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building it if it is stale."""
    program = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"]
    missing = [str(p.relative_to(ROOT)) for p in program if not p.exists()]
    if missing:
        log(f"the program's sources are not here: {', '.join(missing)}")
        sys.exit(2)
    stamp = OUT / "classpath.json"
    fp = fingerprint()
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    log("building the program and the benchmark")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
         "export lakebench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        log("build failed" if code is not None else "build timed out")
        sys.exit(code or 1)
    cp = lines[-1].strip()
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    work = OUT / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = OUT / "spans"
    spans.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", cp, "lakebench.LakeBench",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--spans", str(spans)]
    try:
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(3)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        log(f"run failed with exit code {code}")
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    if not result.get("correct"):
        log("run reported a wrong output")
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
