#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 lakebench/run.py --workload medallion|curate \
        --seed N --seconds S --trace 0|1
    python3 lakebench/run.py --self-test

Builds the benchmark (its own sbt build, which compiles the engine from
../src) when the sources changed since the last build, then runs the
workload in a JVM launched straight from the saved classpath. The last
line of standard output is the result object; everything else goes to
standard error. Exits non-zero, printing no result, when the engine's
sources are missing, the build fails, or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "lakebench.stamp")
WORK = os.path.join(BENCH, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), ENGINE_SRC]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    log("lakebench: building (sbt writeClasspath)")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"lakebench: build failed: {e}")
        return None
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"lakebench: build failed (exit {p.returncode})")
        return None
    with open(STAMP, "w") as f:
        f.write(digest)
    with open(CLASSPATH) as c:
        return c.read().strip()


def java_cmd(classpath, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "lakebench.Bench", *args]


def run_jvm(cmd):
    """Run the JVM in its own process group; on timeout kill the group
    (the medallion workload starts one JVM per pipeline) and wait."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"lakebench: run exceeded {RUN_TIMEOUT_S} s, stopping it")
        return -1
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        p.wait()


def self_test(classpath, work):
    out = os.path.join(work, "catalogue.json")
    code = run_jvm(java_cmd(classpath, work, [
        "--role", "selftest", "--work", work, "--out", out]))
    if code != 0 or not os.path.exists(out):
        log("lakebench self-test: JVM checks failed")
        return 1
    with open(out) as f:
        cat = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for key in ("end_to_end", "per_layer"):
        want = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        got = {m["name"]: (m["unit"], m["better"]) for m in cat[key]}
        if want != got:
            errors.append(f"{key}: BENCHMARK.json and the benchmark disagree: "
                          f"only in BENCHMARK.json {sorted(set(want) - set(got))}, "
                          f"only printed {sorted(set(got) - set(want))}, "
                          f"unit/direction differ "
                          f"{sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    if [w["name"] for w in spec["workloads"]] != ["medallion", "curate"]:
        errors.append("BENCHMARK.json workloads are not medallion, curate")
    for e in errors:
        log(f"lakebench self-test: {e}")
    if not errors:
        log("lakebench self-test: ok")
    return 1 if errors else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["medallion", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"lakebench: engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
        return 2
    classpath = build()
    if classpath is None:
        return 1
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            return self_test(classpath, work)
        out = os.path.join(work, "result.json")
        code = run_jvm(java_cmd(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out,
            "--records", os.path.join(WORK, "records")]))
        if code != 0 or not os.path.exists(out):
            log(f"lakebench: {a.workload} run failed (exit {code})")
            return 1
        with open(out) as f:
            line = f.read().strip()
        res = json.loads(line)
        if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
            log("lakebench: malformed result object")
            return 1
        print(line, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
