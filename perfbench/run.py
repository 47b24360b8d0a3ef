#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload ci_write --seed 7 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the benchmark
(a nested sbt build in this directory that compiles the checkout's own
sources) and caches the classpath; later runs start the JVM directly. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it carries the seed,
the host-health verdict and per-class detail. Everything a run writes
stays under `perfbench/.work` (scratch) and `perfbench/target` (build).
See README.md in this directory for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target", "perfbench-build")
WORK_ROOT = os.path.join(HERE, ".work")
WORKLOADS = ("ci_write", "operators")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
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


def source_stamp():
    """Hash of every input of the build: the engine's and the benchmark's
    build files and sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the whole
    group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compile the benchmark and the checkout's engine; return the runtime
    classpath. Skipped when the sources have not changed since the last
    build in this checkout."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD_DIR, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cps = [ln.strip() for ln in lines
           if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        tail = "\n".join(lines[-30:])
        fail(f"build failed (exit {rc}); see {log_path}\n{tail}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala/graft); run it from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    classpath = build()

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    log_path = os.path.join(WORK_ROOT, f"last_{args.workload}.log")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    try:
        with open(log_path, "w") as log:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                tail = "\n".join(fh.read().splitlines()[-40:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
                 f"log {log_path}\n{tail}")
        with open(out) as fh:
            result = json.load(fh)
        trace = os.path.join(work, f"trace_{args.workload}.jsonl")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(WORK_ROOT, f"last_trace_{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **result["detail"]}, sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
