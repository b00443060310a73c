#!/usr/bin/env python3
"""Run-book benchmark for graft.

    python3 perfbench/run.py --workload <extract_1k|derive_1k> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record     # rewrite perfbench/expected.json

Run from the repository root (any directory works; paths are resolved from
this file). On first use it compiles the program and the harness from
source with sbt (offline) and caches the classpath under perfbench/target.
Each run starts one JVM at local[<cores>], measures one cold unit of the
workload, checks the outputs against perfbench/expected.json and prints
one JSON object as the last line of standard output. Scratch data lives
under .bench_work/ at the repository root.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("extract_1k", "derive_1k")
# a run must end within 180 s; a run that builds, or prepares the derive
# input, has the first run's 900 s
RUN_LIMIT_S = 172
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 800
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stamp():
    """hash of every source the build compiles: a changed source rebuilds."""
    h = hashlib.sha256()
    for top in SOURCES:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(build_id):
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_id, _, cp = f.read().partition("\n")
        if saved_id == build_id and cp.strip():
            return cp.strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     " -Dsbt.repository.config=" + repos)
        env["SBT_OPTS"] = opts
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in r.stdout.splitlines()
             if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(build_id + "\n" + lines[-1] + "\n")
    return lines[-1], True


def jvm(cp, run_dir, args, limit):
    """runs the JVM side in its own process group; True on exit code 0."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.PerfBench"] + args
    with open(os.path.join(run_dir, "jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit)) == 0
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: JVM killed after {limit:.0f} s", file=sys.stderr)
            return False


def log_tail(run_dir, lines=60):
    try:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            return "".join(f.readlines()[-lines:] if lines else f.readlines())
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        die("--workload is required", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/Main.scala"))):
        die(f"no graft sources under {ROOT}: nothing to build", 2)

    t0 = time.monotonic()
    build_id = stamp()
    cp, first_use = build(build_id)
    cache = os.path.join(WORK, "cache-" + build_id)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    common = ["--work", run_dir, "--cache", cache,
              "--expected", os.path.join(HERE, "expected.json"),
              "--tables", os.path.join(HERE, "data", "sf0.001")]
    try:
        # the derive input is built once per build, in its own JVM, under a
        # lock, so no measured run inherits its warm-up
        if a.record or a.workload == "derive_1k":
            with open(os.path.join(cache, "prepare.lock"), "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                if not os.path.exists(os.path.join(
                        cache, "derive/root/triples/_graft_meta.json")):
                    if not jvm(cp, run_dir, ["--workload", "prepare"] + common,
                               BUILD_LIMIT_S):
                        sys.stderr.write(log_tail(run_dir))
                        die("preparing the derive input failed")
                    first_use = True
        if a.record:
            ok = jvm(cp, run_dir, ["--workload", "record"] + common, 3600)
            if not ok:
                sys.stderr.write(log_tail(run_dir))
                die("record failed")
            print("perfbench: wrote perfbench/expected.json", file=sys.stderr)
            return
        # one cold unit per run: --seconds is accepted, the unit count is fixed
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace)] + common
        limit = FIRST_RUN_LIMIT_S if first_use else RUN_LIMIT_S
        left = limit - (time.monotonic() - t0)
        ok = jvm(cp, run_dir, args + ["--seconds-left", f"{left - 5:.0f}"], left)
        # the JVM's own findings (failed checks, failed queries) go to stderr
        sys.stderr.write("".join(ln for ln in log_tail(run_dir, None).splitlines(True)
                                 if ln.startswith("[perfbench]")))
        result = os.path.join(run_dir, "result.json")
        if not ok or not os.path.exists(result):
            sys.stderr.write(log_tail(run_dir))
            die("run failed")
        with open(result) as f:
            line = f.read().strip()
        print(line, flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
