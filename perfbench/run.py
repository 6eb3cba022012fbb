#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <capture_scan|live_mux|query_sweep>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, into
perfbench/target), then runs the workload in a fresh JVM. Everything the
run writes goes under .bench_build/perfbench in the checkout. The last
line of standard output is the run's JSON result; the exit code is
non-zero when a check failed or the run could not be made.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
STAMP = CLASSPATH + ".stamp"
WORKLOADS = ("capture_scan", "live_mux", "query_sweep")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS",
                   "-Dsbt.offline=true -Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Xmx2g")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=f,
                         stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    if os.path.join("target", "scala-2.13", "classes") not in cp:
        fail(f"build printed no classpath; see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()
    with open(CLASSPATH) as f:
        cp = f.read()

    work = os.path.join(OUT, f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap keeps G1's sizing out of the run-to-run variance
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work,
            "--data", os.path.join(BENCH, "data", "sf0.01")]
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"))
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(OUT, f"{os.path.basename(work)}.log")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                         stdout=out, stderr=err)
    with open(out_path) as f:
        lines = f.read().splitlines()
    trace = os.path.join(work, f"trace-{a.workload}-seed{a.seed}.json")
    if os.path.exists(trace):
        shutil.move(trace, os.path.join(OUT, os.path.basename(trace)))
    shutil.rmtree(work, ignore_errors=True)
    ok = (code is not None and lines and lines[-1].startswith("{")
          and '"correct":' in lines[-1])
    if not ok:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload {a.workload} "
             + ("timed out" if code is None else f"exited {code}")
             + " without a result")
    print("\n".join(lines))
    sys.exit(code)


if __name__ == "__main__":
    main()
