#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload curated_ingest --seed 1 \
        --seconds 45 --trace 0

Run it from the repository root. On first use it builds the engine and the
benchmark from source with sbt (offline) and caches the runtime classpath
under .bench_build/, keyed by a hash of every build input, so later runs
skip the build. It then starts one JVM, relays its report, and prints the
result JSON as the last line of standard output. With --trace 1 it also
prints the per-span table (see trace_table.py). The exit code is 0 only
when the run finished and every output checked correct.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

import trace_table

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
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


def build_inputs():
    """Every file the build reads from this checkout, in a stable order."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            paths += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            paths += [os.path.join(d, f) for f in fs]
    return sorted(paths)


def sbt_env():
    """The build runs offline from the local caches: when the caller set no
    sbt options, resolve through the user's sbt repositories file."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The benchmark's runtime classpath, building first when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); "
             "run from the repository root")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    cached = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cached):
        with open(cached) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=sbt_env(),
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "[error]" in "".join(lines) or cp.startswith("["):
        sys.stderr.write("".join(ln + "\n" for ln in lines[-40:]))
        fail(f"build failed (rc={rc}); full log in {log}")
    for f in os.listdir(BUILD):
        if f.startswith("classpath-"):
            os.remove(os.path.join(BUILD, f))
    with open(cached, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["curated_ingest", "snapshot_table"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=45)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(WORK, "run"), "--out", OUT]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
    shutil.rmtree(WORK, ignore_errors=True)
    lines = stdout.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct":')]
    for ln in lines:
        if not ln.startswith('{"correct":'):
            print(ln)
    if a.trace == 1:
        trace = os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json")
        if os.path.isfile(trace):
            print(trace_table.render(trace))
    if not result:
        fail(f"no result line (exit code {proc.returncode})")
    print(result[-1])
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and '"correct":true' in result[-1]
             else 1)


if __name__ == "__main__":
    main()
