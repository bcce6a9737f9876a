#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload match-dense --seed 1 --seconds 20 --trace 0

The build (sbt, offline) runs only when a source or build file changed since
the last build; its classpath is kept in the build directory
($CARGO_TARGET_DIR, default .bench_build). The benchmark JVM is launched
directly from that classpath. Its standard output is passed through; the
last line is the result object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HEAP = "3g"
# the benchmark JVM is killed after this long; with the build skipped, a
# whole run then ends within 180 s
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(build_dir):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's own temporary files stay in the build directory
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def build(root, build_dir):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    try:
        r = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(build_dir),
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    out = r.stdout.strip().splitlines()
    if r.returncode != 0 or not out:
        sys.stderr.write(r.stdout)
        fail(f"build failed (sbt exit {r.returncode})")
    cp = out[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(r.stdout)
        fail("build printed no classpath")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    # a terminated run still stops and waits for its children (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="catalog only: write observed query checksums here")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, build_dir)

    work = os.path.join(build_dir, "work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]

    env = dict(os.environ)
    env.pop("SPARK_HOME", None)  # the classpath is complete; no spark-submit
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        proc.kill()

    watchdog = threading.Timer(JVM_LIMIT_S, kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail("benchmark run timed out", 3)
    if not last.startswith('{"correct"'):
        fail(f"benchmark JVM printed no result (exit {code})", code or 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
