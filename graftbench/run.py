#!/usr/bin/env python3
"""Serving and ingest benchmark for graft.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload point_serve --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark offline with sbt when their sources
changed (the build lands in `.bench_build/` at the checkout root and in
the sbt `target/` directories), then runs the benchmark JVM directly.
Every store, index and Spark scratch file goes under a fresh directory in
`.bench_build/tmp/` that is removed at exit. The last line printed on
stdout is the JSON result; build and Spark logs go to stderr.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")

WORKLOADS = ("point_serve", "ingest_curate")

# The JDK 17 module openings Spark needs outside spark-submit; the same
# list as the program's own build.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    # the build JVM's scratch stays inside the checkout too
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    return env


def build():
    """Compile with sbt and record the runtime classpath, if sources changed."""
    want = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write("".join(l + "\n" for l in out.stdout.splitlines() if not l.startswith("/")))
    if out.returncode != 0:
        fail(f"build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources next to the benchmark (expected src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    tmp_root = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.terminate()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited with {code}", code=code if code > 0 else 1)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
