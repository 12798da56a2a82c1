#!/usr/bin/env python3
"""Benchmark of graft's graph client, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ref_ops --seed 1 --seconds 30 --trace 0

The first run builds graft from the checkout's sources together with the
benchmark program `graftbench.Main` (sbt, offline, against the Spark
installation in SPARK_HOME); later runs reuse the build while the sources
are unchanged. The program's last stdout line is one JSON object:
`correct`, `attempted`, `failed` and `metrics`, the end-to-end metrics with
`--trace 0` and the per-layer metrics with `--trace 1`. A traced run also
writes its spans to `perfbench/out/`.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "bench-classpath.txt")
STAMP = os.path.join(BUILD, "bench-sources.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit; same list as the
# main build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation of a `spark-submit` on PATH; it
    must hold the Spark 4 / Scala 2.13 jars graft compiles against."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and os.path.isdir(jars) and any(
                f.startswith("spark-core_2.13-4") for f in os.listdir(jars)):
            return h
    fail("no Spark 4 installation found: set SPARK_HOME")


def build():
    """Compile once per source digest; return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ref_ops", "scale"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout")

    cp = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap, so heap resizing does not drift latency within a run
    cmd += ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", os.path.join(HERE, "out")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
    with open(os.path.join(HERE, ".work", f"run-{os.getpid()}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark run timed out")
    shutil.rmtree(work, ignore_errors=True)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    with open(log.name) as f:
        lines = f.readlines()
    ok = proc.returncode == 0 and last.startswith("{")
    # the program's own lines always; Spark's log only when the run failed
    sys.stderr.write("".join(l for l in lines if not ok or l.startswith("graftbench"))[-20000:])
    os.remove(log.name)
    if not ok:
        fail(f"graftbench.Main exited with {proc.returncode}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
