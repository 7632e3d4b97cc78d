#!/usr/bin/env python3
"""graft benchmark: build from source, run one workload, print one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload mor_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run compiles graft's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/graftbench.jar with the
Scala compiler that ships among the Spark jars, then runs one toy round of
every workload to record a class-data-sharing archive, which every later
JVM maps instead of loading and verifying the same classes again. Later
runs reuse both while no source changes. Each run is one JVM with one
local SparkSession; the last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return os.path.join(h, "jars")
    return os.path.join(homes[0], "jars")


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, REPO)}")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def java_cmd(jar, work, extra):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    return (["java", "-Xmx3g", "-Xss8m"] + extra
            + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={tmpdir}", "-Duser.timezone=UTC",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", os.pathsep.join([jar, os.path.join(SPARK_JARS, "*")]),
               "graftbench.Main", "--work", work])


def build():
    """Compile graft + benchmark into BUILD/graftbench.jar and record the
    class-data archive, unless the stamp matches the sources."""
    srcs = sources()
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS} (set SPARK_HOME)")
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "graftbench.jar")
    archive = os.path.join(BUILD, "graftbench.jsa")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, archive
    for f in (stamp_file, jar, archive):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    # CDS archives only classes that come from jar files
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    work = os.path.join(BUILD, f"train-{os.getpid()}")
    r = subprocess.run(java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={archive}",
                                            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
                       + ["--train"], stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        fail("training run for the class-data archive failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar, archive


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    jar, archive = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    cmd = java_cmd(jar, work, [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off",
                               "-Xlog:cds+dynamic=off"])
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=None if a.selftest else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if a.selftest:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
