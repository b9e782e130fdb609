#!/usr/bin/env python3
"""Run one lakebench workload from the root of a graft checkout.

    python3 lakebench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from the checkout's own sources with sbt when
they changed since the last build, then runs the benchmark in one JVM
(`lakebench.Main`). It prints the result object as the last line of
standard output and writes its full record under lakebench/runs/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SRC = ROOT / "src" / "main"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "lakebench.stamp"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
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
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return Path(submit).resolve().parent.parent


def source_stamp():
    """Hash of every input of the build: path, size and mtime."""
    h = hashlib.sha256()
    inputs = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (GRAFT_SRC, HERE / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(spark):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=str(spark))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    print("lakebench: building graft and the benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "copyResources"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if r.returncode != 0:
        fail("build failed")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (GRAFT_SRC / "scala" / "graft").is_dir():
        fail(f"no graft sources at {GRAFT_SRC}: run from the root of a graft checkout")
    spark = spark_home()
    jars = spark / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars at {jars}")
    build(spark)
    tmp = HERE / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}/*", "lakebench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=HERE)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the benchmark exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
