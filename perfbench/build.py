#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark's JVM half (`perfbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into
`.bench_build/bench.jar` at the root of the checkout.

    python3 perfbench/build.py

A build is skipped when a stamp of every source file and of the jar
directory matches the last one, so only the first run in a checkout
pays for it. The classes go into a jar, not a directory, so the JVM
can keep them in the class-data archive `run.py` records (`CDS`);
a new build deletes that archive. Spark is found through
`$SPARK_HOME`, else through `spark-submit` on the `PATH`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
JAR = OUT / "bench.jar"
STAMP = OUT / "bench.stamp"
# the class-data archive of the last build's classes (see run.py)
CDS = OUT / "bench.jsa"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return sorted(jars.glob("*.jar"))


def _sources():
    if not SOURCES[0].is_dir():
        raise BuildError(f"no engine sources at {SOURCES[0]}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build():
    """Compile if needed; returns the classpath to run with."""
    jars = spark_jars()
    srcs = _sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    stamp = h.hexdigest()
    cp = [str(JAR)] + [str(j) for j in jars]
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return cp
    compiler = [j for j in jars if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("no Scala compiler in Spark's jar directory")
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars),
           f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:] +
                         r.stderr[-4000:])
    for f in (STAMP, CDS, JAR):
        f.unlink(missing_ok=True)
    part = OUT / "bench.jar.tmp"
    with zipfile.ZipFile(part, "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    part.rename(JAR)
    STAMP.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build: {e}")
