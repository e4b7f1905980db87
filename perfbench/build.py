#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(`src/main/scala`) and this harness (`perfbench/src`) with the Scala
compiler that ships in the Spark jars, into
`.bench_build/perfbench/classes-<digest of the sources>/{program,bench}`.
An existing build of the same sources is reused.

Run:  python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build" / "perfbench"
SCALA = ("scala-compiler", "scala-library", "scala-reflect")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the program's own build compiles against
    (`unmanagedBase` in build.sbt); it also holds the Scala compiler."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        fail(f"no unmanagedBase jar directory in {sbt}")
    return Path(m.group(1))


def scala_jars():
    jars = [next(iter(sorted(spark_jars().glob(f"{n}-2.13.*.jar"))), None)
            for n in SCALA]
    if None in jars:
        fail(f"no Scala 2.13 compiler jars under {spark_jars()}")
    return jars


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not (prog / "graft").is_dir():
        fail(f"program sources not found at {prog}")
    return (sorted(prog.rglob("*.scala")),
            sorted((HERE / "src").rglob("*.scala")))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(map(str, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed", 1)


def publish(tmp, out):
    """Move a finished build or data set into place; a concurrent run that
    got there first wins and this copy is dropped."""
    try:
        tmp.rename(out)
    except OSError:
        if not out.is_dir():
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def build():
    prog, bench = sources()
    jars = scala_jars()
    out = CACHE / f"classes-{digest(prog + bench)}"
    if out.is_dir():
        return out
    log(f"compiling {len(prog)} program and {len(bench)} harness sources")
    tmp = CACHE / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "program").mkdir(parents=True)
    (tmp / "bench").mkdir()
    spark_cp = f"{spark_jars()}/*"
    t0 = time.time()
    scalac(jars, spark_cp, tmp / "program", prog)
    scalac(jars, f"{spark_cp}:{tmp / 'program'}", tmp / "bench", bench)
    publish(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


if __name__ == "__main__":
    print(build())
