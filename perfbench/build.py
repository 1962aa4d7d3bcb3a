#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
JVM side (perfbench/src) using the Scala compiler and the Spark jars that
ship under $SPARK_HOME/jars (default /opt/spark/jars, the same jars
build.sbt compiles against). No dependency is fetched.

The classes go to .bench_build/<hash of every source>/classes, so a changed
source tree gets a fresh build and an unchanged one is reused.

    python3 perfbench/build.py      # build, print the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_ROOT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src/main/scala'}")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build_dir():
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return BUILD_ROOT / h.hexdigest()[:16]


def build():
    """Compile if needed; return (classes dir, build dir)."""
    out = build_dir()
    classes = out / "classes"
    if (classes / ".complete").exists():
        return classes, out
    jars = spark_jars()
    tmp = out / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = os.pathsep.join(
        str(next(jars.glob(f"{j}-2.13*.jar")))
        for j in ("scala-compiler", "scala-library", "scala-reflect"))
    srcs = [str(p) for p in sources()]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", str(jars / "*"), "-d", str(tmp)] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources into {classes}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes, out


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
