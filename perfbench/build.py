#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own JVM sources (perfbench/src) into .bench_build/classes.

It calls the Scala compiler that ships in the Spark distribution
(scala.tools.nsc.Main in $SPARK_HOME/jars), so it needs neither sbt nor a
network. A digest of every source file is kept beside the classes; an
unchanged tree is not compiled again.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.digest"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("SPARK_HOME is not set; it names the Spark distribution to build and run on")
    jars = Path(home) / "jars"
    if not (jars / f"scala-compiler-{scala_version(jars)}.jar").is_file():
        raise SystemExit(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def scala_version(jars):
    for j in jars.glob("scala-library-*.jar"):
        return j.name[len("scala-library-"):-len(".jar")]
    raise SystemExit(f"no scala-library jar in {jars}; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    graft = ROOT / "src" / "main" / "scala"
    if not graft.is_dir():
        raise SystemExit(f"graft sources not found at {graft}")
    return sorted(graft.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def digest(srcs):
    h = hashlib.sha256(Path(__file__).read_bytes())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classes directory, source digest)."""
    srcs = sources()
    want = digest(srcs)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES, want
    jars = spark_jars()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"compilation failed ({res.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return CLASSES, want


if __name__ == "__main__":
    print(build()[0])
