"""Build file of the benchmark: compiles the program (``src/main/scala``)
and the benchmark's own harness (``perfbench/src``) with the Scala compiler
that ships in Spark's jar directory, into ``.bench_build/``. The jar
directory is ``$SPARK_HOME/jars``, else the one the program's own
``build.sbt`` names as ``unmanagedBase``.

A build is reused while a stamp over every source file, this file and the
jar directory listing matches; concurrent callers serialise on a lock.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under '{jars}' (set SPARK_HOME)")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(groups, jars):
    h = hashlib.sha256()
    for f in [os.path.abspath(__file__)] + [f for g in groups for f in g]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, out, classpath, files, log):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode:
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log.name}")


def build():
    """Compile when sources changed; return the runtime classpath."""
    jars = spark_jars()
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = _sources(os.path.join(HERE, "src"))
    if not program or not bench:
        raise RuntimeError("program or benchmark sources missing")
    os.makedirs(BUILD, exist_ok=True)
    cls_prog = os.path.join(BUILD, "classes", "program")
    cls_bench = os.path.join(BUILD, "classes", "bench")
    cp = os.pathsep.join([cls_bench, cls_prog, os.path.join(jars, "*")])
    stamp_file = os.path.join(BUILD, "classes", "STAMP")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = _stamp([program, bench], jars)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            _scalac(jars, cls_prog, os.path.join(jars, "*"), program, log)
            _scalac(jars, cls_bench, os.pathsep.join([cls_prog, os.path.join(jars, "*")]),
                    bench, log)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
