#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) together
with the benchmark's host (`perfbench/scala`) using the Scala compiler that
ships in Spark's jar directory (see `spark_jars`), into `$CARGO_TARGET_DIR` (default
`.bench_build`) under the repository root. A stamp of the sources' hash makes
a rebuild of unchanged sources a no-op.

    python3 perfbench/build.py          # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """Spark's jar directory, the first holding a Scala compiler of: $SPARK_JARS,
    $SPARK_HOME/jars, and the installation of each `spark-submit` on PATH."""
    cands = [os.environ.get("SPARK_JARS"),
             os.environ.get("SPARK_HOME") and os.path.join(os.environ["SPARK_HOME"], "jars")]
    cands += [os.path.join(os.path.dirname(d), "jars") for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for c in cands:
        if c and glob.glob(os.path.join(c, "scala-compiler*.jar")):
            return c
    raise SystemExit("build: no Spark jar directory with a Scala compiler (set SPARK_HOME or SPARK_JARS)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    host = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog + host


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files]
    return base, sorted(out)


def jars():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def build():
    srcs = sources()
    res_base, res = resources()
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    cp = ":".join(jars())
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out + ":" + cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(out, os.path.relpath(f, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out + ":" + cp


if __name__ == "__main__":
    print(build())
