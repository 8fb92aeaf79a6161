#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src/{main,test}/scala) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/perfbench/classes-<hash>.

The hash covers every source file, so an unchanged tree reuses its
classes and any edit builds afresh. Nothing is written outside the
checkout.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Directory of the Spark jars the library builds and runs against."""
    homes = [os.environ.get("SPARK_HOME", "")]
    # else any <spark home>/bin on PATH that holds spark-submit
    homes += [os.path.dirname(os.path.realpath(p))
              for p in os.environ.get("PATH", "").split(os.pathsep)
              if p and os.path.isfile(os.path.join(p, "spark-submit"))]
    for d in (os.path.join(h, "jars") for h in homes if h):
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME or put spark-submit on PATH)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit(f"perfbench: library sources not found at {lib}")
    files = []
    for top in (lib, os.path.join(HERE, "src", "main", "scala"),
                os.path.join(HERE, "src", "test", "scala")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(staging, ".complete"), "w").close()
    os.rename(staging, out)
    return out


if __name__ == "__main__":
    print(build())
