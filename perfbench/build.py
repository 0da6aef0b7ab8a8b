#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark's JVM side (`perfbench/src`) with the Scala compiler that ships in
Spark's jars, into `<out>/<source hash>/`. A build whose sources are unchanged
is reused.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build/perfbench)
Env:   SPARK_HOME (default: the jars directory build.sbt's unmanagedBase names)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        # the engine's own build takes Spark from this directory
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    return main, bench


def _hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode}); see {log.name}")


def build(out_root):
    """Return the runtime classpath, compiling first if the sources changed."""
    jars = spark_jars()
    main, bench = sources(ROOT)
    target = os.path.join(out_root, "classes-" + _hash(main + bench))
    engine, harness = os.path.join(target, "engine"), os.path.join(target, "bench")
    if not os.path.exists(os.path.join(target, "OK")):
        for stale in glob.glob(os.path.join(out_root, "classes-*")):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(target)
        with open(os.path.join(target, "compile.log"), "w") as log:
            _scalac(jars, jars, engine, main, log)
            _scalac(jars, jars + os.pathsep + engine, harness, bench, log)
        open(os.path.join(target, "OK"), "w").close()
    return os.pathsep.join([harness, engine, jars])


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "perfbench")
    print(build(out))
