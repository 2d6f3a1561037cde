#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars directory, into a directory keyed by the sources'
hash, so a run after an unchanged tree skips the build.

    python3 perfbench/build.py        # prints the class directory

Run from the repository root. Output goes under $CARGO_TARGET_DIR if set,
else .bench_build/.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jars with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: no src/main/scala here; run from the repository root")
    return main + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.basename(p) for p in glob.glob(os.path.join(jars, "scala-*.jar"))]:
        h.update(s.encode())
        if os.path.isfile(s):
            with open(s, "rb") as f:
                h.update(f.read())
    out_root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = os.path.abspath(os.path.join(out_root, "classes-" + h.hexdigest()[:16]))
    if os.path.isfile(os.path.join(classes, ".built")):
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    jtmp = os.path.join(out_root, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + jtmp,
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
