#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark driver (perfbench/scala) with the Scala compiler that ships among
the Spark jars the sbt build uses (build.sbt's unmanagedBase), against those
jars, into one class directory.

Usage, from the repository root:  python3 perfbench/build.py

The output goes to .bench_build/perfbench/<source hash>/classes and is reused
while no source changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"no Scala compiler among the jars in {m.group(1)}")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root):
    """Returns (classes_dir, jars), compiling when the sources changed."""
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_root = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(out_root, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, jars
    if os.path.isdir(out_root):
        shutil.rmtree(out_root)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"scalac failed with exit code {proc.returncode}")
    os.rename(tmp, classes)
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
