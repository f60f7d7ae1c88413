#!/usr/bin/env python3
"""Builds the benchmark harness together with the graft sources it drives.

The harness (perfbench/src) and the program (src/main/scala) compile in
one scalac pass against the Spark distribution's jars, into
<build>/classes-<source hash>/. A build whose hash already exists is
reused, so only the first run in a checkout pays for compilation.

Usage: python3 perfbench/build.py   (from the root of a checkout)
Prints the classes directory on success; exits non-zero on failure.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution with a
    Scala compiler whose bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source tree {os.path.relpath(r, ROOT)}")
    out = []
    for r in roots:
        for dirpath, _, files in os.walk(r):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = build_dir()
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jtmp = os.path.join(base, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    open(os.path.join(tmp, ".done"), "w").close()
    # keep only this build: older ones belong to sources that changed
    for d in os.listdir(base):
        if d.startswith("classes-") and os.path.join(base, d) != tmp:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
