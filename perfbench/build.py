#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/classes. A build is skipped when the digest of
its sources is unchanged.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, src_dir, extra_cp, salt=""):
    files = sources(src_dir)
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {src_dir}")
    dest = os.path.join(OUT, "classes", name)
    stamp = dest + ".sha256"
    want = hashlib.sha256((digest(files) + salt).encode()).hexdigest()
    if os.path.isdir(dest) and os.path.exists(stamp) and \
            open(stamp).read() == want:
        return dest, want
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join(extra_cp + [jars])
    log = os.path.join(OUT, "logs", f"build-{name}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", dest, "-cp", cp] + files,
            stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: compiling {name} failed (see {log})")
    with open(stamp, "w") as fh:
        fh.write(want)
    return dest, want


def build():
    """Returns (classpath entries, digest of the graft and harness sources)."""
    graft, d1 = compile_tree("graft", os.path.join(ROOT, "src", "main"), [])
    harness, d2 = compile_tree(
        "perfbench", os.path.join(ROOT, "perfbench", "src"), [graft], d1)
    return [harness, graft, os.path.join(spark_jars(), "*")], d2


if __name__ == "__main__":
    print(build()[1])
