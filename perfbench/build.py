#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main) and
the benchmark's own Scala code (perfbench/src) into one class directory with
the Scala compiler that ships in Spark's jar directory. No sbt, no network.

The output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root. A stamp over every input file skips the compile when nothing
changed.

Usage: python3 perfbench/build.py        (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def _files(top, ext):
    out = []
    for dp, dns, fns in os.walk(top):
        dns.sort()
        out += [os.path.join(dp, f) for f in sorted(fns) if f.endswith(ext)]
    return out


def inputs():
    """(scala sources, resource files); raises when the engine is absent."""
    eng = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(eng):
        raise FileNotFoundError(f"engine sources not found at {eng}")
    srcs = _files(eng, ".scala") + _files(os.path.join(BENCH, "src"), ".scala")
    res_top = os.path.join(ROOT, "src", "main", "resources")
    res = _files(res_top, "") if os.path.isdir(res_top) else []
    return srcs, res


def stamp(paths):
    """sha256 over each file's path (relative to the checkout) and contents."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile when needed and return the class directory."""
    srcs, res = inputs()
    cp = os.path.join(spark_jars(), "*")
    out = os.path.join(build_dir(), "classes")
    want = stamp(srcs + res)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise RuntimeError("compile failed")
    res_top = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_top))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report and fail
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
