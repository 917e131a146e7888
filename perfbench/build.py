#!/usr/bin/env python3
"""Build file of the benchmark package. Compiles the program's sources
(src/main/scala) and the benchmark's (perfbench/scala) into
<build dir>/classes with the Scala compiler in the Spark jar directory, and
skips the compile when no source changed since the last one. The runtime
classpath is those classes, src/main/resources and the Spark jars.

    python3 perfbench/build.py      # from the root of a checkout

The build dir is $CARGO_TARGET_DIR, or .bench_build. The Spark jar directory
is $SPARK_HOME/jars, or the `unmanagedBase` that build.sbt names.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources(root):
    found = []
    for d in ("src/main/scala", "perfbench/scala"):
        found += sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
    return found


def build(root):
    """Compile if needed; return the runtime classpath. Raises SystemExit
    when the program's sources are missing or the compile fails."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    jars = spark_jars(root)
    compiler = [os.path.join(jars, f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"build: missing {missing}")
    out = os.path.join(build_dir(root), "classes")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(build_dir(root), "classes.sha256")
    classpath = [out, os.path.join(root, "src/main/resources"), os.path.join(jars, "*")]
    if os.path.isdir(out) and os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", out] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(":".join(build(os.getcwd())))
