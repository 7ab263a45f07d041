#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) in one scalac pass, against the Spark
jars the engine's build.sbt also compiles against.

    python3 perfbench/build.py          # prints the classpath to run with

Output goes to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench)
under the checkout root: the classes, and perfbench.jar of the classes and
the engine's resources. A content hash of every source file is kept next to
them, so an unchanged tree is not compiled twice. A rebuild removes the
class-data archive (classes.jsa) that run.py makes from the jar.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "perfbench", "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _jar_dir():
    """$SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def _jars():
    d = _jar_dir()
    if not os.path.isdir(d):
        raise BuildError(f"no Spark jars at {d}")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def out_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, target, "perfbench")


def build():
    """Compile if the sources changed; return the runtime classpath list."""
    srcs = _sources()
    jars = _jars()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    stamp = os.path.join(out, "sources.sha256")
    # one jar, not a class directory: the JVM archives class data only
    # from jars
    cp = [jar] + jars
    if (os.path.exists(stamp) and os.path.exists(jar)
            and open(stamp).read().strip() == digest):
        return cp
    for f in (stamp, jar, os.path.join(out, "classes.jsa")):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jcp = os.pathsep.join(jars)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jcp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jcp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    r = subprocess.run(["jar", "cf", jar, "-C", classes, ".", "-C", resources, "."],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"jar exited with {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
