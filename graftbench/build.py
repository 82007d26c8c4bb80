"""Build file of the graftbench package.

Compiles graft's sources (src/main/scala) together with the benchmark's own
(graftbench/src) into .bench_build/graftbench/classes with the Scala compiler
that ships in Spark's jar directory -- the same jars the repo's build.sbt
compiles against. Nothing is fetched. The build is skipped when a stamp over
every source file, the jar list and this file is unchanged.

    python3 graftbench/build.py        # from the repository root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "graftbench")


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("graftbench: cannot find Spark's jars (set SPARK_HOME)")


def sources(root):
    out = []
    for top in ("src/main/scala", "graftbench/src"):
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(root):
    """Compile if needed; returns (classes dir, Spark jar dir)."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("graftbench: no graft sources under src/main/scala")
    jars = spark_jars(root)
    srcs = sources(root)
    want = stamp(root, srcs, jars)
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"graftbench: compile failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
