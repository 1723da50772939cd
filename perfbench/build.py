"""Build file of the benchmark: compiles the library's main sources and
the benchmark's own Scala sources into one class directory.

The Scala compiler and the Spark runtime come from the Spark jar
directory the repository's build.sbt names as `unmanagedBase` (or
$SPARK_JARS_DIR); nothing is resolved or downloaded. A stamp over every
source file's path and bytes makes a rebuild happen only when a source
changed.

Usage: python3 perfbench/build.py [build-dir]
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


def spark_jars(root):
    """The jar directory: $SPARK_JARS_DIR, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase; set SPARK_JARS_DIR")
    return m.group(1)


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise FileNotFoundError(f"source directory {d} is missing")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(root, classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(root), '*')}"


def ensure(root, build_dir):
    """Return the class directory, compiling first if any source changed."""
    files = sources(root)
    jars = os.path.join(spark_jars(root), "*")
    want = stamp(root, files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jtmp = os.path.join(build_dir, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars,
           f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    print(ensure(root, sys.argv[1] if len(sys.argv) > 1 else
                 os.path.join(root, ".bench_build")))
