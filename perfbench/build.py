"""Compiles the program (src/main/scala) and the benchmark (perfbench/src)
into one class directory under .bench_build, with plain scalac from the
Spark distribution the program's build.sbt points at. A content stamp skips
the compile when no source changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars(root):
    """The jar directory the program's build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def classpath(root, classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(root), "*")])


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise RuntimeError(f"missing source directory {d}")
        for dirpath, _, names in os.walk(top):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(root):
    """Returns the class directory, compiling first if a source changed."""
    files = sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256(jars.encode())
    for p in files:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
