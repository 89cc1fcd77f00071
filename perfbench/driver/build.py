#!/usr/bin/env python3
"""Build of the benchmark driver.

Compiles graft's main sources and the driver's sources in one `scalac`
run, with the Scala compiler from the same jar directory graft's
`build.sbt` names as its `unmanagedBase` (Spark's jars). Nothing but the
output directory is written: no sbt, no dependency cache, no file
outside the checkout. The build is reused while no source file changed.

    python3 perfbench/driver/build.py OUT_DIR    # prints the runtime classpath

Run from the root of a graft checkout.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

DRIVER = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jar_dir(root):
    """The directory of graft's unmanaged jars, as its build.sbt names it."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True)
                  + glob.glob(os.path.join(DRIVER, "src", "**", "*.scala"), recursive=True))


def build(root, out):
    """Compile into `out`; return the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BuildError("not the root of a graft checkout "
                         "(src/main/scala/graft/SparkEntry.scala not found)")
    jars = sorted(glob.glob(os.path.join(jar_dir(root), "*.jar")))
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among the jars in {jar_dir(root)}")
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes] + jars)
    # the classpath holds absolute paths, so a build is only reused in place
    digest = hashlib.sha256(cp.encode())
    for f in sources(root) + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(out, "build.sha256")
    if os.path.isfile(stamp) and os.path.isdir(classes):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-d", classes, "-classpath", os.pathsep.join(jars)] + sources(root),
            stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed (exit {proc.returncode}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    try:
        print(build(os.getcwd(), os.path.abspath(sys.argv[1])))
    except BuildError as e:
        sys.exit(f"build: {e}")
