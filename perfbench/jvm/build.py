"""Build file of the benchmark driver: compiles the engine's sources
(`src/main/scala` of the repository) together with the driver's own
(`perfbench/jvm/src`) with the Scala compiler that ships among Spark's
jars, so the build needs neither sbt nor a network.

    python3 perfbench/jvm/build.py <classes-dir>

Re-compiles only when a source file changed since the last build (a
content hash is kept beside the classes)."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def sources():
    out = []
    for root in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")):
        out += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
        out += glob.glob(os.path.join(root, "**", "*.java"), recursive=True)
    return sorted(out)


def classpath():
    """Spark's jars, the directory the repository's build.sbt compiles
    against (`unmanagedBase`), or else $SPARK_HOME/jars."""
    with open(os.path.join(REPO, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")
    return os.path.join(jars, "*")


def stamp(srcs):
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(classes):
    srcs = sources()
    want = stamp(srcs)
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
            "-nowarn", "-usejavacp", "-d", classes] + srcs
    subprocess.run(args, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build(os.path.abspath(sys.argv[1]))
