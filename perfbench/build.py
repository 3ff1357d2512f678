"""Build file of the perfbench package: compiles the engine's sources
(src/main/scala) together with the benchmark's own Scala sources into
`.bench_build/classes` with the Scala compiler that ships among the
Spark jars build.sbt names (`unmanagedBase`), and skips the compile when
no source changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The Spark jar directory of the repository's own build."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase jar directory; "
                 "run from the root of a graft checkout")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return engine, own


def classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + os.pathsep + os.path.join(spark_jars(root), "*")


def build(root):
    """Compile if needed; return the runtime classpath. Raises
    SystemExit when the engine sources are missing or do not compile."""
    engine, own = sources(root)
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from the root of a graft checkout")
    h = hashlib.sha256()
    for p in engine + own:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return classpath(root)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", jars] + engine + own
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(root)


if __name__ == "__main__":
    print(build(os.getcwd()))
