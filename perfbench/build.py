"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` plus ``src/main/resources``)
together with the benchmark's own Scala sources (``perfbench/src``) into
``.bench_build/classes-<digest>``, using the Scala compiler that ships in
Spark's jar directory. No build tool, cache or network is involved, and
nothing is written outside ``.bench_build``. A finished build of the same
sources is reused.

    python3 perfbench/build.py          # from the repository root
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "src/main/resources", "perfbench/src")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the repository's build file passes).
JAVA_OPENS = [
    opt
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")
]


class BuildError(Exception):
    pass


def spark_jars(root="."):
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit,
    else the ``unmanagedBase`` the repository's build file names."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        m = None
        sbt = os.path.join(root, "build.sbt")
        if os.path.isfile(sbt):
            with open(sbt) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def source_files(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            out.extend(os.path.join(dirpath, n) for n in names)
    return sorted(out)


def source_digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; return (classes dir, seconds spent building)."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BuildError("no src/main/scala here: run from the repository root")
    jars = spark_jars(root)
    digest = source_digest(root)
    base = os.path.join(root, BUILD_DIR)
    classes = os.path.join(base, "classes-" + digest)
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes, 0.0
        t0 = time.time()
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [p for p in source_files(root) if p.endswith(".scala")]
        cp = os.path.join(jars, "*")
        log = os.path.join(base, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                 "-classpath", cp, "-d", tmp, "-nowarn",
                 "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + scala,
                stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise BuildError("compilation failed (see %s)" % log)
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        os.rename(tmp, classes)
        return classes, time.time() - t0


if __name__ == "__main__":
    try:
        path, secs = build(os.getcwd())
    except BuildError as e:
        sys.exit("perfbench build: %s" % e)
    print("%s (%.1f s)" % (path, secs))
