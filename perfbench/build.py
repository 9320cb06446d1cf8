"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/harness) into one classes directory with
the Scala compiler that ships with the Spark distribution. No sbt, no
network, and nothing written outside the build directory.

The classes directory is keyed by a hash of every compiled source, so an
unchanged checkout builds once and a changed one rebuilds.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

# the module list the engine's build passes to every forked JVM
# (build.sbt's jdk17AddOpens); Spark 4 needs them outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the engine's own build
    names (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no "
                         "unmanagedBase)")
    return m.group(1)


def java_opts():
    # no hsperfdata file in the system temp directory
    opts = ["-XX:-UsePerfData"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala",
                                           "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "harness",
                                            "*.scala")))
    return engine, harness


def source_hash(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(root, build_dir, log=sys.stderr):
    """Return the classes directory for the checkout at `root`, compiling
    it first when no build of the current sources exists."""
    engine, harness = sources(root)
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala;"
                         " run from the root of a full checkout")
    key = source_hash(engine + harness, root)
    classes = os.path.join(build_dir, f"classes-{key}")
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(engine + harness) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss16m"] + java_opts() + [
           "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    os.rename(tmp, classes)
    # one build per checkout is kept; older source states are dropped
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    print(f"[perfbench] compiled {len(engine)} engine + {len(harness)} "
          f"harness sources in {time.time() - t0:.1f} s", file=log)
    return classes


def classpath(root, classes):
    return f"{classes}:{os.path.join(spark_jars(root), '*')}"
