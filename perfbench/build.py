"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) straight through the
Scala 2.13 compiler that ships with Spark, into a content-addressed
directory under `.bench_build/`. No sbt, no dependency resolution: the
only inputs are the checkout and the Spark installation named by
`SPARK_HOME` (or found through `spark-submit` on the PATH).

    python3 perfbench/build.py          # prints the classes directory

A build whose sources have not changed is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]

# The same module openings the repo's own build passes to forked JVMs:
# Spark 4 on JDK 17 needs them when no spark-submit launcher adds them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark installation: set SPARK_HOME")
    found = sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in found):
        raise BuildError("the Spark installation carries no scala-compiler jar")
    return found


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    if not out:
        raise BuildError("no Scala sources found")
    return sorted(out)


def build(quiet=False):
    """Compile if needed; return (classes_dir, classpath list)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(BUILD_DIR, "classes-" + key)
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, jars
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-tmp-", dir=BUILD_DIR)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(jars)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-nowarn", "@" + argfile]
    if not quiet:
        print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars


def java_command(classes, jars, heap="2g"):
    """The JVM launch prefix every benchmark process uses."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opens, "-cp", ":".join([classes] + jars)]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
