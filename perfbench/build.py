"""Build step: compile the program's main sources together with the
benchmark's service harness (perfbench/scala) into one class directory.

The Spark jars (which carry the Scala compiler and library) are the ones
the program's own build.sbt names as its unmanagedBase, or
$SPARK_HOME/jars. Output goes to .bench_build/perfbench/classes-<hash>
under the checkout, keyed by a hash of every source file, so the first run
of a checkout compiles and later runs reuse the classes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# the JVM flags Spark 4 needs on JDK 17 outside spark-submit (the same
# list the program's build.sbt passes to forked runs)
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


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources missing: {main}")
    out = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    jars = jar_dir()
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs,
        # cwd = the output dir: scalac puts "." on its class path, and the
        # checkout's perfbench/scala directory would read as a package
        cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").write(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in os.listdir(BUILD):  # classes built from earlier sources
        if old.startswith("classes-") and ".tmp" not in old and old != os.path.basename(classes):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def java_command(classes, heap="2g", tmpdir=None):
    """The `java ...` prefix that runs a class from the built tree."""
    cmd = ["java", f"-Xmx{heap}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jar_dir(), "*")]
    return cmd


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
