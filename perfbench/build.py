"""Build file of the benchmark: compiles the engine's main sources and the
benchmark harness with the Scala compiler that ships in Spark's jar
directory, into <root>/.bench_build/classes-<hash>. A build is reused
while no source file changes.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    resources = sorted(p for p in glob.glob(
        os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
        if os.path.isfile(p))
    return main + harness, resources


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars in {SPARK_JARS}")
    return jars


def build() -> str:
    """Return the classes directory, compiling it first if needed."""
    scala, resources = _sources()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_classpath())
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp] + scala,
            stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
