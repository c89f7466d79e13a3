"""Build of the library and the benchmark runner.

Compiles `src/main/scala` and `dwbench/scala` with the Scala compiler that
ships among Spark's jars into `.bench_build/dwbench/classes`, and reuses that
build while no source file changed. Spark's jars are found through
`SPARK_HOME`, or through `spark-submit` on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "dwbench")
CLASSES = os.path.join(BUILD, "classes")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
RUNNER_SRC = os.path.join(HERE, "scala")

# what `java` needs to run Spark 4 on JDK 17 outside spark-submit (the
# same list the repository's sbt build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise RuntimeError("no Spark installation found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in (LIB_SRC, RESOURCES, RUNNER_SRC):
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile when the sources changed; return the runtime class path."""
    jars = spark_jars()
    files = sources()
    stamp = os.path.join(BUILD, "stamp")
    want = digest(files)
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        if os.path.isdir(CLASSES):
            shutil.rmtree(CLASSES)
        os.makedirs(CLASSES)
        scala = [f for f in files if f.endswith(".scala")]
        print(f"dwbench: compiling {len(scala)} Scala files", file=log, flush=True)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", CLASSES,
               "-d", CLASSES] + scala
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise RuntimeError("compilation failed:\n" + r.stdout[-4000:])
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(jars, "*")])


def java_command(classpath, heap, main, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no perf-data file: the JVM would write it under the system temp dir
    return (["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main] + list(args))


if __name__ == "__main__":
    print(build())
