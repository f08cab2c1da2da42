"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/src`) and its self-tests (`perfbench/test`) with the Scala
compiler that ships among Spark's jars, into `.bench_build/perfbench`.
Then dumps the slice's oracle SQL for oracle.py. A build is skipped when
the stamp of every source file is unchanged.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
ORACLE_SQL = os.path.join(OUT, "oracle_sql.json")
SCALA = "2.13.17"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The Spark jars the sbt build compiles against: `$SPARK_HOME/jars`,
    else the `unmanagedBase` directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        sys.exit(f"perfbench: no Spark jars with scala-compiler-{SCALA}.jar in {jars}")
    return jars


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def jvm_flags():
    """Spark's JDK 17 module opens, as build.sbt passes them."""
    flags = []
    for p in JDK_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC"]


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True) +
                 glob.glob(os.path.join(BENCH, "test", "**", "*.scala"), recursive=True))
    return engine + own


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    jars = spark_jars()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES,
                    "@" + args_file], check=True)
    subprocess.run(["java", *jvm_flags(), "-cp", classpath(),
                    "graft.perfbench.OracleSql", ORACLE_SQL], check=True)
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
