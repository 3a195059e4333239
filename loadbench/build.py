"""Builds the program and the benchmark harness from source.

    python3 loadbench/build.py      # prints the build directory

Compiles the repository's src/main/scala together with loadbench/src using
the Scala compiler that ships among Spark's jars ($SPARK_HOME/jars, else the
directory build.sbt names as unmanagedBase), with those jars as the
classpath, and packs the classes into loadbench.jar. It then runs one short
search_hybrid pass to record a class-data-sharing archive (loadbench.jsa),
which cuts every later run's JVM start-up. Output goes to
.bench_build/loadbench-<source hash>/ at the repository root; a build whose
sources are unchanged is reused, and older builds are removed.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
HEAP = "2g"         # fixed JVM heap (-Xms = -Xmx)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    prog_java = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog + bench, prog_java


def run(cmd, **kw):
    if subprocess.run(cmd, stdout=sys.stderr, **kw).returncode != 0:
        raise SystemExit(f"build: {' '.join(cmd[:4])} ... failed")


def java(out, tmp, extra=()):
    """The benchmark JVM's command line, up to the main class."""
    jsa = os.path.join(out, "loadbench.jsa")
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
            + share + list(extra)
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
            + ["-cp", os.pathsep.join([os.path.join(out, "loadbench.jar"),
                                       os.path.join(spark_jars(), "*")]),
               "loadbench.Main"])


def train(out):
    """One short run whose loaded classes are dumped into the archive."""
    tmp = os.path.join(out, "train")
    os.makedirs(os.path.join(tmp, "jvm-tmp"))
    try:
        run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", "search_hybrid",
             "--seed", "0", "--out", os.path.join(tmp, "inputs")])
        run(java(out, os.path.join(tmp, "jvm-tmp"),
                 [f"-XX:ArchiveClassesAtExit={os.path.join(out, 'loadbench.jsa')}"])
            + ["--workload", "search_hybrid", "--seed", "0", "--seconds", "1", "--trace", "0",
               "--inputs", os.path.join(tmp, "inputs"), "--work", os.path.join(tmp, "work"),
               "--cpus", str(len(os.sched_getaffinity(0))), "--setups", "1", "--warmup", "0"],
            stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build():
    """Compiles if needed; returns the build directory."""
    scala, java_srcs = sources()
    h = hashlib.sha256()
    for p in scala + java_srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    name = "loadbench-" + h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, name)
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    # scalac reads the Java sources for their signatures; javac compiles them
    run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp] + scala + java_srcs)
    if java_srcs:
        run(["javac", "-nowarn", "-d", classes, "-cp", classes + os.pathsep + cp] + java_srcs)
    run(["jar", "cf", os.path.join(out, "loadbench.jar"), "-C", classes, "."])
    shutil.rmtree(classes)
    train(out)
    with open(os.path.join(out, "BUILD_OK"), "w") as f:
        f.write(name + "\n")
    for old in os.listdir(BUILD_DIR):
        if old.startswith("loadbench-") and old != name:
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
