#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark harness (`perfbench/src`) into `perfbench/.build/bench.jar`
with the Scala compiler that ships among Spark's jars, then records a
class-data-sharing archive from one small harness run, so that every
benchmark JVM starts without re-parsing Spark's classes. The build is
skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
JAR = os.path.join(OUT, "bench.jar")
CDS = os.path.join(OUT, "classes.jsa")
# the program's heap: what the root build.sbt gives a forked run
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
ADD_OPENS = [  # what spark-submit passes on JDK 17 (see the root build.sbt)
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars() -> str:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one beside the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler at {jars!r}")
    return jars


def sources() -> list:
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                   recursive=True))


def classpath(jars: str) -> str:
    # explicit jar list, no wildcard: a class-data-sharing archive is only
    # valid for the exact class path it was recorded with
    return os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def java_cmd(args: list, tmp: str, record: bool = False) -> list:
    """The harness JVM: Spark's JDK 17 module opens, a private tmpdir, and
    the class-data-sharing archive (used, or recorded when `record`)."""
    share = ([f"-XX:ArchiveClassesAtExit={CDS}"] if record else
             [f"-XX:SharedArchiveFile={CDS}", "-Xshare:auto"])
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xss8m"] + share +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-cp", classpath(spark_jars()),
             "perfbench.Main"] + args)


def _record_cds() -> None:
    """One tiny ELT pass with archiving on: the archive then holds the
    classes a session start and a first pass load."""
    import gen
    work = os.path.join(OUT, "cds-run")
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    gen.taxi_drops(0, 2000, data)
    args = ["--workload", "elt_taxi", "--data", data, "--work", work,
            "--passes", "1", "--trace", "0", "--cpus", "2"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    r = subprocess.run(java_cmd(args, tmp, record=True), cwd=work, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: recording the class-data-sharing archive failed")


def build() -> None:
    """Compile and record the archive unless the sources are unchanged."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join(sorted(os.listdir(jars))).encode())
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    _record_cds()
    with open(stamp_file, "w") as f:
        f.write(stamp)


def source_digest() -> str:
    """Digest of the last build's sources (the checkout need not be a git
    repository, so this stands in for a commit id)."""
    p = os.path.join(OUT, "stamp")
    return open(p).read()[:12] if os.path.exists(p) else "unbuilt"


if __name__ == "__main__":
    build()
    print(JAR)
