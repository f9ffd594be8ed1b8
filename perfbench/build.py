"""Builds the benchmark.

    python3 perfbench/build.py

1. Compiles the engine's main sources (src/main/scala) together with the
   benchmark's own (perfbench/src) with the Scala compiler that ships in the
   Spark distribution's jars, and packs the classes into one jar.
2. Makes a class-data archive of every class a run loads, from one short
   training run. Each run maps it, which takes several seconds of class
   loading off every fresh JVM's set-up. A failed training run fails the
   build, and the stamp is not written, so the next run builds again
   rather than running on without the archive. Each run logs the archive's
   mapping to cds.log in its temporary directory; run.py reports it in the
   run's diag line.

Everything goes to perfbench/out. The build is skipped when a stamp records
a hash of exactly the same sources. Spark is found through SPARK_HOME, else
through the spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
OUT = HERE / "out"
CLASSES = OUT / "classes"
JAR = OUT / "graft-perfbench.jar"
ARCHIVE = OUT / "classes.jsa"
STAMP = OUT / "build.stamp"
HEAP = "3g"
# Spark on JDK 17 needs these when it is not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: no Spark distribution found; set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    engine = REPO / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        sys.exit(f"perfbench: engine sources not found under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def jvm(jars, main_args, tmp, extra=()):
    """The command line of one benchmark JVM. The class path names every
    jar (a class-data archive cannot record a wildcard)."""
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *extra]
    if ARCHIVE.is_file() and not extra:
        cmd += [f"-XX:SharedArchiveFile={ARCHIVE}", f"-Xlog:cds=info:file={tmp}/cds.log"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = [str(JAR)] + sorted(str(j) for j in jars.glob("*.jar"))
    return cmd + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                  "-cp", ":".join(cp), "graft.perf.Main", *main_args]


def build():
    """Build if the sources changed; return the Spark jars directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if STAMP.is_file() and STAMP.read_text() == digest and JAR.is_file():
        return jars
    STAMP.unlink(missing_ok=True)
    for p in (JAR, ARCHIVE):
        p.unlink(missing_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args = OUT / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(CLASSES), "@" + str(args)]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    train(jars)
    STAMP.write_text(digest)
    return jars


def archive_mapped(tmp):
    """Whether the run whose temporary directory is `tmp` mapped the
    class-data archive, from its cds.log."""
    log = Path(tmp) / "cds.log"
    return log.is_file() and "Mapped dynamic region" in log.read_text(errors="replace")


def train(jars):
    tmp = OUT / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = jvm(jars, ["--workload", "trickle", "--seed", "0", "--seconds", "1",
                     "--trace", "0", "--work", str(OUT / "work")],
              tmp, extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off"])
    ok = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode == 0
    shutil.rmtree(tmp, ignore_errors=True)
    if not ok or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        sys.exit("perfbench: the class-data archive's training run failed")


if __name__ == "__main__":
    build()
