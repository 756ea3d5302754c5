"""Build file of the benchmark: compiles the repository's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/bench.jar with the Scala compiler that ships among the Spark
jars the repository builds against (build.sbt's `unmanagedBase`, or
$SPARK_HOME/jars), then records a JVM class-data archive from a short
training run of both workloads, so each benchmark JVM maps the classes
instead of loading them (about 10 s less cold start per run). The build
is skipped when no source changed.

    python3 perfbench/build.py      # from the repository root
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"

# JDK 17 module opens Spark needs outside spark-submit; the same list as
# build.sbt's jdk17AddOpens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


JAVA = "java"
ARCHIVE = OUT / "classes.jsa"


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """Directory of the Spark (and Scala) jars."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            return Path(m.group(1))
    raise BuildError("cannot locate the Spark jars: set SPARK_HOME")


def sources(root=ROOT):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main.relative_to(root)}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(root=ROOT):
    """Builds if needed; returns (jar, jars dir)."""
    jars = spark_jars(root)
    if not jars.is_dir():
        raise BuildError(f"Spark jars directory {jars} does not exist")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp_value = h.hexdigest()
    OUT.mkdir(exist_ok=True)
    classes, jar, stamp = OUT / "classes", OUT / "bench.jar", OUT / "stamp"
    with open(OUT / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == stamp_value and jar.exists():
            return jar, jars
        stamp.unlink(missing_ok=True)
        for p in (classes, jar, ARCHIVE):
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
        classes.mkdir()
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        run([JAVA, "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"], "scalac")
        run(["jar", "cf", str(jar), "-C", str(classes), "."], "jar")
        shutil.rmtree(classes)
        train = OUT / "train"
        shutil.rmtree(train, ignore_errors=True)
        (train / "tmp").mkdir(parents=True)
        run(java_cmd(jar, jars, train, jvm=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
            "--mode", "train", "--workload", "train",
            "--seed", "0", "--seconds", "1", "--work", str(train), "--out", str(train / "raw.json"),
            "--data", str(HERE / "data" / "sf0.01"), "--expected", str(HERE / "gates_expected.tsv")],
            "training run", cwd=train)
        shutil.rmtree(train, ignore_errors=True)
        stamp.write_text(stamp_value)
    return jar, jars


def run(cmd, what, cwd=None):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=cwd)
    if r.returncode != 0:
        raise BuildError(f"{what} failed:\n" + r.stdout[-4000:])


def java_cmd(jar, jars, work, jvm=None, heap="3g"):
    """The command line for perfbench.Main, keeping every temporary file
    under `work`. `jvm` replaces the default extra JVM options (which map
    the class-data archive when the build made one)."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    return [JAVA, *opens, *jvm, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop-tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{jar}:{jars}/*", "perfbench.Main"]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
