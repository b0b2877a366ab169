#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) and the benchmark harness
(``perfbench/src``) with the Scala compiler that ships in
``$SPARK_HOME/jars``, into ``.bench_build/perfbench.jar`` at the repository
root. It rebuilds only when a source file changed since the last build.

    python3 perfbench/build.py          # build if needed, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
JAR = OUT / "perfbench.jar"
# class-data-sharing archive of a run's loaded classes; tied to one build
CDS = OUT / "classes.jsa"


# Spark 4 on JDK 17 outside spark-submit (the same list as the repository build)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# no hsperfdata file: a run writes nothing outside its checkout
JVM_FLAGS = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + \
    [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install with a jars/ directory")
    return Path(home) / "jars"


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def classpath() -> str:
    return os.pathsep.join([str(JAR)] + [str(j) for j in sorted(spark_jars().glob("*.jar"))])


def build() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = OUT / "stamp"
    if JAR.is_file() and CDS.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath()

    compiler = sorted(jars.glob("scala-compiler-*.jar")) + sorted(jars.glob("scala-library-*.jar")) \
        + sorted(jars.glob("scala-reflect-*.jar"))
    if len(compiler) < 3:
        raise SystemExit(f"perfbench: no Scala compiler jars in {jars}")
    OUT.mkdir(exist_ok=True)
    tmp = OUT / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(str(c) for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(tmp), f"@{args}"]
    print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: scalac failed with exit code {r.returncode}")
    CDS.unlink(missing_ok=True)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp, ignore_errors=True)
    prime_cds()
    stamp_file.write_text(stamp)
    return classpath()


def prime_cds() -> None:
    """Dump the classes a Spark session start loads into the CDS archive, so
    every measured JVM maps them instead of loading them from the jars; this
    takes seconds off each run's session start."""
    work = OUT / "prime"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    cmd = ["java", f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off", "-Xmx2g",
           f"-Djava.io.tmpdir={work}", *JVM_FLAGS, "-cp", classpath(), "perfbench.Main",
           "--workload", "prime", "--seed", "0", "--work", str(work)]
    r = subprocess.run(cmd, capture_output=True, text=True, env=dict(os.environ, SPARK_LOCAL_DIRS=str(work)))
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not CDS.is_file():
        # fatal, and no stamp is written: the next run retries the build
        CDS.unlink(missing_ok=True)
        sys.stderr.write((r.stdout + r.stderr)[-4000:])
        raise SystemExit(f"perfbench: priming the class-data-sharing archive failed (exit code {r.returncode})")


if __name__ == "__main__":
    print(build())
