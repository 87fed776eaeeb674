#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark (`perfbench/src`)
together with the Scala compiler that ships in Spark's jar directory
(`$SPARK_HOME/jars`, or the `jars` next to the `bin` of `spark-submit` on
the PATH) into `.bench_build/classes`.
A build is reused while the sources are unchanged.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    if not PROGRAM.is_dir():
        raise SystemExit(f"program sources not found under {PROGRAM}")
    return sorted(PROGRAM.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def spark_jars():
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and (Path(d) / "spark-submit").is_file():
            homes.append((Path(d) / "spark-submit").resolve().parent.parent)
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    raise SystemExit("Spark not found: set SPARK_HOME or put Spark's bin directory on the PATH")


def classpath(*dirs):
    return os.pathsep.join([str(d) for d in dirs] + [str(spark_jars() / "*")])


def java_cmd(classes, main, heap="3g"):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap size keeps the collector's sizing out of run-to-run
    # differences; it is not pre-touched, so the resident set follows use
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath(classes, RESOURCES), main]


def build():
    """Compile if needed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-cp", classpath()] + [str(f) for f in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build failed")
    (staging / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
