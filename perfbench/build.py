#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/perfbench-<hash>.jar
(a jar, not a class directory, so the JVM can archive its classes).

The hash covers every source file, so a changed program or benchmark
gets a fresh build and an unchanged one is reused. The jar is written
under a temporary name and renamed into place only when the compile
succeeded.

Usage: python3 perfbench/build.py   (prints the jar's path)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


class BuildError(Exception):
    pass


def spark_classpath():
    """Spark's jars: $SPARK_HOME/jars, else beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise BuildError(f"no Spark jars with a Scala compiler under {home}/jars")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"),
                                      recursive=True) if os.path.isfile(p))
    return prog + bench, res


def build():
    """Compile if needed; return the jar."""
    jars = spark_classpath()
    srcs, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jar = os.path.join(OUT, f"perfbench-{h.hexdigest()[:16]}.jar")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(jar):
            return jar
        tmp = f"{jar}.classes{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.pathsep.join(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        base = os.path.join(ROOT, "src/main/resources")
        with zipfile.ZipFile(f"{jar}.tmp", "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, files in os.walk(tmp):
                for n in sorted(files):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, tmp))
            for p in res:
                z.write(p, os.path.relpath(p, base))
        shutil.rmtree(tmp)
        os.replace(f"{jar}.tmp", jar)
        return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
