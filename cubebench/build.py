#!/usr/bin/env python3
"""Build file of the cube benchmark.

Compiles two class trees with the Scala compiler that ships in the Spark
distribution (no sbt, so nothing is written outside the checkout) and
packs each into a jar:

  <build>/program   the program under test: ../src/main/scala + resources
  <build>/harness   the benchmark harness:  cubebench/src + resources

Each tree carries a stamp (a hash of its sources and of the classpath it
was compiled against) and is rebuilt only when the stamp changes. The
build directory is $CARGO_TARGET_DIR when set, else .bench_build; both
are relative to the checkout root.

    python3 cubebench/build.py
"""
import glob
import hashlib
import zipfile
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class BuildError(Exception):
    pass


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_flags(heap="3g"):
    """Flags of the benchmark JVMs."""
    # no hsperfdata file: it would be written outside the checkout
    flags = [f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
    for m in JDK17_OPENS:
        flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return flags


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    if not jars:
        raise BuildError("no jars under $SPARK_HOME/jars")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def _sources(src_dirs):
    out = []
    for d in src_dirs:
        for p in sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)):
            out.append(p)
    return out


def _resource_files(res_dirs):
    out = []
    for d in res_dirs:
        for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
            if os.path.isfile(p):
                out.append((d, p))
    return out


def _stamp(files, classpath):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for c in classpath:
        h.update(os.path.basename(c).encode())
        tree_stamp = os.path.join(os.path.dirname(c), "stamp")
        if os.path.exists(tree_stamp):
            h.update(open(tree_stamp).read().encode())
    return h.hexdigest()


def _compile(name, src_dirs, res_dirs, classpath, log):
    """Compile one tree into a jar; returns the jar's path."""
    out = os.path.join(build_dir(), name)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, name + ".jar")
    srcs = _sources(src_dirs)
    if not srcs:
        raise BuildError(f"{name}: no Scala sources under {src_dirs}")
    res = _resource_files(res_dirs)
    stamp = _stamp(srcs + [p for _, p in res], classpath)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    t0 = time.time()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(classpath), "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"{name}: scalac failed\n{r.stdout[-4000:]}")
    for base, p in res:
        dst = os.path.join(classes, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(glob.glob(os.path.join(classes, "**", "*"), recursive=True)):
            if os.path.isfile(p):
                z.write(p, os.path.relpath(p, classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[build] {name}: {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=log, flush=True)
    return jar


def class_archive(classpath):
    """Path of the class-data-sharing archive of this build: named after the
    harness tree's stamp, which covers the program's and Spark's jars too."""
    with open(os.path.join(os.path.dirname(classpath[0]), "stamp")) as f:
        return os.path.join(build_dir(), f"cds-{f.read()[:16]}.jsa")


def build(log=sys.stderr):
    """Build the program and the harness; returns the runtime classpath."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog_src):
        raise BuildError("program sources missing (src/main/scala)")
    jars = spark_jars()
    program = _compile("program", [prog_src],
                       [os.path.join(ROOT, "src", "main", "resources")], jars, log)
    harness = _compile("harness", [os.path.join(BENCH_DIR, "src")],
                       [os.path.join(BENCH_DIR, "resources")], [program] + jars, log)
    return [harness, program] + jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
