#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's library sources (``src/main/scala``) and the benchmark's
own Scala sources (``perfbench/scala``) with the Scala compiler that ships
in Spark's jar directory, packs each into a jar under
``$CARGO_TARGET_DIR/graftbench`` (default ``.bench_build/graftbench``) in the
current directory, then makes one class-loading run (``graftbench.Train``)
that leaves a JVM class-data-sharing archive. Benchmark runs require that
archive (``-Xshare:on``): their JVM and Spark context start without
re-loading and re-verifying Spark's classes, about 8 s sooner per run on
4 vCPUs, and a run whose archive cannot be used fails instead of starting
slower. Each stage is skipped when a stamp of its inputs' contents is
unchanged.

Usage, from the repository root:  python3 perfbench/build.py
Prints the java command prefix of a benchmark run on success.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(repo_root):
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` directory
    that the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(repo_root, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jar_dir}")
    return jars


def sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(name, srcs, out_dir, classpath, jars, extra_stamp):
    stamp_file = out_dir + ".stamp"
    stamp = stamp_of(srcs, extra_stamp)
    if os.path.isdir(out_dir) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return stamp
    if os.path.isdir(out_dir):
        for dirpath, dirs, files in os.walk(out_dir, topdown=False):
            for f in files:
                os.remove(os.path.join(dirpath, f))
            for d in dirs:
                os.rmdir(os.path.join(dirpath, d))
    os.makedirs(out_dir, exist_ok=True)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = out_dir + ".args"
    with open(args_file, "w") as f:
        f.write("-nowarn\n-d\n" + out_dir + "\n-classpath\n" +
                os.pathsep.join(classpath) + "\n" + "\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"compiling {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return stamp


def pack(classes_dir, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in sorted(os.walk(classes_dir)):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, classes_dir))
    os.replace(tmp, jar)


def java_prefix(classpath, work, archive_flags):
    """The java command of a benchmark JVM, up to the main class."""
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-XX:-UseDynamicNumberOfCompilerThreads", *archive_flags]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath)]


def train(target, classpath, stamp):
    """Class-loading run that writes the JVM's class-data-sharing archive;
    returns the JVM flags that require it."""
    archive = os.path.join(target, "graftbench.jsa")
    use = [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]
    stamp_file = archive + ".stamp"
    if os.path.exists(archive) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return use
    for p in (archive, stamp_file):
        if os.path.exists(p):
            os.remove(p)
    work = os.path.join(target, "train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_prefix(classpath, work, [f"-XX:ArchiveClassesAtExit={archive}"])
    r = subprocess.run(cmd + ["graftbench.Train", work], stdout=subprocess.DEVNULL,
                       stderr=subprocess.PIPE, text=True)
    if r.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(r.stderr[-4000:])
        raise BuildError("class-loading run failed")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return use


def build(repo_root):
    """Compile, pack and train; return the classpath of a run and the JVM
    flags that require the class-data archive."""
    lib_src = os.path.join(repo_root, "src", "main", "scala")
    bench_src = os.path.join(HERE, "scala")
    lib = sources(lib_src)
    if not lib:
        raise BuildError(f"no graft sources under {lib_src}")
    bench = sources(bench_src)
    if not bench:
        raise BuildError(f"no benchmark sources under {bench_src}")
    jars = spark_jars(repo_root)
    target = os.path.join(repo_root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                          "graftbench")
    lib_out = os.path.join(target, "lib-classes")
    bench_out = os.path.join(target, "bench-classes")
    jar_key = "\n".join(os.path.basename(j) for j in jars)
    lib_stamp = compile_stage("graft", lib, lib_out, jars, jars, jar_key)
    bench_stamp = compile_stage("graftbench", bench, bench_out, [lib_out] + jars,
                                jars, jar_key + lib_stamp)
    lib_jar = os.path.join(target, "graft.jar")
    bench_jar = os.path.join(target, "graftbench.jar")
    jar_stamp = os.path.join(target, "jars.stamp")
    if not (os.path.exists(jar_stamp) and open(jar_stamp).read().strip() == bench_stamp):
        pack(lib_out, lib_jar)
        pack(bench_out, bench_jar)
        with open(jar_stamp, "w") as f:
            f.write(bench_stamp + "\n")
    classpath = [bench_jar, lib_jar, os.path.join(os.path.dirname(jars[0]), "*")]
    return classpath, train(target, classpath, bench_stamp)


if __name__ == "__main__":
    try:
        cp, flags = build(os.getcwd())
        print(" ".join(java_prefix(cp, os.path.join(os.getcwd(), ".bench_work"), flags)))
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
