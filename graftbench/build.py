"""Builds the program and the benchmark's JVM program from source.

The program's sources (`src/main/scala`) and the benchmark's Scala
sources (`graftbench/src`) are compiled together with the Scala compiler
that ships with Spark and packed, with the program's resources, into
`<build dir>/graft.jar`. A class-data-sharing archive of the classes a
small Spark job loads (`graftbench.Warm`) is then dumped next to it, so
each benchmark JVM starts without parsing Spark's classes again. A stamp
of the sources skips the build when nothing changed. Spark is found
through SPARK_HOME, else through the jars directory the repository's
build.sbt names. Usage: python3 graftbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "graftbench")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        text = ""
        if os.path.exists(sbt):
            with open(sbt) as fh:
                text = fh.read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars found (looked in '{jars}'); set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def classpath():
    """Runtime classpath: the program's jar, then Spark."""
    return os.pathsep.join([os.path.join(build_dir(), "graft.jar"), spark_jars()])


def archive():
    return os.path.join(build_dir(), "graft.jsa")


def java(tmp, heap="2g"):
    """The JVM command line up to the main class: fixed heap, parallel
    collector, the module openings Spark needs, the program's classpath
    and, once it exists, the class-data-sharing archive."""
    # A fixed-size heap under the parallel collector keeps heap sizing and
    # collection pauses from varying between runs of the same input.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    if os.path.exists(archive()):
        cmd.append(f"-XX:SharedArchiveFile={archive()}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath()]


def pack(classes, jar):
    """Packs the compiled classes and the program's resources into `jar`."""
    resources = os.path.join(ROOT, "src", "main", "resources")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, resources):
            for d, _, files in sorted(os.walk(base)):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, base))


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in (stamp_file, archive()):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    pack(out, os.path.join(build_dir(), "graft.jar"))
    print("[build] dumping the class-data-sharing archive", file=log, flush=True)
    warm = os.path.join(build_dir(), "warm")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(warm)
    cmd = java(warm) + [f"-XX:ArchiveClassesAtExit={archive()}", "graftbench.Warm", warm]
    with open(os.path.join(build_dir(), "warm.log"), "w") as out:
        r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=warm)
    shutil.rmtree(warm, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive()):
        raise SystemExit(f"archive dump failed (exit {r.returncode}); see {build_dir()}/warm.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
