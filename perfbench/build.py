"""Build step of the benchmark: compiles the library sources and the
harness into one class directory under `.bench_build/`.

The library's sbt build resolves Spark from the jar directory named by
`unmanagedBase` in `build.sbt`; this build reads the same directory
(`$SPARK_HOME/jars` first, else the `unmanagedBase` entry) and calls the
Scala compiler shipped among those jars directly, so a run needs no sbt
launcher and writes nothing outside the checkout. The output directory
is keyed by a hash of every source file, so an unchanged tree compiles
once and later runs reuse it.

The classes are packed into one jar, and a class-data-sharing archive of
the classes a short harness run loads (Spark's, mostly) is dumped next to
it: a JVM that maps the archive skips parsing and verifying those classes
and starts Spark about 5 s sooner. Class loading is not what the
benchmark measures, and a JVM that cannot map the archive runs without
it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BuildError(RuntimeError):
    pass


def jvm_flags(tmp):
    """Flags of every harness JVM; temporary files go under `tmp`."""
    # a metaspace sized for Spark's classes up front: growing it from
    # the default costs a full GC each time it fills
    return (["-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}"])


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or build.sbt unmanagedBase")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("library sources (src/main/scala) not found")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return lib + harness


def classpath(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def pack(classes, jar):
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)


def dump_archive(cp, archive, log):
    """Class-data-sharing archive of a short harness run (the shard
    self-test on one seed); on failure the runs go without one."""
    work = os.path.join(BUILD_DIR, "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = subprocess.run(
            ["java"] + jvm_flags(os.path.join(work, "tmp"))
            + [f"-XX:ArchiveClassesAtExit={archive}", "-cp", cp, "perfbench.Harness",
               "shards", "1", "0", "0", work, os.path.join(work, "unused.json")],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=work, timeout=300)
        ok = r.returncode == 0 and os.path.exists(archive)
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("[perfbench] no class-data-sharing archive; runs start without one",
              file=log, flush=True)
        if os.path.exists(archive):
            os.remove(archive)


def build(log=sys.stderr):
    """Compile if needed; return (build_dir, runtime_classpath)."""
    jars = spark_jars_dir()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    cp = classpath(jars)
    if not os.path.exists(os.path.join(out, ".complete")):
        if os.path.isdir(BUILD_DIR):
            for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
                shutil.rmtree(old, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes, exist_ok=True)
        argfile = os.path.join(BUILD_DIR, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", classes, "-classpath", cp] + srcs) + "\n")
        print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "@" + argfile],
            stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError(f"scalac exited {r.returncode}")
        pack(classes, os.path.join(out, "harness.jar"))
        dump_archive(os.path.join(out, "harness.jar") + os.pathsep + cp,
                     os.path.join(out, "app.jsa"), log)
        open(os.path.join(out, ".complete"), "w").close()
    return out, os.path.join(out, "harness.jar") + os.pathsep + cp


def archive_flags(out):
    """JVM flags that map the build's class-data-sharing archive, if any."""
    archive = os.path.join(out, "app.jsa")
    return [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
