"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/src`) into
`.bench_build/build-<hash>/program.jar`, keyed by a hash of every source
file, so a checkout builds once and reuses the jar afterwards.

The build also dumps a class-data-sharing archive (`app.jsa`) from one
short harness run. Every run maps it at JVM start (`-Xshare:on`: a JVM
that cannot map it exits instead of loading classes the ordinary way),
which takes Spark's class loading (several seconds per JVM) out of every
run's set-up. A failed dump fails the build, so there is one run path.

The compiler and the Spark runtime both come from the jar directory the
program's own `build.sbt` names as `unmanagedBase` (falling back to
`$SPARK_HOME/jars`); nothing is resolved or downloaded.

    python3 perfbench/build.py     # prints the runtime classpath
"""
import fcntl
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


HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these opens (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, out, jar_cp):
        self.jar = os.path.join(out, "program.jar")
        self.jsa = os.path.join(out, "app.jsa")
        self.classpath = self.jar + os.pathsep + jar_cp

    def java(self, work, extra=(), main="graft.perfbench.Harness"):
        """The JVM command line, up to and including the main class."""
        cmd = ["java"]
        for p in OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        if not extra:
            cmd += [f"-XX:SharedArchiveFile={self.jsa}", "-Xshare:on"]
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        return cmd + list(extra) + [
            "-XX:-UsePerfData",
            f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", self.classpath, main]


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _dump_archive(b):
    """The harness's self-test (a small Spark SQL session) writes the
    class-data-sharing archive; classes it did not load load the
    ordinary way."""
    work = os.path.join(os.path.dirname(b.jar), "dump")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = b.java(work, [f"-XX:ArchiveClassesAtExit={b.jsa}"],
                 main="graft.perfbench.SelfTest")
    with open(os.path.join(BUILD_DIR, "cds-dump.log"), "w") as dump_log:
        r = subprocess.run(cmd, stdout=dump_log, stderr=dump_log, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(b.jsa):
        raise BuildError(f"class-data-sharing dump exited with {r.returncode}; "
                         "log: .bench_build/cds-dump.log")


def jar_dir(root=ROOT):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt: not a checkout of the program")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no jar directory with Spark and the Scala compiler")


def sources(root=ROOT):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return prog + harness


def build(root=ROOT, log=sys.stderr):
    """Returns the Build, compiling first if needed."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.join(root, "build.sbt")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "build-" + h.hexdigest()[:16])
    jar_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "BUILT")):
            return Build(out, jar_cp)
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-classpath", jar_cp, "-d", classes] + srcs,
            stdout=log, stderr=log, timeout=800)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            raise BuildError(f"scalac exited with {r.returncode}")
        b = Build(out, jar_cp)
        _jar(classes, b.jar)
        shutil.rmtree(classes)
        print("perfbench: dumping the class-data-sharing archive", file=log, flush=True)
        try:
            _dump_archive(b)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        open(os.path.join(out, "BUILT"), "w").close()
        for old in glob.glob(os.path.join(BUILD_DIR, "build-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return b


if __name__ == "__main__":
    try:
        print(build().classpath)
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
