"""Build definition of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution, packs them into perfbench.jar, and records a
class-data-sharing archive (app.jsa) from one training run of every workload,
which cuts JVM and Spark start-up of each run by several seconds. Everything
goes into .bench_build/<hash of every source>/, so a changed source rebuilds
and an unchanged one does not.
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m",
    "-XX:+UseG1GC", "-Xmn128m",
    # JVM warnings to standard error: standard output carries the result
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
] + [opt for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def threads():
    return len(os.sched_getaffinity(0))


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def _scala_files(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def sources():
    program = _scala_files(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + _scala_files(os.path.join(HERE, "src"))


def archive(out):
    return os.path.join(out, "app.jsa")


def java(out, main_class, args, extra_opts=()):
    """The command that runs `main_class` of the build in `out`."""
    cp = os.path.join(out, "perfbench.jar") + os.pathsep + os.path.join(spark_jars(), "*")
    work = args[args.index("--work") + 1]
    return (["java"] + JVM_OPTS + list(extra_opts) +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, main_class] + args)


def _run(cmd, what):
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError(f"{what} failed")


def build():
    """Returns the build dir, building it first when it does not exist."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    done = os.path.join(out, "done")
    if os.path.exists(done):
        return out
    # built in place: the archive is valid only for the jar path it was made with
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print(f"building {len(srcs)} sources into {os.path.relpath(out, ROOT)}", file=sys.stderr)
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs, "scalac")
    _run(["jar", "cf", os.path.join(out, "perfbench.jar"), "-C", classes, "."], "jar")
    shutil.rmtree(classes)
    work = os.path.join(out, "train")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        _run(java(out, "perfbench.Train",
                  ["--threads", str(threads()), "--work", work, "--repo", ROOT],
                  [f"-XX:ArchiveClassesAtExit={archive(out)}"]), "training run")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    open(done, "w").close()
    # builds of older sources are of no further use
    for d in os.listdir(BUILD):
        if d.startswith("build-") and os.path.join(BUILD, d) != out:
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
