"""Build file of the benchmark.

    python3 perfbench/build.py [BUILD_DIR]     # from the repository root

1. Compiles the engine's main sources (`src/main/scala`) and the
   benchmark's own (`perfbench/src`) into one jar with the Scala compiler
   that ships in Spark's jar directory, the jars the engine's sbt build
   compiles against.
2. Runs `perfbench.CdsTraining` once and keeps the JVM's class-data-sharing
   archive it writes at exit, so each benchmark run loads Spark's classes
   from the archive instead of parsing the jars again. A run without the
   archive still works, only with a slower set-up.

BUILD_DIR defaults to $CARGO_TARGET_DIR, else `.bench_build`. A build whose
sources hash to the recorded stamp is skipped.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
HERE = os.path.dirname(os.path.abspath(__file__))

# What spark-submit passes to a JDK 17 driver (JavaModuleOptions).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def default_build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def java_cmd(build_dir, run_dir, main, args, cds="use"):
    """The benchmark JVM: Spark's driver flags, every scratch path inside
    `run_dir`, and the class-data-sharing archive (`cds` = "use" | "dump")."""
    jar = os.path.join(build_dir, "perfbench.jar")
    jsa = os.path.join(build_dir, "perfbench.jsa")
    share = []
    if cds == "dump":
        share = [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    elif os.path.exists(jsa):
        share = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    # -XX:-UsePerfData: no hsperfdata file outside the build directory
    return ["java", *ADD_OPENS, *share, "-XX:-UsePerfData", "-Xmx3g",
            "-XX:ReservedCodeCacheSize=256m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
            main, *args]


def java_env(run_dir):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    return dict(os.environ, GRAFT_WORK_DIR=os.path.join(run_dir, "graftwork"),
                SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))


def sources(root):
    out = []
    for base in SOURCE_DIRS:
        d = os.path.join(root, base)
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {base} not found under {root}")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Compile and train if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    for f in ("build.stamp", "perfbench.jar", "perfbench.jsa"):
        if os.path.exists(os.path.join(build_dir, f)):
            os.remove(os.path.join(build_dir, f))
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
                    os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
                    "-usejavacp", "-nowarn", "-d", classes] + srcs,
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(os.path.join(build_dir, "perfbench.jar"), "w") as z:
        for dp, _, fs in os.walk(classes):
            for f in fs:
                p = os.path.join(dp, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)

    print("build: class-data-sharing training run", file=sys.stderr)
    run_dir = os.path.join(build_dir, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    train = subprocess.run(
        java_cmd(build_dir, run_dir, "perfbench.CdsTraining",
                 [os.path.join(run_dir, "work")], cds="dump"),
        env=java_env(run_dir), cwd=build_dir, stdout=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    if train.returncode != 0:
        print("build: training run failed; runs go without the archive",
              file=sys.stderr)
        if os.path.exists(os.path.join(build_dir, "perfbench.jsa")):
            os.remove(os.path.join(build_dir, "perfbench.jsa"))
    with open(stamp, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build(os.getcwd(), os.path.abspath(sys.argv[1]) if len(sys.argv) > 1
          else default_build_dir())
