"""Compile the engine (`src/main/scala`) together with the benchmark's own
JVM harness (`perfbench/scala`) into one class directory, with the Scala
compiler and Spark jars of `$SPARK_HOME/jars`. Rebuilds only when a
source changed (content hash stamp)."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

JDK_OPENS = [
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 install with its jars/")
    return os.path.join(home, "jars", "*")


def sources(root, bench_dir):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(bench_dir, "scala")]
    if not os.path.isdir(dirs[0]):
        raise BuildError(f"no engine sources under {dirs[0]}")
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root, bench_dir, build_dir):
    """Return the class directory, compiling first if it is stale."""
    jars = spark_jars()
    files = sources(root, bench_dir)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def java_cmd(classes, heap, log_conf, scratch, flags=()):
    """The harness JVM, with the workload's own JVM `flags`. Spark's local
    dirs and Java's temp dir go under `scratch`, so a run writes only
    inside the checkout. Checkpoint files go through the harness's
    `perfbench.LocalFs`, which sets permissions without forking `chmod`,
    and the file-system based checkpoint manager, which renames without
    forking `readlink`."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData"] + list(flags) + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.sql.streaming.checkpointFileManagerClass="
             "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
             "-Dspark.hadoop.fs.file.impl=perfbench.LocalFs",
             f"-Dspark.local.dir={scratch}", f"-Djava.io.tmpdir={scratch}",
             f"-Dlog4j2.configurationFile={log_conf}",
             "-cp", classes + os.pathsep + spark_jars(), "perfbench.Main"])
