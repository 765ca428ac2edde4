"""Build file of the benchmark: compiles the program's `src/main/scala` and
the harness in `perfbench/harness` from source with the Scala compiler that
ships with the Spark jars, and gives the JVM command line that
`build.sbt`'s forked `run` uses.

Run from the root of a checkout: `python3 perfbench/build.py` prints the
class directories. Output goes to `.bench_build/<part>-<source hash>`, so
a second build of the same sources is free.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
# build.sbt's add-opens for Spark 4 on JDK 17 outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def _sources(root, d):
    return sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))


def _sbt_setting(root, pattern):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise SystemExit(f"perfbench: build.sbt has no match for {pattern}")
    return m.group(1)


def spark_jars(root):
    """The jar directory `build.sbt` names as its `unmanagedBase`."""
    return _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def spark_classpath(root):
    return sorted(glob.glob(os.path.join(spark_jars(root), "*.jar")))


def driver_mem():
    """SPARK_DRIVER_MEM, or the tier-1 default: half of RAM, 2 to 8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def _compile(root, name, files, classpath):
    """Compile `files` once per content hash; returns the class directory."""
    h = hashlib.sha256()
    for f in files + classpath:
        h.update(os.path.relpath(f, root).encode())
        if f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    jar = lambda n: os.path.join(spark_jars(root), f"{n}-{scala}.jar")
    compiler_cp = ":".join(jar(n) for n in ["scala-compiler", "scala-library", "scala-reflect"])
    argfile = os.path.join(root, BUILD_DIR, f"scalac-{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", ":".join(classpath), "-d", tmp] + files))
    rc = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", compiler_cp, "scala.tools.nsc.Main",
                         "@" + argfile], stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: scalac failed on {name} with exit code {rc}")
    os.replace(tmp, out)
    return out


def build(root):
    """Compile the program, then the harness against it; returns the
    class path entries both need at run time."""
    program = _sources(root, "src/main/scala")
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    main = _compile(root, "program", program, spark_classpath(root))
    harness = _compile(root, "harness", _sources(root, "perfbench/harness"),
                       [main] + spark_classpath(root))
    return [harness, main]


def java_cmd(root, classes, main, args):
    work = os.path.join(root, BUILD_DIR)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{driver_mem()}",
            "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.sql.codegen.cache.maxEntries=5000",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            "-cp", ":".join(classes + spark_classpath(root)),
            main, *args]


if __name__ == "__main__":
    print(":".join(build(os.getcwd())))
