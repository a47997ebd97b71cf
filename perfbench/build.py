"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
with the Scala compiler that ships in the Spark distribution, so no
build tool and no network is needed. A build is reused while the
sources hash the same.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
COMPILE_TIMEOUT_S = 840


def spark_jars(root):
    """$SPARK_HOME/jars, else the Spark jar directory the sbt build
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no Spark jars")
    return found.group(1)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        found += sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
    return found


def jvm_flags(tmp):
    """Flags that keep a JVM's scratch files inside `tmp`."""
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def ensure(root):
    """Return the classpath of the program and the benchmark, compiling
    first if their sources changed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) under "
                         f"{root}; run from the repository root")
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    jars = spark_jars(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    classpath = f"{classes}:{os.path.join(jars, '*')}"
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(out, "compile-tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{j}-2.13*.jar"))[0]
                        for j in ("compiler", "library", "reflect"))
    cmd = (["java", "-Xss8m", "-Xmx3g"] + jvm_flags(tmp) +
           ["-cp", compiler, "scala.tools.nsc.Main", "-nowarn", "-d", classes,
            "-classpath", os.path.join(jars, "*"), f"@{argfile}"])
    done = subprocess.run(cmd, cwd=root, timeout=COMPILE_TIMEOUT_S,
                          stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(ensure(os.getcwd()))
