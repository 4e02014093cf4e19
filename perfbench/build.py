"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's JVM harness
(`perfbench/jvm`) into `.bench_build/classes`, with the Scala compiler
and the Spark jars the engine's own build uses (`build.sbt`'s
`unmanagedBase`, or `$SPARK_HOME/jars`).

The build is skipped when a stamp of every source file matches the last
build. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/jvm"]


def spark_jars(root="."):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root="."):
    out = []
    for s in SOURCES:
        out += glob.glob(os.path.join(root, s, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return (classes dir, spark jars dir, seconds spent)."""
    t0 = time.time()
    jars = spark_jars(root)
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    out = os.path.join(root, BUILD_DIR, "classes")
    st = stamp(files, jars)
    st_file = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.isdir(out) and os.path.exists(st_file) and open(st_file).read() == st:
        return out, jars, time.time() - t0
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # an explicit compile classpath: scalac would otherwise add the
    # working directory, where `perfbench/` reads as a package
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-classpath", cp, "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(st_file, "w") as fh:
        fh.write(st)
    return out, jars, time.time() - t0


if __name__ == "__main__":
    classes, _, secs = build()
    print(f"built {classes} in {secs:.1f} s")
