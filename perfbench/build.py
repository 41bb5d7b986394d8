"""Build file of the benchmark package: compiles the graft sources and the
benchmark harness (`perfbench/scala`) into one classes directory.

It uses the Scala compiler that ships among the Spark distribution's jars,
so the build needs no build tool, no dependency resolution and no network.
Output goes to `<build dir>/perfbench/classes`, where the build dir is
`$CARGO_TARGET_DIR` when set and `.bench_build` otherwise. A stamp holds a
hash of every compiled source, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]

# Module access Spark 4 needs on JDK 17 when it is not started through
# spark-submit (the same list as the root build's `jdk17AddOpens`).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Keeps the JVM from writing its performance-counter file to the system
# temporary directory, outside the checkout.
JVM_FILES = ["-XX:-UsePerfData"]


def java_opens():
    out = []
    for p in JAVA_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(os.path.abspath(os.path.join(ROOT, d)), "perfbench")


def spark_jars():
    """The jars directory of the Spark distribution: `$SPARK_HOME/jars`,
    else the one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith(".scala") or f.endswith(".java")]
    if not any(s.startswith(SOURCE_DIRS[0]) for s in found):
        raise SystemExit("perfbench: no graft sources to build")
    return sorted(found)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile when a source changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read().strip() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    t0 = time.time()
    cmd = (["java", "-Xss16m", "-Xmx3g"] + JVM_FILES
           + ["-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", classes,
              "-classpath", jars, "@" + args_file])
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    print(f"perfbench: compiled {len(srcs)} sources in "
          f"{time.time() - t0:.1f} s", file=log)
    return classes


if __name__ == "__main__":
    print(build())
