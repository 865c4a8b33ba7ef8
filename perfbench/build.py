#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library and the harness.

    python3 perfbench/build.py        # from the root of a checkout

Compiles the repository's `src/main/scala` together with `perfbench/src`
with the Scala compiler that ships among Spark's jars (`$SPARK_HOME/jars`,
else the directory `build.sbt` names as `unmanagedBase`) and packs the
classes and `src/main/resources`
into `.bench_build/perfbench-<stamp>.jar`, where the stamp is a hash of
the sources; an unchanged tree is not compiled again. The library's sbt
build is not used: its start-up alone takes longer than the compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import re
import zipfile

SOURCE_DIRS = ("src/main/scala", "src/main/resources", "perfbench/src")


def out_dir(root):
    return os.path.join(root, ".bench_build")


def _files(root):
    found = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(os.path.join(root, d)):
            found += [os.path.join(base, n) for n in names]
    return sorted(found)


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(jars).encode())
    return h.hexdigest()


def jars_dir(root):
    """Spark's jars: $SPARK_HOME/jars, else the library build's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def spark_jars(root):
    d = jars_dir(root)
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".jar"))


def ensure(root):
    """Return (jar, stamp) for `root`, compiling if the sources changed."""
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(root, d)):
            raise SystemExit(f"perfbench: {d}/ not found under {root}; "
                             "run from the root of a checkout of the repository")
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        raise SystemExit(f"perfbench: build.sbt not found under {root}")
    files = _files(root)
    jars = spark_jars(root)
    stamp = _stamp(root, files, jars)[:16]
    base = out_dir(root)
    jar = os.path.join(base, f"perfbench-{stamp}.jar")
    if os.path.exists(jar):
        return jar, stamp
    classes = os.path.join(base, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    srcs = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-classpath", cp, "-d", classes, "-nowarn", "@" + argfile],
                   check=True, stdout=sys.stderr)
    shutil.copytree(os.path.join(root, "src/main/resources"), classes, dirs_exist_ok=True)
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, jar)
    shutil.rmtree(classes)
    for n in os.listdir(base):  # outputs of earlier sources
        if n.startswith(("perfbench-", "cds-")) and stamp not in n:
            os.remove(os.path.join(base, n))
    return jar, stamp


if __name__ == "__main__":
    print(ensure(os.getcwd()))
