"""Build file of the benchmark: compiles the engine and the benchmark program.

The engine's sources (src/main/scala) and the benchmark's (perfbench/src) are
compiled together by the Scala compiler that ships among the Spark jars the
engine's own build.sbt names as its unmanaged base. No build tool and no
network are needed. Classes land in <build_dir>/classes-<hash of the
sources>, so an unchanged tree is built once.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir(root):
    """The jar directory build.sbt names as unmanagedBase, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jars; build.sbt names none and SPARK_HOME is unset")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not files:
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def jar(jars, name):
    found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
    if not found:
        raise SystemExit(f"build: {name} not found in {jars}")
    return found[-1]


def ensure_built(root, build_dir):
    """Returns the classes directory, compiling first if the sources changed."""
    jars = spark_jars_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs))
    compiler = os.pathsep.join(jar(jars, n) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + argfile]
    print(f"build: compiling {len(srcs)} files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure_built(root, os.environ.get("CARGO_TARGET_DIR") or
                       os.path.join(root, ".bench_build")))
