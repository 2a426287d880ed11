"""Build for the benchmark: compiles the library sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in the Spark jars
($SPARK_HOME/jars, else the directory build.sbt uses), into
<build dir>/perfbench/classes.  The build dir is $CARGO_TARGET_DIR
when set, else .bench_build, relative to the repository root.  A stamp
over every source file skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root="."):
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("error: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def _sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    srcs = _sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jars_dir = spark_jars(root)
    h.update("\n".join(sorted(os.listdir(jars_dir))).encode())
    stamp = h.hexdigest()
    stamp_path = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_path) and \
            open(stamp_path).read() == stamp:
        return classes
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(jars_dir, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars, f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"error: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


if __name__ == "__main__":
    build(os.getcwd())
