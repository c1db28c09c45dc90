"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala`` at the checkout root)
together with the benchmark harness (``perfbench/src``) with the Scala
compiler that ships in Spark's jar directory (the directory graft's
``build.sbt`` compiles against), into
``$CARGO_TARGET_DIR/classes`` (default ``.bench_build/classes``). A stamp
over every source file's relative path and bytes skips the compile when
nothing changed.

    python3 perfbench/build.py          # from the checkout root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar directory: the one graft's build.sbt compiles against
    (``unmanagedBase``), else ``$SPARK_HOME/jars``."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("Spark jar directory not found (build.sbt "
                     "unmanagedBase or SPARK_HOME)")


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(root, d)


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("graft sources not found: %s" % main)
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"),
                            recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"),
                             recursive=True))
    return srcs


def stamp(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    res = os.path.join(root, "src", "main", "resources")
    res_files = sorted(glob.glob(os.path.join(res, "**", "*"),
                                 recursive=True))
    res_files = [p for p in res_files if os.path.isfile(p)]
    want = stamp(root, srcs + res_files)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isfile(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    jars = spark_jars(root)
    scalac_cp = os.pathsep.join(
        os.path.join(jars, "scala-%s-2.13.17.jar" % m)
        for m in ("compiler", "library", "reflect"))
    for p in scalac_cp.split(os.pathsep):
        if not os.path.isfile(p):
            raise SystemExit("scala compiler jar not found: %s" % p)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + out, "-cp", scalac_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
        raise SystemExit("compile failed")
    for p in res_files:
        dst = os.path.join(tmp, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
