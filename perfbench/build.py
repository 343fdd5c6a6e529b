"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in Spark's jar directory, copies the
engine's resources next to the classes and packs both into
.bench_build/graftbench.jar. No build tool, no downloads:
the classpath is $SPARK_HOME/jars. A content stamp over every source
skips the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graftbench.jar")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def _files(rel, suffix=""):
    out = []
    for dirpath, _, names in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(sources, resources, jars):
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _jar(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in _files(os.path.relpath(classes, ROOT)):
            z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, jar)


def build(log=sys.stderr):
    """Compile when the sources changed; return the classpath: a jar of
    the compiled classes followed by every Spark jar."""
    for rel in SOURCE_ROOTS:
        if not os.path.isdir(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found; run from a full checkout")
    jars = spark_jars()
    classpath = os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        sources = [f for r in SOURCE_ROOTS for f in _files(r, ".scala")]
        resources = _files(RESOURCES) if os.path.isdir(os.path.join(ROOT, RESOURCES)) else []
        stamp = _stamp(sources, resources, jars)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classpath
        compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar"))
                    for p in ("compiler", "library", "reflect")]
        if not all(compiler):
            raise SystemExit("perfbench: scala compiler jars not found in " + jars)
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD, "scalac.args")
        with open(args_file, "w") as fh:
            fh.write("\n".join(sources) + "\n")
        print(f"perfbench: compiling {len(sources)} Scala sources", file=log, flush=True)
        subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
             "-cp", os.pathsep.join(c[0] for c in compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-cp", os.path.join(jars, "*"), "@" + args_file],
            check=True, stdout=log, stderr=log)
        for f in resources:
            dst = os.path.join(tmp, os.path.relpath(f, os.path.join(ROOT, RESOURCES)))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        _jar(CLASSES, JAR)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
