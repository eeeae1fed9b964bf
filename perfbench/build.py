"""Build file of the graft benchmark package.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into one class directory, using the
Scala compiler that ships in the Spark distribution's jars. No sbt, no
dependency resolution, no network: the only inputs are the checkout and
the installed Spark and JDK.

The build is skipped when a stamp of every input file's content matches
the last successful build, so only the first run in a checkout pays for
it.

    python3 perfbench/build.py            # build (or confirm up to date)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    the copy bundled with the pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("build: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if (not home or os.path.exists(exe)) else "java"


def sources():
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    res = sorted(glob.glob(os.path.join(GRAFT_RES, "**", "*"), recursive=True))
    for f in files + [r for r in res if os.path.isfile(r)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Build if needed; return (classpath, seconds spent compiling)."""
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"build: graft sources not found at {GRAFT_SRC}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    classes = os.path.join(OUT, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        files = sources()
        want = stamp(files, jars)
        stamp_file = os.path.join(OUT, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return cp, 0.0
        t0 = time.time()
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
               "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.path.join(jars, "*"), "@" + argfile]
        print(f"build: compiling {len(files)} Scala files", file=log)
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac failed (exit {r.returncode})")
        if os.path.isdir(GRAFT_RES):
            shutil.copytree(GRAFT_RES, classes, dirs_exist_ok=True)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return cp, time.time() - t0


if __name__ == "__main__":
    _, secs = build()
    print(f"build: ok ({secs:.1f} s)")
