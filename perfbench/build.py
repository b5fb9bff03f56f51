"""Build file of the benchmark: compiles the program (`src/main/scala` of the
checkout) together with the benchmark's JVM harness (`perfbench/harness`)
with the Scala compiler that ships in the Spark distribution, into
`$CARGO_TARGET_DIR` (default `.bench_build`) inside the checkout.

The output directory is keyed by a hash of every source file, so a rebuild
happens only when a source changed; a file lock serialises concurrent
builds and the finished tree is renamed into place, so two invocations can
never see a half-built class directory.

    python3 perfbench/build.py          # prints the class directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def ensure_built():
    """Returns the class directory, compiling first if sources changed."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(tmp, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        cp = os.pathsep.join(jars)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + args],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        os.remove(args)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build: scalac failed ({r.returncode})")
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built())
