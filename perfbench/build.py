"""Build step of the benchmark: compile the engine (`src/main/scala`) and
the benchmark harness (`perfbench/harness`) into `.bench_build/classes`.

It calls the Scala compiler that ships in the Spark distribution's jar
directory, with those jars as the classpath, so it needs no build tool and
no network. A stamp of the sources' hash skips the compile when nothing
changed. The Spark distribution is found through `SPARK_HOME`, else
through `spark-submit` on the `PATH`.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")
ENGINE = os.path.join(ROOT, "src", "main", "scala")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no engine sources under {ENGINE}")
    harness = sorted(glob.glob(os.path.join(HARNESS, "*.scala")))
    if not harness:
        raise BuildError(f"no harness sources under {HARNESS}")
    return files + harness


def build():
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    cp = f"{out}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", f"{jars}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
