"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jars
directory, into `.bench_build/` at the root of the checkout. No build tool
is started, so nothing is written outside the checkout and the benchmark's
JVM runs on the compiled classpath. A stamp over every source file's bytes
skips the build when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date), print classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")
SCALA_VERSION_FILE = "build.sbt"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def scala_version():
    """The Scala version the repository's own build declares."""
    if not os.path.isfile(SCALA_VERSION_FILE):
        raise BuildError(f"{SCALA_VERSION_FILE} not found: run from the repository root")
    with open(SCALA_VERSION_FILE) as f:
        m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', f.read())
    if not m:
        raise BuildError(f"no scalaVersion in {SCALA_VERSION_FILE}")
    return m.group(1)


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {root}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for path in files:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, version, out, classpath, files):
    compiler = [os.path.join(jars, f"scala-{n}-{version}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala {version} compiler jars missing: {missing}")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{proc.stdout[-4000:]}")


def ensure_built():
    """Compile when the sources changed; return the runtime classpath."""
    jars = spark_jars()
    version = scala_version()
    spark_cp = os.path.join(jars, "*")
    program_out = os.path.join(BUILD_DIR, "program")
    harness_out = os.path.join(BUILD_DIR, "harness")
    program = sources(PROGRAM_SRC)
    program_stamp = stamp(program) + version
    rebuilt = compile_if_stale("program", program, program_stamp, jars, version,
                               program_out, [spark_cp])
    harness = sources(HARNESS_SRC)
    # The harness is rebuilt whenever the program was.
    compile_if_stale("harness", harness, stamp(harness) + program_stamp,
                     jars, version, harness_out, [program_out, spark_cp], force=rebuilt)
    return [harness_out, program_out, spark_cp]


def compile_if_stale(name, files, want, jars, version, out, classpath, force=False):
    """Compile `files` into `out` unless its stamp matches; True if compiled."""
    stamp_file = os.path.join(BUILD_DIR, f"{name}.stamp")
    have = open(stamp_file).read() if os.path.isfile(stamp_file) else ""
    if have == want and not force:
        return False
    if os.path.isfile(stamp_file):
        os.remove(stamp_file)
    print(f"[perfbench] compiling {len(files)} {name} sources", file=sys.stderr)
    scalac(jars, version, out, classpath, files)
    with open(stamp_file, "w") as f:
        f.write(want)
    return True


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure_built()))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
