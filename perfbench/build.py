"""Build file of the benchmark package: compiles the program's main sources
(`src/main/scala`) and the benchmark harness (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, into `.bench_build/`
at the root of the checkout. Each half is rebuilt only when its sources
change.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.exists(
            os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler in '{jars}' (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("no java on PATH or under JAVA_HOME")
    return exe


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(name, files, classpath, key):
    """Compile `files` into OUT/<name>/classes unless its stamp matches."""
    dest = os.path.join(OUT, name)
    stamp_file = os.path.join(dest, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return os.path.join(dest, "classes")
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", classpath] + files
    print(f"[build] compiling {name}: {len(files)} files", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(key)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return os.path.join(dest, "classes")


def build():
    """Returns the run-time classpath of the harness."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    program_files = sources(program_src)
    if not program_files:
        raise SystemExit(f"no program sources under {program_src}")
    jars = os.path.join(spark_jars(), "*")
    program_key = stamp(program_files)
    program = compile_into("program", program_files, jars, program_key)
    harness_files = sources(os.path.join(HERE, "src"))
    harness = compile_into("harness", harness_files, os.pathsep.join([program, jars]),
                           stamp(harness_files, program_key))
    return os.pathsep.join([harness, program, jars])


if __name__ == "__main__":
    print(build())
