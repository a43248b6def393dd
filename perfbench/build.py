"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/scala) into
.bench_build/perfbench/classes, using the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars; without SPARK_HOME, that of a
Spark distribution whose bin/ is on the PATH). A stamp
of the source contents skips the compile when nothing changed.

Run from the root of a checkout:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")


class BuildError(Exception):
    pass


# the running compiler, so a caller's signal handler can stop it
child = None


def stop_child():
    """Kill the running compiler, if any, and wait for it."""
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    # without SPARK_HOME: every Spark distribution with a bin/ on the PATH
    homes += [os.path.dirname(d) for d in
              os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise BuildError("Spark jars not found: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the classes directory."""
    program = sources(PROGRAM_SRC) if os.path.isdir(PROGRAM_SRC) else []
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}: run from "
                         "the root of a full checkout")
    srcs = program + sources(BENCH_SRC)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    global child
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, start_new_session=True)
    try:
        log, _ = child.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        stop_child()
        raise BuildError("scalac timed out")
    if child.returncode != 0:
        sys.stderr.write(log.decode(errors="replace")[-8000:])
        raise BuildError(f"scalac failed with code {child.returncode}")
    child = None
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
