"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's executor (`src/` here)
with the Scala compiler that ships in the Spark distribution (the one
the program's own build compiles against), into
`.bench_build/classes-<hash>` under the checkout. A build whose inputs are
unchanged is reused.

    python3 loadbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_home():
    """$SPARK_HOME, else the installed pyspark package (it ships the same
    jars directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
    except ImportError:
        raise SystemExit("no Spark distribution: set SPARK_HOME")
    return os.path.dirname(pyspark.__file__)


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALAC = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
          "-cp", os.path.join(SPARK_JARS, "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        raise SystemExit(f"no program sources under {dirs[0]}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return out


def build(root):
    """Compile if needed; return the classes directory."""
    files = sorted(sources(root), key=lambda f: os.path.relpath(f, root))
    h = hashlib.sha256(" ".join(SCALAC).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    try:
        r = subprocess.run(SCALAC + ["-d", tmp] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            raise SystemExit("compile failed")
        try:
            os.rename(tmp, classes)
        except OSError:  # a concurrent build of the same inputs won
            if not os.path.isdir(classes):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
