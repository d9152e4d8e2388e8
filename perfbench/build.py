"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) and the benchmark program (`perfbench/scala`) with the
Scala compiler that ships in Spark's jar directory, so a run needs no
sbt and no network.

Classes land in `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout root. A stamp over every source file, the jar list and this
file makes a rebuild happen only when something changed.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def spark_jars():
    """Spark's jar directory, `$SPARK_HOME/jars`: the engine compiles
    and runs against exactly the jars a Spark install ships."""
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("SPARK_HOME is not set")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _scalac(out, classpath, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(out + ".tmp", exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}.tmp",
           "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed for {out}")


def build():
    """Compile if needed; return the run classpath and the build stamp."""
    engine, bench = sources("src/main/scala"), sources("perfbench/scala")
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    out = build_dir()
    h = hashlib.sha256()
    for f in engine + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    engine_out, bench_out = os.path.join(out, "engine"), os.path.join(out, "bench")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(out, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        _scalac(engine_out, os.path.join(jars, "*"), engine)
        _scalac(bench_out, os.pathsep.join([os.path.join(jars, "*"), engine_out]), bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench_out, engine_out, os.path.join(jars, "*")]), stamp


if __name__ == "__main__":
    print(build()[0])
