"""Build file of the benchmark package: compiles the library's sources
(`src/main/scala` at the repository root) together with the benchmark's own
driver (`perfbench/src`) with the Scala compiler that ships in Spark's jars,
into `perfbench/.out/classes`. A content stamp skips the compile when no
source changed.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return home


def sources() -> list:
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr) -> str:
    """Compile if stale; return the runtime classpath."""
    jars = os.path.join(spark_home(), "jars", "*")
    files = sources()
    stamp = source_hash(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        print(f"build: compiling {len(files)} sources", file=log, flush=True)
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={OUT}", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
                       check=True, stdout=log, stderr=log)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build())
