"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the harness (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into `<build_dir>/classes`. A stamp of
the source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_SOURCES = os.path.join(os.path.dirname(BENCH_DIR), "src", "main", "scala")
HARNESS_SOURCES = os.path.join(BENCH_DIR, "src")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under {jars}")
    return jars


def sources():
    found = []
    for top in (REPO_SOURCES, HARNESS_SOURCES):
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    if not any(p.startswith(REPO_SOURCES) for p in found):
        raise RuntimeError(f"program sources not found under {REPO_SOURCES}")
    return sorted(found)


def ensure_built(build_dir):
    """Compile if the sources changed since the last build; return the
    classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True):
        os.remove(old)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise RuntimeError("compile failed:\n" + res.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
