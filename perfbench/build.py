"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships among
Spark's jars, into .bench_build/build-<source hash>/classes. Seeded stores
built from those classes live beside them and go when the sources change.

    python3 perfbench/build.py        # from the repository root; prints the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(root):
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, log=sys.stderr):
    """Returns the class directory, compiling only when a source changed."""
    if not os.path.isdir(os.path.join(root, PROGRAM_SRC)):
        raise RuntimeError(f"no program sources under {PROGRAM_SRC}")
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, BENCH_SRC)) for s in srcs):
        raise RuntimeError(f"no benchmark sources under {BENCH_SRC}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    build_dir = os.path.join(root, ".bench_build")
    out = os.path.join(build_dir, "build-" + h.hexdigest()[:16], "classes")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(build_dir, exist_ok=True)
    for d in os.listdir(build_dir):
        if d.startswith("build-"):
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    os.makedirs(os.path.dirname(out))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log, flush=True)
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        check=True, stdout=log, stderr=log)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
