"""Build the program under test and the benchmark harness from source.

Compiles `src/main/scala` (the program, exactly as checked out) and
`perfbench/harness` with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/perfbench/`, keyed by a digest of the sources, so a
build is reused only for identical sources.

Run alone to build ahead of time: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(f"{root}/perfbench/harness/*.scala"))
    if not main or not harness:
        raise SystemExit("perfbench: program or harness sources missing; "
                         "run from the root of a full checkout")
    resources = sorted(p for p in glob.glob(f"{root}/src/main/resources/**",
                                            recursive=True) if os.path.isfile(p))
    return main, harness, resources


def digest(root, files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: the Scala 2.13 compiler is not in " + jars)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out_dir})")


def build(root="."):
    """Build what is missing; return (classpath list, program digest, build
    digest of program and harness together, jars dir).
    The program and the harness are built apart, each keyed by a digest of
    its sources, so a harness edit does not recompile the program."""
    jars = spark_jars()
    main, harness, resources = sources(root)
    main_key = digest(root, main + resources, jars)
    bench_key = hashlib.sha256(
        (digest(root, harness, jars) + main_key).encode()).hexdigest()
    main_dir = os.path.join(root, BUILD_ROOT, "main-" + main_key[:16])
    bench_dir = os.path.join(root, BUILD_ROOT, "bench-" + bench_key[:16])
    for out, files, cp in ((main_dir, main, []), (bench_dir, harness, [main_dir])):
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            scalac(jars, cp + [os.path.join(jars, "*")], tmp, files)
            os.rename(tmp, out)
    cp = [main_dir, os.path.join(root, "src", "main", "resources"), bench_dir,
          os.path.join(jars, "*")]
    return cp, main_key, bench_key, jars


if __name__ == "__main__":
    print(build()[0][0])
