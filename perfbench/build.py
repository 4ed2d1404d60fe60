"""Build file of the benchmark: compiles the program (src/main) together with
the benchmark's JVM runner (perfbench/src/main) with the Scala compiler that
ships in Spark's jars, the same jars the repository's build.sbt compiles
against. The output lands under the build directory ($CARGO_TARGET_DIR, or
.bench_build at the checkout root) and is reused while no source changes.

    python3 perfbench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench") if not os.path.isabs(d) else os.path.join(d, "perfbench")


def spark_jars() -> str:
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-core_*.jar")):
            return os.path.join(h, "jars")
    raise BuildError("Spark jars not found: set SPARK_HOME")


def java() -> str:
    jh = os.environ.get("JAVA_HOME")
    exe = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def _sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found under {os.path.relpath(program, ROOT)}")
    roots = [program, os.path.join(HERE, "src", "main", "scala")]
    files = sorted(f for r in roots for f in glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    resources = sorted(f for f in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"), recursive=True)
                       if os.path.isfile(f))
    return files, resources


def build() -> str:
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    files, resources = _sources()
    h = hashlib.sha256()
    for f in files + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for f in resources:
        dest = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def source_digest() -> str:
    """Hash of the sources the build compiled (the checkout has no git)."""
    f = os.path.join(build_dir(), "classes.stamp")
    return open(f).read()[:16] if os.path.exists(f) else "unbuilt"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
