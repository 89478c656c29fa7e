"""Build file of the perfbench package: compiles the engine and the harness.

The engine (``src/main/scala``) and the harness (``perfbench/src``) are
compiled with the Scala 2.13 compiler that ships in Spark's jars directory,
into ``<build_dir>/perfbench/classes``. A stamp over every source file's
path and content skips the compile when nothing changed.

    python3 perfbench/build.py          # build into $CARGO_TARGET_DIR or .bench_build
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
        raise RuntimeError(f"no Scala 2.13 compiler among the Spark jars in {jars}")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd + ["@" + argfile], stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise RuntimeError(f"scalac failed ({rc}); see {log}")


def build(root, build_dir):
    """Compile if needed; return the harness classpath (without Spark jars)."""
    jars = spark_jars()
    engine = _sources(os.path.join(root, "src", "main", "scala"))
    harness = _sources(os.path.join(HERE, "src"))
    if not engine:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    base = os.path.join(build_dir, "perfbench")
    os.makedirs(base, exist_ok=True)
    engine_out, harness_out = os.path.join(base, "classes", "engine"), os.path.join(base, "classes", "harness")
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(base, "classes.stamp")
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            shutil.rmtree(os.path.join(base, "classes"), ignore_errors=True)
            log = os.path.join(base, "build.log")
            open(log, "w").close()
            _scalac(jars, None, engine_out, engine, log)
            _scalac(jars, engine_out, harness_out, harness, log)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    return os.pathsep.join([harness_out, engine_out])


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))))
    sys.exit(0)
