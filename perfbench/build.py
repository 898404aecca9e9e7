#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine (`src/main/scala`) and the benchmark driver
(`perfbench/driver`) with the Scala compiler that ships in Spark's
`jars` directory, into `.bench_build/` under the current directory.
A digest of every source file is kept next to the classes, so an
unchanged tree is not compiled twice.

    python3 perfbench/build.py          # from the repository root
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
    """The `jars` directory of the Spark distribution: `$SPARK_HOME`, else
    the home of a `spark-submit` on PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise RuntimeError("no Spark distribution with jars/scala-compiler-*.jar; set SPARK_HOME")


def build_dir(root):
    return os.path.join(root, ".bench_build")


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(out, cp, files, log):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "-cp", cp] + files
    with open(log, "ab") as fh:
        subprocess.run(cmd, check=True, stdout=fh, stderr=subprocess.STDOUT)


def build(root):
    """Returns the classpath entries (driver, engine) once both are built."""
    engine_src = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                                  recursive=True))
    if not engine_src:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    driver_src = sorted(glob.glob(os.path.join(HERE, "driver", "*.scala")))
    bd = build_dir(root)
    os.makedirs(bd, exist_ok=True)
    classes, driver = os.path.join(bd, "classes"), os.path.join(bd, "driver")
    stamp_file = os.path.join(bd, "stamp")
    stamp = _digest(engine_src + driver_src)
    with open(os.path.join(bd, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            if open(stamp_file).read() == stamp:
                return driver, classes
        except OSError:
            pass
        log = os.path.join(bd, "build.log")
        jars = os.path.join(spark_jars(), "*")
        _scalac(classes, jars, engine_src, log)
        _scalac(driver, f"{classes}:{jars}", driver_src, log)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return driver, classes


if __name__ == "__main__":
    try:
        print(":".join(build(os.getcwd())))
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
