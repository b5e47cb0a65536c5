"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, against the Spark jars, into the build directory. No
dependency resolution and nothing written outside the build directory.
A digest of every source file is the cache key: an unchanged tree is
not recompiled.

    python3 perfbench/build.py            # build (or confirm up to date)
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found under {home} (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def _sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, classpath, srcs, tmp):
    os.makedirs(out)
    argfile = os.path.join(tmp, os.path.basename(out) + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace"))
        raise BuildError(f"scalac failed for {out}")


def _compiled(out, name, digest, classpath, srcs):
    """Compile `srcs` into out/<name>-<digest> unless already there."""
    target = os.path.join(out, f"{name}-{digest[:16]}")
    if os.path.isfile(os.path.join(target, "OK")):
        return target
    for old in os.listdir(out):
        if old.startswith(name + "-"):
            shutil.rmtree(os.path.join(out, old), ignore_errors=True)
    tmp = os.path.join(out, "tmp-build")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        _scalac(target, classpath, srcs, tmp)
    except BaseException:
        shutil.rmtree(target, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(target, "OK"), "w").close()
    return target


def ensure():
    """Build if needed; return (classpath, program source digest)."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    prog = _sources(prog_src) if os.path.isdir(prog_src) else []
    if not prog:
        raise BuildError(f"no program sources under {prog_src}")
    bench = _sources(bench_src)
    jars = os.path.join(spark_jars(), "*")
    prog_digest = _digest(prog)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_out = _compiled(out, "program", prog_digest, jars, prog)
        bench_out = _compiled(out, "bench", _digest(prog + bench),
                              os.pathsep.join([prog_out, jars]), bench)
    return os.pathsep.join([bench_out, prog_out, jars]), prog_digest


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
