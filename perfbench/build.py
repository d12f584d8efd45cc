"""Build file of the benchmark: compiles the program and the harness with scalac.

The program sources (src/main/scala) and the harness sources (perfbench/src)
are compiled straight with the Scala compiler that ships among the Spark jars,
so a run never starts the sbt launcher.  The Spark jar directory and the Scala
version are read from the program's build.sbt.  Output goes under .bench_build/
in the checkout; a stamp of the source contents skips a build whose sources did
not change.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = "src/main/scala"
HARNESS_SRC = "perfbench/src"


def _from_build_sbt(pattern):
    """A setting of the program's own sbt build, so both builds agree."""
    with open("build.sbt") as f:
        m = re.search(pattern, f.read())
    if not m:
        raise SystemExit(f"build: build.sbt has no match for {pattern}")
    return m.group(1)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compiler_cp(spark_jars):
    scala = _from_build_sbt(r'scalaVersion := "([^"]+)"')
    jars = ["scala-compiler", "scala-library", "scala-reflect"]
    cp = [os.path.join(spark_jars, f"{j}-{scala}.jar") for j in jars]
    cp += glob.glob(os.path.join(spark_jars, "jline-3*.jar"))
    for p in cp:
        if not os.path.exists(p):
            raise SystemExit(f"build: missing compiler jar {p}")
    return ":".join(cp)


def _scalac(sources, out_dir, classpath, spark_jars, log):
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", _compiler_cp(spark_jars), "scala.tools.nsc.Main", "-nowarn",
           "-d", out_dir, "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}), log in {log}")


def _build_one(name, sources, classpath, spark_jars, extra=""):
    """Compiles `sources` into .bench_build/<name> unless its stamp matches."""
    if not sources:
        raise SystemExit(f"build: no sources for {name}")
    out = os.path.join(BUILD_DIR, name)
    stamp_file = out + ".stamp"
    stamp = _stamp(sources, extra)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)
    _scalac(sources, out, classpath, spark_jars, out + ".log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def build():
    """Returns the runtime classpath (program + harness + Spark jars)."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: {PROGRAM_SRC} not found; run from the repository root")
    # the Spark jars the program's sbt build compiles against (unmanagedBase)
    spark_jars = _from_build_sbt(r'unmanagedBase := file\("([^"]+)"\)')
    spark_cp = os.path.join(spark_jars, "*")
    prog, prog_stamp = _build_one("program", _sources(PROGRAM_SRC), spark_cp, spark_jars)
    # the harness is rebuilt whenever the program changes: it links against it
    harness, _ = _build_one("harness", _sources(HARNESS_SRC),
                            prog + ":" + spark_cp, spark_jars, extra=prog_stamp)
    return ":".join([harness, prog, spark_cp])


if __name__ == "__main__":
    print(build())
