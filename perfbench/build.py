"""Build step of the benchmark: compiles the program and the harness.

The program is compiled from `src/main/scala` with the Scala compiler that
ships in the Spark distribution (no sbt, no network), into
`$CARGO_TARGET_DIR/program` (default `.bench_build/program`). The harness in
`perfbench/harness` is compiled against it into `.../harness`. Each output is
stamped with a hash of its inputs and reused while the hash holds.

Run on its own with `python3 perfbench/build.py`; `run.py` calls `build()`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home or ""


JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under '{JARS}' (set SPARK_HOME)")
    return jars


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(srcs, out, cp, stamp, log):
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(out)
    compiler = [os.path.join(JARS, j) for j in os.listdir(JARS)
                if j.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(cp)] + srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BuildError(f"scalac failed for {out} (log: {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compile program and harness if stale; return the run classpath."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog = _sources(prog_src)
    if not prog:
        raise BuildError(f"no program sources under {prog_src}")
    harness = _sources(os.path.join(HERE, "harness"))
    if not harness:
        raise BuildError("no harness sources under perfbench/harness")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp = spark_classpath()
    prog_out = os.path.join(out, "program")
    prog_stamp = _stamp(prog, ",".join(os.path.basename(j) for j in cp))
    _compile(prog, prog_out, cp, prog_stamp, os.path.join(out, "program.log"))
    harness_out = os.path.join(out, "harness")
    _compile(harness, harness_out, [prog_out] + cp, _stamp(harness, prog_stamp),
             os.path.join(out, "harness.log"))
    return [harness_out, prog_out] + cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
