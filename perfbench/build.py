"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory. No sbt, no network, no writes outside the build
directory.

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build

A compiled tree is reused while the sha256 of its sources (and of the
compiler jar's name) is unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the sbt build compiles against."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA_VERSION}.jar")):
            return d
    raise SystemExit("perfbench: no Spark jar directory with scala-compiler "
                     f"{SCALA_VERSION} (set SPARK_HOME)")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(src_dir):
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"perfbench: no Scala sources under {src_dir}")
    return files


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, classpath, out, jars, log, upstream=""):
    """scalac `files` into `out` (atomically: a temp dir renamed at the end)
    unless `out` already holds them. Returns (stamp, compiled)."""
    stamp = _stamp(files, SCALA_VERSION + upstream)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return stamp, False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed for {out} (see {log.name})")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return stamp, True


def build(root):
    """Compile program and benchmark; return (JVM classpath, whether
    anything was compiled)."""
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"perfbench: program sources not found at {main_src}")
    jars = spark_jars(root)
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    spark_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    prog = os.path.join(out, "program-classes")
    bench = os.path.join(out, "bench-classes")
    with open(os.path.join(out, "build.log"), "w") as log:
        prog_stamp, built_prog = _compile(_sources(main_src), spark_cp, prog, jars, log)
        _, built_bench = _compile(_sources(bench_src), prog + ":" + spark_cp, bench, jars, log,
                                  prog_stamp)
    return ":".join([bench, prog, os.path.join(jars, "*")]), built_prog or built_bench


if __name__ == "__main__":
    print(build(os.getcwd())[0])
    sys.exit(0)
