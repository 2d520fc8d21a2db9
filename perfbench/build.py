#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the repository's Scala sources (src/main/scala) and the benchmark's own
(perfbench/src) with the Scala compiler that ships in Spark's jar directory, into
<build dir>/program-classes and <build dir>/bench-classes. Each stage is skipped
when a digest of its inputs matches the one stored beside its classes.

    python3 perfbench/build.py [build dir, default .bench_build]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of SPARK_HOME, or else of the first Spark installation on the
    PATH, that ships a Scala compiler; returns it with its jars."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [str((Path(d) / "spark-submit").resolve().parent.parent)
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((Path(home) / "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return Path(home) / "jars", jars
    raise BuildError("no Spark installation with a Scala compiler: set SPARK_HOME")


def scala_sources(d):
    return sorted(d.rglob("*.scala")) if d.is_dir() else []


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_stage(out, sources, jar_dir, classpath, stamp):
    stamp_file = out / ".digest"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", str(jar_dir / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", os.pathsep.join(map(str, classpath))]
    cmd += [str(s) for s in sources]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"compilation into {out} failed")
    stamp_file.write_text(stamp)


def build(build_dir):
    """Compile both stages; returns the runtime classpath entries."""
    build_dir = Path(build_dir).resolve()
    program = scala_sources(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    bench = scala_sources(BENCH_SRC)
    jar_dir, jars = spark_jars()
    program_out = build_dir / "program-classes"
    bench_out = build_dir / "bench-classes"
    program_stamp = digest(program)
    compile_stage(program_out, program, jar_dir, jars, program_stamp)
    compile_stage(bench_out, bench, jar_dir, [program_out] + jars,
                  digest(bench + [Path(__file__).resolve()], program_stamp))
    return [bench_out, program_out, jar_dir / "*"]


if __name__ == "__main__":
    try:
        build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build")
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
