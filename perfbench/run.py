#!/usr/bin/env python3
"""Serving benchmark for FlockService.

    python3 perfbench/run.py --workload serve-read|serve-write|analytics-slice \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source on first use (perfbench/build.py),
then runs one workload in a fresh JVM and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Side files (the
run's environment record, per-depth table and spans) go to .bench_build/results.
The analytics slice's rows are checked against their DuckDB mirrors after the JVM
exits (perfbench/oracle.py). Exits 1 on a wrong answer and 2 when the benchmark
cannot run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = ROOT / ".bench_build"
WORKLOADS = ("serve-read", "serve-write", "analytics-slice")
# Budget for the JVM after the build: set-up plus the window plus the grace for a
# call still running when the window closes, and then the oracle check, must fit well
# inside three minutes.
JVM_TIMEOUT_S = 145
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_result(line):
    """The JVM's last stdout line, checked against the result contract."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classpath = build.build(BUILD_DIR)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = BUILD_DIR / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    results = BUILD_DIR / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata files outside the checkout
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(map(str, classpath)), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--results", str(results)]
    log = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    started = time.monotonic()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {JVM_TIMEOUT_S}s (log: {log})")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or proc.returncode not in (0, 1):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run failed with exit code {proc.returncode} (log: {log})")
    try:
        res = parse_result(lines[-1])
        if (work / "check.json").is_file():
            try:
                wrong = oracle.check(work / "check.json")
            except Exception as e:
                fail(f"the oracle check could not run: {e!r}")
            for w in wrong[:20]:
                print(f"perfbench: wrong answer: {w}", file=sys.stderr)
            res["failed"] += len(wrong)
            res["correct"] = res["correct"] and not wrong
    except ValueError as e:
        fail(f"malformed result line: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    print(f"elapsed {time.monotonic() - started:.1f}s", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
