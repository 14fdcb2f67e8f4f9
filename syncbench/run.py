#!/usr/bin/env python3
"""Run one workload of the end-to-end sync benchmark.

    python3 syncbench/run.py --workload full_sync --seed 1 --seconds 10 --trace 0
    python3 syncbench/run.py --self-test

Run from the repository root. Builds the engine and the benchmark
(syncbench/build.py) on first use, then starts one JVM at local[nproc]
with the heap rule of the repository's tier-1 tests (half the machine's
memory, clamped to 2-8 GiB, unless SPARK_DRIVER_MEM is set). The JVM
prints one JSON result line, which is the last line of this command's
standard output; the exit code is non-zero when a check failed or the
run did not finish. Scratch data lives under the build directory and is
removed afterwards; per-run artifacts (conf, sizes, spans, pass times)
are kept in <build dir>/artifacts.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def driver_mem():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    classes = build.build()
    out = build.build_dir()
    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes] + build.spark_jars())
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xmx{driver_mem()}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if a.self_test:
        main_args = ["syncbench.SelfTest", work]
    else:
        main_args = ["syncbench.SyncBench", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
                     "--artifacts", os.path.join(out, "artifacts")]
    # Spark's scratch space stays inside the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(["java"] + opts + ["-cp", cp] + main_args,
                            stdout=subprocess.PIPE, text=True, cwd=work, env=env)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"syncbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
