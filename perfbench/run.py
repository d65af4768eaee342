"""Benchmark of the grafink load job (graft.job.GraftJob) and its stores.

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Builds the program and the benchmark from
source (see build.py), then runs one JVM: a local Spark session sized from
the host (cores from the CPU affinity mask, heap from SPARK_DRIVER_MEM or
half the memory clamped to 2-8 GiB), seeded alert-shaped input, a setup
phase and a fixed schedule of public calls sized to take about --seconds
on a 4-core host. The last stdout line is the JSON record; the full record
(and the spans of a traced run) are written under .bench_out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """SPARK_DRIVER_MEM, else half of MemTotal in GiB clamped to 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return "%dg" % gib


def java(classes, main, args, work, stderr_path):
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xmx" + heap(), "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(ROOT, ".bench_work", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(out_dir, name + ".log")
    try:
        started = time.time()
        code, out = java(classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus()), "--work", work,
            "--out", os.path.join(out_dir, name + ".json")], work, log)
        lines = out.strip().splitlines()
        if code != 0 or not lines:
            sys.stderr.write("perfbench: run failed (exit %d), see %s\n" % (code, log))
            return 1
        record = json.loads(lines[-1])
        if set(record) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write("perfbench: malformed record\n")
            return 1
        sys.stderr.write("perfbench: %s in %.1f s, detail in %s\n" % (name, time.time() - started, out_dir))
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
