#!/usr/bin/env python3
"""One command for the graft benchmark.

    python3 perfbench/run.py --workload <query_serve|maintain_mixed>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. It builds the library and the benchmark
from source (perfbench/build.py), starts one driver JVM sized to this
host -- local[nproc] with nproc shuffle partitions, heap from MemTotal by
the Tier-1 rule (half of RAM in GiB, clamped to 2..8) -- and relays its
output. Generated inputs, layouts and Spark scratch live in a per-run
directory under .bench_build/tmp that is deleted on exit; traced runs
leave their spans in .bench_build/traces.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is a
fuller report (preflight contention evidence, set-up repetitions, tail
percentile, recall per index family, input fingerprint). With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is non-zero when any correctness check failed or the run
did not produce a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("query_serve", "maintain_mixed")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """The Tier-1 rule: MemTotal / 2 in whole GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    return len(os.sched_getaffinity(0))


def java_cmd(classes, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # serial collector: heap sized from the live set, so peak RSS repeats;
    # no hsperfdata file, so nothing is written outside the checkout
    return (["java", f"-Xmx{heap()}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main] + args)


def run_jvm(cmd, log_path, tmp):
    """Run the JVM, relay its stdout, keep its stderr in a log; return
    (exit code, stdout lines). The JVM is killed and reaped on timeout or
    when this process is interrupted."""
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, env=env)
        lines = []
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            lines = out.splitlines()
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, lines


def main():
    # a terminated benchmark must take its JVM down with it: turn SIGTERM
    # into an exception so run_jvm kills and reaps the process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    root = build.ROOT
    tmp = os.path.join(root, ".bench_build", "tmp", f"run-{os.getpid()}")
    logs = os.path.join(root, ".bench_build", "logs")
    traces = os.path.join(root, ".bench_build", "traces")
    for d in (tmp, logs, traces):
        os.makedirs(d, exist_ok=True)
    try:
        if a.self_test:
            code, lines = run_jvm(java_cmd(classes, "perfbench.SelfTest",
                                           [os.path.join(root, "BENCHMARK.json")], tmp),
                                  os.path.join(logs, "self-test.log"), tmp)
            print("\n".join(lines))
            return code
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--tmp", tmp, "--cores", str(cores()),
                "--trace-out", os.path.join(traces, name + ".spans.jsonl")]
        log_path = os.path.join(logs, name + ".log")
        code, lines = run_jvm(java_cmd(classes, "perfbench.Main", args, tmp), log_path, tmp)
        try:
            result = json.loads(lines[-1]) if lines else None
        except ValueError:
            result = None
        if not (isinstance(result, dict) and
                set(result) == {"correct", "attempted", "failed", "metrics"}):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"perfbench: no result from the {a.workload} run "
                             f"(exit {code}); log in {log_path}\n")
            return code or 3
        print("\n".join(lines))
        return code
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
