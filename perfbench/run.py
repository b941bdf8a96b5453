#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

    python3 perfbench/run.py --workload select_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one after another
    python3 perfbench/run.py --selftest                   # the benchmark's own tests

Run from the root of a checkout. The first run compiles the engine and the
benchmark (see build.py). Each run works in its own scratch directory under
.bench_run/, which is deleted when the run ends; traced runs write their spans
to .bench_out/. The last line on stdout is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is 0 only when every
output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["select_scan", "point_write", "dedup_search", "stream_ingest"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_cmd(classes, scratch, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g",
        "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", build.classpath(classes), "graftbench.Main"] + main_args)


def run_jvm(classes, main_args, label):
    """Runs one JVM in a fresh scratch directory; returns (exit code, JSON line or None)."""
    scratch = os.path.join(ROOT, ".bench_run", f"{label}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(scratch, "tmp"))
    result = None
    proc = None
    try:
        proc = subprocess.Popen(jvm_cmd(classes, scratch, main_args + ["--scratch", scratch]),
                                stdout=subprocess.PIPE, text=True, cwd=ROOT,
                                start_new_session=True)
        timed_out = []

        def kill():
            timed_out.append(True)
            os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{") and '"correct"' in line:
                    result = line
                else:
                    print(line, flush=True)
            code = proc.wait()
        finally:
            watchdog.cancel()
        if timed_out:
            print(f"{label}: killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
            code, result = 124, None
        return code, result
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


def one(classes, workload, seed, seconds, trace):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
    if trace:
        args += ["--spans", os.path.join(ROOT, ".bench_out")]
    return run_jvm(classes, args, workload)


def main():
    # a terminated driver still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()

    classes = build.build()
    if a.selftest:
        code, _ = run_jvm(classes, ["--selftest", os.path.join(ROOT, "BENCHMARK.json")], "selftest")
        return code
    if a.workload != "all":
        code, result = one(classes, a.workload, a.seed, a.seconds, a.trace)
        if result is None:
            return code or 1
        print(result, flush=True)
        return code

    correct, attempted, failed, metrics, code = True, 0, 0, {}, 0
    for w in WORKLOADS:
        c, result = one(classes, w, a.seed, a.seconds, a.trace)
        if result is None:
            print(f"{w}: no result (exit {c})", file=sys.stderr)
            return c or 1
        r = json.loads(result)
        print(result, flush=True)
        correct &= r["correct"]
        attempted += r["attempted"]
        failed += r["failed"]
        metrics.update({f"{w}.{k}": v for k, v in r["metrics"].items()})
        code = code or c
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
