"""Runs graft's benchmark.

    python3 graftbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark if a source changed (see build.py), then runs each
workload in its own JVM with fixed settings. Every metric is printed by
name with its unit; the last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is non-zero when a
correctness check fails or the run does not finish.

Build output, per-run work directories and trace files live under
$CARGO_TARGET_DIR (default .bench_build) of the checkout, in graftbench/;
a run's work directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["tsdb_dashboard", "dedup_corpus"]
# fixed heap and collector; heap pages are not pre-touched
HEAP = "1536m"
GC = "-XX:+UseG1GC"
# a run must end within this many seconds of its start (building excluded)
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_one(workload, args, classes, bench_dir):
    """Runs one workload; returns (exit code, parsed result or None)."""
    work = os.path.join(bench_dir, "work", uuid.uuid4().hex)
    os.makedirs(work)
    jars = build.spark_jars()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "graftbench", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work-dir", work,
            "--out-dir", os.path.join(bench_dir, "traces")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        if proc.poll() is None:
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line
        code = proc.wait()
    finally:
        watchdog.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print(f"{workload}: run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
        return 3, None
    try:
        result = json.loads(last) if last else None
    except json.JSONDecodeError:
        result = None
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1].strip())
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bench_dir = os.path.join(os.path.abspath(base if os.path.isabs(base)
                                             else os.path.join(build.ROOT, base)), "graftbench")
    try:
        classes = build.build(bench_dir)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    # stop the JVM too if this process is told to stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload != "all":
        code, result = run_one(args.workload, args, classes, bench_dir)
        return code if result is not None or code != 0 else 4

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, result = run_one(w, args, classes, bench_dir)
        worst = worst or code
        if result is None:
            combined["correct"] = False
            worst = worst or 4
            continue
        combined["correct"] &= bool(result["correct"])
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for name, m in result["metrics"].items():
            combined["metrics"][f"{w}.{name}"] = m
    print(json.dumps(combined))
    return worst


BuildError = build.BuildError

if __name__ == "__main__":
    sys.exit(main())
