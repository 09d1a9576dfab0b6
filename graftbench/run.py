"""graft benchmark: one seeded closed-loop workload, one JSON result line.

    python3 graftbench/run.py --workload read_mix --seed 1 --seconds 12 --trace 0
    python3 graftbench/run.py --self-test

Builds graft and the benchmark from source (see build.py), runs the
workload in one JVM with Spark in local[k] mode (k = min(4, cores)), and
prints the JVM's report followed by the result line. Exits non-zero,
without a result line, when the build or the run fails, and non-zero with
`"correct": false` when any answer was wrong. See graftbench/README.md.
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
from pathlib import Path

sys.dont_write_bytecode = True  # keep the source tree free of caches
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("read_mix", "write_mix", "llm_ops")
# a run must end within 180 s of its start (the first run in a checkout
# also builds, and is allowed longer)
RUN_LIMIT_S = 170


def run_jvm(cmd, log_path, limit_s):
    """Runs the JVM in its own process group, echoing stdout; returns
    (exit code, stdout lines), or (None, lines) when it had to be stopped.
    The JVM never outlives this call."""
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        timer = threading.Timer(limit_s, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
                print(lines[-1], flush=True)
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return (None if proc.returncode == -signal.SIGKILL else proc.returncode), lines


def tail(path, n=40):
    try:
        return "".join(Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main():
    t0 = time.monotonic()
    # a stop request unwinds through run_jvm, which stops the JVM
    signal.signal(signal.SIGTERM, lambda n, _: sys.exit(128 + n))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        jar, jars = build.build(tests=a.self_test)
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2
    built_s = time.monotonic() - t0
    work = build.OUT / f"run-{os.getpid()}"
    logs = build.OUT / "logs"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    try:
        if a.self_test:
            cmd = build.java_cmd(jar, jars, work / "tmp", "graftbench.SelfTest",
                           ["--work", str(work), "--cores", str(min(cores, 2)),
                            "--benchmark-json", str(build.ROOT / "BENCHMARK.json")])
            code, _ = run_jvm(cmd, logs / "selftest.log", 600)
            if code != 0:
                print(tail(logs / "selftest.log"), file=sys.stderr)
            return 1 if code is None else code
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        cmd = build.java_cmd(jar, jars, work / "tmp", "graftbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", str(work), "--cores", str(cores)])
        # the build's own time does not count against a run's limit
        limit = RUN_LIMIT_S - (time.monotonic() - t0 - built_s)
        code, lines = run_jvm(cmd, logs / f"{tag}.log", limit)
        if code is None:
            print(f"graftbench: run exceeded {RUN_LIMIT_S}s and was stopped", file=sys.stderr)
            return 3
        try:
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError, AssertionError):
            print(f"graftbench: the run printed no result (exit {code}); log tail:\n"
                  + tail(logs / f"{tag}.log"), file=sys.stderr)
            return code or 4
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
