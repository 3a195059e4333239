"""Runs one workload of the load benchmark and prints its result.

    python3 loadbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source if needed
(loadbench/build.py), generates the workload's inputs from the seed
(loadbench/gen.py), then runs the benchmark JVM (loadbench.Main) on them.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; an earlier line gives the sizes,
host context and check details. All scratch lives under one temp
root, .bench_tmp/run-<pid>, deleted when the run ends. Traced runs also
write a detail file under .bench_results/. See loadbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("search_hybrid", "dedup_stream")
SETUPS = 3          # set-ups per untraced run; setup_s is their median
# seconds of untimed ops of the measured shape (at least one op): search ops
# keep getting faster for about 15 s of ops (JIT); one dedup op is 10-12 s
WARMUP_S = {"search_hybrid": 12, "dedup_stream": 1}
MIN_OPS = 2         # the loop runs --seconds and at least this many ops
RUN_LIMIT_S = 170   # one run, build excluded, must end within this


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out = build.build()
    t_start = time.monotonic()
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jvm-tmp"))
    log = os.path.join(tmp, "jvm.log")
    try:
        inputs = os.path.join(tmp, "inputs")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", inputs], check=True)
        cmd = build.java(out, os.path.join(tmp, "jvm-tmp")) + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--work", os.path.join(tmp, "work"),
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--setups", str(SETUPS), "--warmup", str(WARMUP_S[a.workload]),
            "--min-ops", str(MIN_OPS),
            "--results", os.path.join(ROOT, ".bench_results"),
            "--commit", f"{commit()} {os.path.basename(out)}"]
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(
                    timeout=max(30.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return fail("benchmark JVM timed out", log)
        lines = [x for x in stdout.splitlines() if x.strip()]
        if proc.returncode != 0 or not lines:
            return fail(f"benchmark JVM exited with {proc.returncode}", log)
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            return fail(f"malformed result line: {lines[-1]}", log)
        for x in lines[:-1]:
            print(x)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass


def fail(msg, log):
    print(f"loadbench: {msg}", file=sys.stderr)
    try:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    except OSError:
        pass
    return 1


if __name__ == "__main__":
    sys.exit(main())
