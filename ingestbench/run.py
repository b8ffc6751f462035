"""Run one workload of the ingestion benchmark.

    python3 ingestbench/run.py --workload merge_cdc --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft and the
benchmark (see build.py). Each run starts a fresh JVM on a fresh scratch
root under .bench_build/runs/, which is deleted afterwards. The JVM's
standard output is passed through; its last line is the result object.
With --trace 1 the span and job records are kept under .bench_build/traces/
and the JVM log under .bench_build/logs/.

Exit codes: 0 all checks passed, 1 a check or operation failed, 2 the build
failed or the checkout has no graft sources, 3 the run did not finish.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the runner leaves nothing in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("merge_cdc", "group_full_small")
# the whole run, build excluded, must end well inside three minutes
RUN_BUDGET_S = 170


def git_commit(repo):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated runner still stops and reaps its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    repo = os.getcwd()
    try:
        built = build.build(repo)
    except build.BuildError as e:
        print(f"ingestbench: {e}", file=sys.stderr)
        return 2

    out = os.path.join(repo, build.OUT_DIR)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    root = os.path.join(out, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    log_path = os.path.join(out, "logs", f"{a.workload}-trace{a.trace}.log")

    cmd = build.jvm_command(built, root, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--commit", git_commit(repo)])
    start = time.monotonic()
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log,
                                    text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_BUDGET_S)
            except subprocess.TimeoutExpired:
                print(f"ingestbench: run exceeded {RUN_BUDGET_S} s; see {log_path}",
                      file=sys.stderr)
                return 3
        if a.trace:
            traces = os.path.join(out, "traces", tag)
            shutil.rmtree(traces, ignore_errors=True)
            if os.path.isdir(os.path.join(root, "trace")):
                shutil.copytree(os.path.join(root, "trace"), traces)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)

    lines = stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not (isinstance(result, dict) and
            set(result) == {"correct", "attempted", "failed", "metrics"}):
        with open(log_path) as f:
            tail = f.readlines()[-30:]
        print("ingestbench: the run printed no result "
              f"(exit code {proc.returncode}); last log lines:", file=sys.stderr)
        sys.stderr.writelines(tail)
        return 3
    for line in lines:
        print(line)
    print(f"ingestbench: {a.workload} took {time.monotonic() - start:.1f} s",
          file=sys.stderr)
    return 0 if proc.returncode == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
