#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload curate_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (see build.py); every run then starts one JVM driving Spark on
local[min(4, cores)], writes its scratch files under the build directory,
deletes them when it ends, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the metrics are the per-layer ones, and the span file is
written to <build dir>/traces/<workload>-seed<seed>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("workflow_retrain", "curate_stream")

# A run still going after this long is killed and reported as failed.
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = build.default_build_dir()
    build.build(os.getcwd(), build_dir)

    run_dir = os.path.join(build_dir, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = build.java_env(run_dir)
    spans = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = build.java_cmd(build_dir, run_dir, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(run_dir, "work"), "--spans", spans])

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=run_dir,
                            start_new_session=True, text=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    t0 = time.time()
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run: no result after {RUN_TIMEOUT_S} s", file=sys.stderr)
        kill()
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"run: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        sys.exit(1)
    result = json.loads(lines[-1])
    with open("BENCHMARK.json") as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if (set(result) != {"correct", "attempted", "failed", "metrics"}
            or set(result["metrics"]) != {m["name"] for m in listed}):
        print(f"run: result does not match BENCHMARK.json: {lines[-1]}",
              file=sys.stderr)
        sys.exit(1)
    print(f"run: {args.workload} seed {args.seed} took {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
