#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
with the quartiles of `statistics.quantiles(values, n=4)`.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out FILE]

Run from the repository root. Reads run_seconds, workloads and metrics from
BENCHMARK.json; every run goes through perfbench/run.py with --trace 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"),
                 "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1),
                         "result": res})
            print(f"{w} seed {s}: {time.time() - t0:.1f} s, "
                  f"{'ok' if res and res['correct'] else 'FAILED'}", file=sys.stderr)
        ok = [r["result"] for r in runs if r["result"]]
        summary = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in ok if m in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m] = {"median": med, "spread": (q3 - q1) / med,
                          "bound": bounds[m], "values": vals}
        report[w] = {"runs": len(runs),
                     "correct": sum(1 for r in ok if r["correct"]),
                     "mean_wall_s": statistics.mean(r["wall_s"] for r in runs),
                     "metrics": summary}
        for m, v in summary.items():
            print(f"{w:18s} {m:14s} median {v['median']:10.4f}  spread "
                  f"{v['spread']:.3f}  bound {v['bound']}", file=sys.stderr)
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
