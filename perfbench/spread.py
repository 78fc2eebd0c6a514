#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ecg_sweep --seeds 1-10 [--out FILE]

Runs the benchmark once per seed (untraced, BENCHMARK.json's run_seconds)
and reports, per metric, the median and the distance between the first and
third quartile as a share of the median, which is how a change is judged
against the metric's bound. Run from the root of a checkout.
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def box_seconds():
    """Median of three timings of a fixed pure-Python loop: how fast the box
    runs single-threaded code just before a run, to tell drift of the box
    from changes of the program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1000000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return benchlib.median(times)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in args.seeds:
        box_s = box_seconds()
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=root, capture_output=True, text=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "exit": proc.returncode, "run_s": time.time() - t0,
                     "box_s": box_s,
                     "correct": result["correct"], "failed": result["failed"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
        print(json.dumps(runs[-1]), flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name] for r in runs]
        summary[name] = {"median": benchlib.median(values),
                         "iqr_spread": benchlib.iqr_spread(values)}
        print("%-16s median %10.4f  spread %.4f" % (name, summary[name]["median"],
                                                    summary[name]["iqr_spread"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary},
                      f, indent=1, sort_keys=True)
    return 0 if all(r["correct"] and r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
