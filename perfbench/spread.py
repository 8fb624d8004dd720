#!/usr/bin/env python3
"""Run a workload with several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload catalog --seeds 1-10 [--seconds 5]

Run from the root of a checkout. Each run's last output line is kept in
`perfbench/records/spread-<workload>.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = str(json.load(f)["run_seconds"])
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    log = os.path.join(HERE, "records", "spread-%s.jsonl" % a.workload)
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        with open(log, "a") as f:
            f.write(last + "\n")
        if r.returncode != 0:
            print("seed %d: exit %d\n%s" % (s, r.returncode, r.stderr[-2000:]))
            continue
        for k, v in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d: %.1f s wall" % (s, walls[-1]), flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        print("%-14s n=%d median=%.4f spread=%.3f" % (k, len(vs), med, spread))
    print("wall per run: median %.1f s, max %.1f s"
          % (statistics.median(walls), max(walls)))


if __name__ == "__main__":
    main()
