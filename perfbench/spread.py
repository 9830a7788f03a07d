#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload sql_logs --seeds 1-10 [--seconds S]

Runs the benchmark once per seed (untraced) and prints, for each metric,
its values, median and interquartile distance as a share of the median,
next to a third of the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics as m  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {e["name"]: e["bound"] for e in bench["end_to_end"]}
    print(f"run wall: median {m.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        s = m.spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: median {m.median(vs):.5g}, spread {s:.4f}, bound/3 {bounds[k] / 3:.4f}"
              f"{'' if s < bounds[k] / 3 or k == 'setup_s' else '  <-- too wide'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
