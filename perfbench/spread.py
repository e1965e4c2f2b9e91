#!/usr/bin/env python3
"""Runs one workload on several seeds, in sequence, and prints each
end-to-end metric's median, quartiles and spread — (Q3 - Q1) / median,
quartiles as statistics.quantiles(n=4) gives them — against its bound in
BENCHMARK.json. This is the steadiness check a benchmark change must pass
(every spread except setup_s's within its bound).

    python3 perfbench/spread.py --workload cdc --seeds 1 2 3 4 5 [--seconds S]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    rows = []
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {out.returncode})")
            continue
        rows.append(json.loads(lines[-1]))
        r = rows[-1]
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    if len(rows) < 2:
        return
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        sp = stats.quartile_spread(vals)
        flag = "" if m["name"] == "setup_s" or sp <= m["bound"] else "  OVER BOUND"
        print(f"{m['name']:20s} median {statistics.median(vals):12.4f}  "
              f"q1 {q1:12.4f}  q3 {q3:12.4f}  spread {sp:.3f}  bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
