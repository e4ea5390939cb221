#!/usr/bin/env python3
"""Steadiness check: run one workload under several seeds and report, for
each end-to-end metric, its median and its inter-quartile spread as a share
of the median next to the metric's bound.

    python3 perfbench/steady.py --workload tpch --seeds 1-10

Runs are sequential (one benchmark at a time on the box). Each run's last
stdout line is appended to .bench_build/steady/<workload>.jsonl.
"""
import argparse
import json
import os
import subprocess
import sys

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = os.path.join(ROOT, ".bench_build", "steady", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {s}: rc={r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(last)
        with open(out, "a") as f:
            f.write(json.dumps({"seed": s, **res}) + "\n")
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        sp = M.spread(xs) if len(xs) >= 2 else float("nan")
        print(f"{m['name']:>14}: median {M.median(xs):.4f} {m['unit']}  "
              f"spread {sp:.3f}  bound {m['bound']}  (n={len(xs)})")


if __name__ == "__main__":
    main()
