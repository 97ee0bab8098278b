#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed for each workload
and print, per end-to-end metric, the median and the distance between
the first and third quartile as a share of the median.

    python3 perfbench/steadiness.py --workloads load curate --seeds 1-10

Each run's last line is also appended to --out (JSON lines) so two sets
of runs can be compared afterwards.
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
    ap.add_argument("--workloads", nargs="+", default=["load", "curate"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(HERE), ".bench_build", "perfbench", "steadiness.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    for w in a.workloads:
        vals, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(s),
                                "--seconds", a.seconds, "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s,
                                    "wall_s": walls[-1], "result": res}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {s}: correct=false ({res['failed']} failed)")
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        print(f"{w}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, xs in vals.items():
            med = statistics.median(xs)
            if len(xs) < 2:
                print(f"  {k:12s} {med:.6g}")
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            print(f"  {k:12s} median {med:.6g}  spread {spread:.3f}  "
                  f"bound {bounds.get(k, float('nan'))}  "
                  f"{'ok' if spread < bounds.get(k, 0) / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
