#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each end-to-end
metric's spread: the interquartile distance of its values as a share of
their median (statistics.quantiles, n=4).

    python3 perfbench/steadiness.py --workloads mr_text star_stream \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out runs.json

Reads run_seconds and the bounds from BENCHMARK.json; run from the root
of a checkout. Prints one line per workload and metric: median, spread,
bound and whether the spread is below a third of the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from benchlib import stats  # noqa: E402


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat;
    (0, 0) where there is none."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v)


def run_once(workload, seed, seconds, trace=0):
    s0, n0 = cpu_ticks()
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    s1, n1 = cpu_ticks()
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    # Share of the machine's CPU time the hypervisor gave to others.
    steal = (s1 - s0) / (n1 - n0) if n1 > n0 else 0.0
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, steal


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"seconds": seconds, "seeds": a.seeds, "workloads": {}}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            out, wall, steal = run_once(w, s, seconds)
            runs.append({"seed": s, "wall_s": wall, "cpu_steal": steal, "correct": out["correct"],
                         "attempted": out["attempted"], "failed": out["failed"],
                         "metrics": {k: v["value"] for k, v in out["metrics"].items()}})
            print(f"{w} seed {s}: {wall:.0f} s wall, {steal:.1%} steal, correct={out['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        for m in bounds:
            vals = [r["metrics"][m] for r in runs]
            sp = stats.spread(vals) if len(vals) >= 2 else 0.0
            summary[m] = {"median": statistics.median(vals), "spread": sp,
                          "bound": bounds[m], "below_third": sp < bounds[m] / 3}
            print(f"{w:<11} {m:<16} median {summary[m]['median']:10.4f}  spread {sp:6.3f}"
                  f"  bound {bounds[m]:.2f}  {'ok' if sp < bounds[m] / 3 else 'WIDE'}")
        record["workloads"][w] = {"runs": runs, "summary": summary,
                                  "mean_wall_s": statistics.mean(r["wall_s"] for r in runs)}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
