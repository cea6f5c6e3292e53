#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and summarise their spread.

    python3 perfbench/stats.py --workloads ingest,night-job \\
        --seeds 1-10 --trace 0                  # run, then summarise
    python3 perfbench/stats.py --workloads ingest --seeds 1-10 --sets 2
    python3 perfbench/stats.py --workloads night-job --seeds 1-10 --no-run

For each workload and end-to-end metric it prints the median over the seeds,
the interquartile range as a share of the median (statistics.quantiles,
n=4) and the bound from BENCHMARK.json. Where both untraced and traced
results exist it prints the tracing overhead (traced median / untraced
median - 1) and the share of the unit wall the named spans leave uncovered
(trace.residual_ms). With --sets N each seed is run N times in a row, so the
sets interleave, and each later set's untraced medians are compared with the
first set's. Results are read from .perfbench/results/, where
perfbench/run.py leaves each run's figures (with --sets N, moved to a .setK
suffix, K from 0).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def result_path(workload, seed, trace, set_no=None):
    suffix = "" if set_no is None else f".set{set_no}"
    return os.path.join(ROOT, ".perfbench", "results", f"{workload}-s{seed}-t{trace}{suffix}.json")


def load(workload, seed, trace, set_no=None):
    path = result_path(workload, seed, trace, set_no)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def main(argv):
    p = argparse.ArgumentParser(description="Run seeds and summarise spreads.")
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", default="0", choices=["0", "1", "both"])
    p.add_argument("--sets", type=int, default=1, help="interleaved sets of runs per seed")
    p.add_argument("--no-run", action="store_true", help="only summarise saved results")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    traces = [0, 1] if a.trace == "both" else [int(a.trace)]
    for w in a.workloads.split(","):
        if not a.no_run:
            for s in seeds(a.seeds):
                for k in range(a.sets):
                    for t in traces:
                        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                               "--seed", str(s), "--seconds", str(seconds), "--trace", str(t)]
                        t0 = time.time()
                        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                        last = (out.stdout.strip().splitlines() or ["<no output>"])[-1]
                        print(f"{w} seed {s} set {k} trace {t}: exit {out.returncode} "
                              f"in {time.time() - t0:.0f} s {last[:160]}", flush=True)
                        if a.sets > 1 and out.returncode == 0:
                            os.replace(result_path(w, s, t), result_path(w, s, t, k))
        first = 0 if a.sets > 1 else None
        runs = {t: [r for r in (load(w, s, t, first) for s in seeds(a.seeds)) if r]
                for t in (0, 1)}
        print(f"== {w}: {len(runs[0])} untraced, {len(runs[1])} traced runs")
        for name, bound in bounds.items():
            row = f"  {name:16s}"
            for t in (0, 1):
                vals = [r["end_to_end"][name] for r in runs[t]]
                if len(vals) >= 2:
                    row += (f" t{t}: median {statistics.median(vals):10.4g}"
                            f" spread {metrics.spread(vals):6.3f}")
            if runs[0] and runs[1]:
                m0 = statistics.median(r["end_to_end"][name] for r in runs[0])
                m1 = statistics.median(r["end_to_end"][name] for r in runs[1])
                row += f" overhead {m1 / m0 - 1:+.3f}"
            print(f"{row}  bound {bound}")
        if runs[1]:
            share = [r["per_layer"]["trace.residual_ms"] / 1000 / r["end_to_end"]["work_s"]
                     for r in runs[1]]
            print(f"  residual share of unit wall: median {statistics.median(share):.4f}")
        for k in range(1, a.sets):
            later = [r for r in (load(w, s, 0, k) for s in seeds(a.seeds)) if r]
            if len(later) < 2 or len(runs[0]) < 2:
                continue
            print(f"  set {k}: {len(later)} untraced runs")
            for name, bound in bounds.items():
                vals = [r["end_to_end"][name] for r in later]
                m0 = statistics.median(r["end_to_end"][name] for r in runs[0])
                print(f"  {name:16s} set {k}: median {statistics.median(vals):10.4g}"
                      f" spread {metrics.spread(vals):6.3f} vs set 0 "
                      f"{statistics.median(vals) / m0 - 1:+.3f}  bound {bound}")


if __name__ == "__main__":
    main(sys.argv[1:])
