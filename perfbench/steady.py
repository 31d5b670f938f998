#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, compared by metric.

    python3 perfbench/steady.py --runs 10 [--workload query_mix ...] [--trace]

Runs ``perfbench/run.py`` ``--runs`` times per set, two sets, each run with
its own seed (set one uses seeds 1..n, set two n+1..2n). For every
end-to-end metric of every workload it prints each set's quartiles, the
inter-quartile spread as a share of the median, and whether the spread and
the second set's median stay within the metric's bound from
``BENCHMARK.json``. With ``--trace`` it also makes one traced run per
workload and prints the tracing overhead: the traced run's own latency and
throughput against the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--trace", action="store_true", help="also report the tracing overhead")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    secs = bench["run_seconds"]
    ok = True
    for wl in workloads:
        sets = []
        for s in range(2):
            runs = [one_run(wl, 1 + s * args.runs + i, secs, 0) for i in range(args.runs)]
            bad = [r for r in runs if not r["correct"]]
            if bad:
                ok = False
                print(f"{wl}: {len(bad)} runs of set {s + 1} had failed ops", flush=True)
            sets.append(runs)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            q = [stats.quartiles(v) for v in vals]
            spread = [stats.relative_spread(v) for v in vals]
            worse = (q[1][1] - q[0][1]) / q[0][1]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= bound
            steady = name == "setup_s" or all(sp <= bound for sp in spread)
            ok &= agree and steady
            print(f"{wl:18s} {name:18s} bound {bound:.2f} | "
                  + " | ".join(f"set{i + 1} q1 {a:.4g} med {b:.4g} q3 {c:.4g} spread {sp:.3f}"
                               for i, ((a, b, c), sp) in enumerate(zip(q, spread)))
                  + f" | set2 worse by {worse:+.3f} {'ok' if agree and steady else 'OUT OF BOUND'}", flush=True)
        if args.trace:
            traced = one_run(wl, 1, secs, 1)["metrics"]
            for e2e, tr, higher in (("latency_p50_s", "trace.latency_p50_s", False),
                                    ("throughput_ops_s", "trace.throughput_ops_s", True)):
                base = stats.quartiles([r["metrics"][e2e]["value"] for r in sets[0]])[1]
                val = traced[tr]["value"]
                cost = (base - val) / base if higher else (val - base) / base
                print(f"{wl:18s} tracing overhead on {e2e}: traced {val:.4g} vs untraced median {base:.4g} "
                      f"({cost:+.1%})", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
