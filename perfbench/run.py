#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 22 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run. A human-readable summary, with sample
counts, the error rate and the tail percentile, goes to standard error.
Exits 2 without a result when the engine package is not next to this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "fantasy_premier_league_spark", "__init__.py")
WORKLOADS = ("query_mix", "fpl_gameweek_etl")


def make_workload(name: str):
    if name == "query_mix":
        from wl_queries import QueryWorkload

        return QueryWorkload()
    from wl_fpl import FplGameweekEtl

    return FplGameweekEtl()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"engine package not found at {os.path.dirname(PACKAGE)}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark may print to fd 1; keep the real stdout for the result line only.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    import harness

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        workload = make_workload(args.workload)
        res = harness.run(workload, seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
        if args.trace:
            import layers

            metrics = layers.per_layer(res, work)
        else:
            metrics = {k: (v, unit) for k, (v, unit, _n) in harness.end_to_end(res).items()}
        harness.report(args.workload, res, sys.stderr)
    finally:
        harness.clean(work)
    failed = sum(1 for r in res.records if not r.ok)
    line = {
        "correct": failed == 0,
        "attempted": len(res.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    print(json.dumps(line), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
