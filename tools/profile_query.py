#!/usr/bin/env python3
"""Empirical per-query profile via the Spark event log (guide §1).

The UI is disabled in this profile, so this is the measurement tool: run
the named queries under bench discipline (noop sink, cache release between
runs) with the event log enabled, then parse the log into a per-query
job/stage breakdown — stage wall, task count, input / shuffle-read /
shuffle-write bytes — so time can be attributed to scan vs exchange vs
compute before anything is changed.

Each timed run also reports the Spark jobs it submitted (``jobs=``) and
the generated classes Spark compiled during it and their Janino
milliseconds (``codegen=`` and ``compile_ms=``), so a per-call metadata
job or a recompile storm shows per query.

Usage: python tools/profile_query.py q42_label_communities [-n 2] [--sf-dir D]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "eventlog")


def fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024 or unit == "GB":
            return f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}GB"


def codegen_totals(spark) -> tuple[int, float | None, float]:
    """(classes compiled, compile ms, mean ms) so far in this JVM, all from
    Spark's CodegenMetrics compile-time histogram. Its reservoir keeps
    1028 samples, so the ms sum is None once it no longer holds every
    compile; the mean (recency-weighted) then stands in."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count, snap = hist.getCount(), hist.getSnapshot()
    total = float(sum(snap.getValues())) if snap.size() == count else None
    return count, total, snap.getMean()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=1, help="timed runs per query (last run is profiled)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    os.makedirs(EVDIR, exist_ok=True)
    extra = f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{EVDIR}"
    prev = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (prev + ";" + extra) if prev else extra

    from fantasy_premier_league_spark.operators.cache import release_operator_caches
    from fantasy_premier_league_spark.queries import all_queries
    from fantasy_premier_league_spark.session import get_spark

    spark = get_spark("profile")
    app_id = spark.sparkContext.applicationId
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    registry = all_queries()
    registry["v01_pricing_summary"].fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
    release_operator_caches()

    windows: dict[str, tuple[float, float, list[float]]] = {}
    for name in args.names:
        q = registry[name]
        runs, submitted, compiled, compile_ms = [], [], [], []
        for i in range(args.n):
            c0, ms0, _ = codegen_totals(spark)
            j0 = dag.numTotalJobs()
            t0 = time.time() * 1000
            q.fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            t1 = time.time() * 1000
            submitted.append(dag.numTotalJobs() - j0)
            c1, ms1, mean = codegen_totals(spark)
            release_operator_caches()
            runs.append(round((t1 - t0) / 1000, 3))
            compiled.append(c1 - c0)
            if ms1 is not None:
                compile_ms.append(f"{ms1 - ms0:.0f}")
            else:  # sampled: estimate from the mean
                compile_ms.append(f"~{(c1 - c0) * mean:.0f}")
            windows[name] = (t0, t1, runs)  # profile the LAST run's window
        print(
            f"## {name}: runs={runs} jobs={submitted} codegen={compiled} "
            f"compile_ms=[{', '.join(compile_ms)}]",
            flush=True,
        )

    # flush + parse the in-progress event log
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    time.sleep(1.0)
    log_path = None
    for fn in os.listdir(EVDIR):
        if app_id in fn:
            log_path = os.path.join(EVDIR, fn)
    if log_path is None:
        print("no event log found", file=sys.stderr)
        sys.exit(1)
    if os.path.isdir(log_path):
        # Spark 4 rolling layout: a directory holding events_N_<app>[.codec]
        parts = sorted(
            os.path.join(log_path, f)
            for f in os.listdir(log_path)
            if f.startswith("events_")
        )
        if not parts:
            print("no events_* file in event log dir", file=sys.stderr)
            sys.exit(1)
        log_path = parts[-1]

    def _open_log(path):
        if path.endswith(".zstd"):
            import subprocess

            p = subprocess.Popen(
                ["zstd", "-dc", path], stdout=subprocess.PIPE, text=True
            )
            return p.stdout
        return open(path)

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = {}
    with _open_log(log_path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get("spark.job.description", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"],
                    "ntasks": si["Number of Tasks"],
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = stage_metrics.setdefault(
                    sid,
                    {"run": 0, "gc": 0, "input": 0, "sr": 0, "sw": 0, "fetchwait": 0, "spill": 0, "cpu": 0},
                )
                agg["run"] += m.get("Executor Run Time", 0)
                agg["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                agg["gc"] += m.get("JVM GC Time", 0)
                agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                agg["sr"] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                agg["fetchwait"] += srm.get("Fetch Wait Time", 0)
                agg["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                agg["spill"] += m.get("Disk Bytes Spilled", 0)

    for name, (t0, t1, runs) in windows.items():
        print(f"\n=== {name} (last run {runs[-1]}s, window {t1 - t0:.0f}ms) ===")
        qjobs = [
            (jid, j) for jid, j in sorted(jobs.items())
            if j.get("t0", 0) >= t0 - 50 and j.get("t1", t1) <= t1 + 50
        ]
        print(f"jobs: {len(qjobs)}")
        for jid, j in qjobs:
            jdur = (j.get("t1", 0) - j["t0"]) / 1000
            print(f"  job {jid}: {jdur:.3f}s")
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if not st or st.get("t0") is None:
                    continue
                sm = stage_metrics.get(sid, {})
                sdur = (st["t1"] - st["t0"]) / 1000
                print(
                    f"    stage {sid}: {sdur:6.3f}s  tasks={st['ntasks']:3d}  "
                    f"taskrun={sm.get('run', 0) / 1000:6.2f}s cpu={sm.get('cpu', 0) / 1000:6.2f}s "
                    f"gc={sm.get('gc', 0) / 1000:4.2f}s "
                    f"in={fmt_bytes(sm.get('input', 0))} sr={fmt_bytes(sm.get('sr', 0))} "
                    f"sw={fmt_bytes(sm.get('sw', 0))} "
                    f"fw={sm.get('fetchwait', 0) / 1000:4.2f}s  {st['name'][:70]}"
                )


if __name__ == "__main__":
    main()
