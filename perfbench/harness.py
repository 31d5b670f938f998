"""Closed-loop runner shared by every workload.

One client, one process: the runner starts the engine's Spark session,
prepares the workload's inputs from the seed, runs an untimed warm-up, then
issues ops back to back (the next op starts when the previous one returns)
until ``seconds`` of timed wall time have passed. Each op's output is checked
after the timed loop; an op that raised or whose output is wrong counts as
failed, never shortens the loop, and ranks as slower than every good op in
the latency percentiles.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import stats

#: session settings, identical on both sides of every comparison
DRIVER_MEM = "3g"
#: task slots: half the CPUs, so the JVM's compiler and GC threads and the
#: Python client run beside the tasks instead of preempting them
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
#: input generation repeats this often per run; setup reports the median
SETUP_REPS = 3


@dataclass
class OpRecord:
    index: int
    name: str
    start: float
    end: float
    output: Any = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


class Workload:
    """One closed-loop workload. Subclasses fill in the hooks."""

    name = ""
    #: untimed ops run before the timed loop
    warmup_ops = 2

    def prepare(self, spark, work: str, seed: int) -> None:
        """Generate the inputs for ``seed`` under the fresh directory ``work``."""
        raise NotImplementedError

    def next_op(self) -> tuple[str, Callable[[], Any]]:
        """The next op's name and a callable that runs it and returns its output."""
        raise NotImplementedError

    def after_op(self) -> None:
        from fantasy_premier_league_spark.operators.cache import release_operator_caches

        release_operator_caches()

    def start_timed(self) -> None:
        """Called once between the warm-up and the timed loop."""

    def at_pass_boundary(self) -> bool:
        """The timed loop only stops where this is true."""
        return True

    def result_rows(self, rec: OpRecord) -> int:
        """Rows of the op's result, for the rows-in per row-out ratio."""
        return 0

    def check(self, records: list[OpRecord]) -> None:
        """Fill ``problems`` of every record whose output is wrong."""
        raise NotImplementedError

    def install_trace(self, tracer) -> None:
        """Wrap the layers this workload touches with spans."""

    def layer_metrics(self, tracer, records: list[OpRecord]) -> dict[str, float]:
        """Workload-specific per-layer metrics of a traced run."""
        return {}

    def close(self) -> None:
        """Stop anything the workload started."""


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory; keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=10)
        return self.peak


def session_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for the engine's own session factory."""
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
    ]
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{work}/eventlog"]
    return {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "SPARK_GRAFT_JAVA_OPTS": (
            f"-Djava.net.preferIPv4Stack=true -XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "TMPDIR": f"{work}/tmp",
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class RunResult:
    records: list[OpRecord]
    setup_s: float
    session_s: float
    prepare_s: list[float]
    warmup_s: float
    loop_s: float
    peak_rss_bytes: int
    layer: dict[str, float]
    workload: Workload | None = None
    tracer: object | None = None


def _run_op(index: int, name: str, fn: Callable[[], Any], workload: Workload, tracer) -> OpRecord:
    if tracer is not None:
        tracer.op = index
    start = time.time()
    try:
        if tracer is not None:
            with tracer.span("op", op_name=name):
                out = fn()
        else:
            out = fn()
        rec = OpRecord(index, name, start, time.time(), output=out)
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
        rec = OpRecord(index, name, start, time.time(), error=f"{type(exc).__name__}: {exc}")
        traceback.print_exc(file=sys.stderr)
    if tracer is not None:
        tracer.sample_storage()
    try:
        workload.after_op()
    finally:
        if tracer is not None:
            tracer.op = None
    return rec


def run(workload: Workload, *, seed: int, seconds: float, trace: bool, work: str) -> RunResult:
    t_process = time.time()
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(session_env(work, trace))
    sampler = RssSampler()
    sampler.start()
    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
    try:
        t0 = time.time()
        from fantasy_premier_league_spark.session import get_spark

        if tracer is not None:
            with tracer.span("session.start"):
                spark = get_spark(f"perfbench-{workload.name}")
        else:
            spark = get_spark(f"perfbench-{workload.name}")
        session_s = time.time() - t0
        try:
            prepare_s = []
            for rep in range(SETUP_REPS):
                inputs = os.path.join(work, f"inputs-{rep}")
                t0 = time.time()
                workload.prepare(spark, inputs, seed)
                prepare_s.append(time.time() - t0)
            if tracer is not None:
                workload.install_trace(tracer)
            t0 = time.time()
            for i in range(workload.warmup_ops):
                name, fn = workload.next_op()
                warm = _run_op(-1 - i, name, fn, workload, None)
                if warm.error:
                    print(f"warm-up op {name} failed: {warm.error}", file=sys.stderr)
            warmup_s = time.time() - t0
            setup_s = session_s + statistics.median(prepare_s) + warmup_s
            print(f"setup: session {session_s:.2f}s, inputs {prepare_s}, warm-up {warmup_s:.2f}s "
                  f"(wall since start {time.time() - t_process:.2f}s)", file=sys.stderr)

            records: list[OpRecord] = []
            workload.start_timed()
            loop_start = time.time()
            while time.time() - loop_start < seconds or not workload.at_pass_boundary():
                name, fn = workload.next_op()
                records.append(_run_op(len(records), name, fn, workload, tracer))
            loop_s = time.time() - loop_start
            workload.check(records)
            layer = workload.layer_metrics(tracer, records) if tracer is not None else {}
        finally:
            workload.close()
            stop_session(spark)
    finally:
        peak = sampler.stop()
    if tracer is not None:
        layer["session.start_s"] = session_s
        # the run directory is removed at exit; the spans outlive it
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{workload.name}.json"))
    return RunResult(records, setup_s, session_s, prepare_s, warmup_s, loop_s, peak, layer, workload, tracer)


def ranked_latencies(records: list[OpRecord]) -> list[float]:
    """Op latencies, sorted, with failed ops ranked above every good op:
    a failed op misses any latency limit."""
    good = sorted(r.seconds for r in records if r.ok)
    return good + [float("inf")] * (len(records) - len(good))


def median_latency(records: list[OpRecord], loop_s: float) -> float:
    """Median op wall time, the mean of the two middle ops for an even
    count: a nearest-rank p50 of a query mix jumps between neighbouring
    queries. When a middle op failed, the timed wall time stands in."""
    med = statistics.median(ranked_latencies(records))
    return med if med != float("inf") else loop_s


def end_to_end(res: RunResult) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples) for every end-to-end metric."""
    n = len(res.records)
    return {
        "setup_s": (res.setup_s, "s", len(res.prepare_s)),
        "latency_p50_s": (median_latency(res.records, res.loop_s), "s", n),
        "throughput_ops_s": (sum(1 for r in res.records if r.ok) / res.loop_s, "ops/s", n),
    }


def tail(res: RunResult) -> tuple[int | None, float | None]:
    """(percentile, seconds) of the highest percentile with >= 10 samples
    beyond it, or (None, None) when the run has too few ops."""
    p = stats.tail_percentile(len(res.records))
    if p is None:
        return None, None
    return p, stats.percentile(ranked_latencies(res.records), p)


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def report(workload: str, res: RunResult, out) -> None:
    """Human-readable summary: every end-to-end metric with its unit and
    sample count, the error rate, and the tail percentile."""
    raised = sum(1 for r in res.records if r.error)
    wrong = sum(1 for r in res.records if r.error is None and r.problems)
    print(f"== {workload}: {len(res.records)} ops in {res.loop_s:.2f}s timed", file=out)
    for name, (value, unit, n) in end_to_end(res).items():
        print(f"  {name:18s} {value:12.4f} {unit:6s} n={n}", file=out)
    print(f"  peak_rss_mb        {res.peak_rss_bytes / 2**20:12.1f} MB     (diagnostic, unbounded)", file=out)
    p, t = tail(res)
    if p is None:
        print(f"  latency_tail_s     n/a (needs >= {2 * stats.TAIL_BEYOND} ops, got {len(res.records)})", file=out)
    else:
        print(f"  latency_tail_s     {t:12.4f} s      p{p} n={len(res.records)}", file=out)
    if res.records:
        rate = stats.error_rate(len(res.records), raised, wrong)
        print(f"  error_rate         {rate:12.4f} ratio  n={len(res.records)} (raised {raised}, wrong {wrong})",
              file=out)
    for r in res.records:
        if not r.ok:
            print(f"  FAILED op {r.index} {r.name}: {r.error or '; '.join(r.problems)}", file=out)
    print("  ops: " + " ".join(f"{r.name}={r.seconds:.3f}" for r in res.records), file=out)
