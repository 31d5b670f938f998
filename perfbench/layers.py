"""Per-layer metrics of a traced run.

Layer names are the engine's module names. Times are span self times (a
layer's span minus the part its child spans cover), so nested layers are not
counted twice. Spark jobs come from the event log and are charged to every
layer with a span open when they were submitted (a job an operator's eager
checkpoint starts counts for that operator); per-op figures divide by the
number of timed ops. Every metric is printed for every workload; a layer the
workload does not touch reads 0.
"""

from __future__ import annotations

import os

import eventlog
import harness

#: name -> unit, in print order
METRICS = {
    "session.start_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "queries.plan_s": "s",
    "queries.eager_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.input_bytes": "bytes",
    "exec.rows_in_per_row_out": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.python_s": "s",
    "exec.python_rows": "count",
    "cache.persists": "count",
    "cache.checkpoints": "count",
    "cache.release_s": "s",
    "cache.storage_bytes_peak": "bytes",
    "operators.dedup.s": "s",
    "operators.dedup.jobs": "count",
    "operators.similarity.s": "s",
    "operators.similarity.jobs": "count",
    "operators.graph.s": "s",
    "operators.graph.jobs": "count",
    "operators.fuzzy.s": "s",
    "operators.fuzzy.pairs_per_match": "ratio",
    "functions.features.s": "s",
    "etl.ingest.s": "s",
    "etl.transform.s": "s",
    "etl.quality.s": "s",
    "etl.quality.jobs": "count",
    "etl.features.s": "s",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "ml.eval_s": "s",
    "sources.write_s": "s",
    "sources.write_files": "count",
    "sources.write_bytes": "bytes",
    "sources.write_amplification": "ratio",
    "streaming.batch_s": "s",
    "streaming.rows_per_batch": "count",
    "streaming.drop_ratio": "ratio",
    "trace.latency_p50_s": "s",
    "trace.throughput_ops_s": "ops/s",
}


def _within(tracer, span_prefix: str):
    """Spans whose name is ``span_prefix`` or starts with ``span_prefix.``."""
    return [sp for sp in tracer.spans if sp.name == span_prefix or sp.name.startswith(span_prefix + ".")]


def _jobs_under(tracer, jobs, prefix: str) -> int:
    """Jobs submitted while any span of ``prefix`` was open."""
    spans = _within(tracer, prefix)
    return sum(1 for j in jobs if any(sp.start <= j.submit_s <= sp.end for sp in spans))


def per_layer(res: harness.RunResult, work: str) -> dict[str, tuple[float, str]]:
    tracer, wl, recs = res.tracer, res.workload, res.records
    n_ops = max(len(recs), 1)
    log = eventlog.parse(eventlog.log_files(f"{work}/eventlog"))
    windows = [(r.start, r.end) for r in recs]
    jobs = [j for j in log.jobs if any(s <= j.submit_s <= e for s, e in windows)]
    stage_ids = {sid for j in jobs for sid in j.stages}
    st = [log.stages[sid] for sid in stage_ids if sid in log.stages]
    total = lambda attr: sum(getattr(s, attr) for s in st)  # noqa: E731
    rows_out = sum(wl.result_rows(r) for r in recs)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    busy_wall = sum(r.seconds for r in recs)
    extra = dict(res.layer)
    secs = lambda prefix: tracer.layer_seconds(prefix) / n_ops  # noqa: E731

    matched = extra.get("matched", 0)
    batches = tracer.count("streaming")
    out = {
        "session.start_s": extra.get("session.start_s", 0.0),
        "catalog.load_calls": tracer.count("catalog.load") / n_ops,
        "catalog.load_s": secs("catalog.load"),
        "queries.plan_s": secs("queries.plan"),
        "queries.eager_jobs": _jobs_under(tracer, jobs, "queries.plan") / n_ops,
        "exec.jobs": len(jobs) / n_ops,
        "exec.stages": len(stage_ids) / n_ops,
        "exec.tasks": total("tasks") / n_ops,
        "exec.task_s": total("run_s") / n_ops,
        "exec.task_cpu_s": total("cpu_s") / n_ops,
        "exec.core_busy_ratio": total("run_s") / (busy_wall * cores) if busy_wall else 0.0,
        "exec.input_bytes": total("input_bytes") / n_ops,
        "exec.rows_in_per_row_out": total("input_records") / rows_out if rows_out else 0.0,
        "exec.shuffle_write_bytes": total("shuffle_write_bytes") / n_ops,
        "exec.shuffle_read_bytes": total("shuffle_read_bytes") / n_ops,
        "exec.fetch_wait_s": total("fetch_wait_s") / n_ops,
        "exec.spill_bytes": total("spill_bytes") / n_ops,
        "exec.gc_s": total("gc_s") / n_ops,
        "exec.python_s": total("python_s") / n_ops,
        "exec.python_rows": total("python_rows") / n_ops,
        "cache.persists": tracer.count("operators.cache.tracked_persist") / n_ops,
        "cache.checkpoints": (tracer.count("operators.cache.tracked_local_checkpoint")
                              + tracer.count("operators.cache.tracked_materialize")) / n_ops,
        "cache.release_s": secs("operators.cache.release_operator_caches"),
        "cache.storage_bytes_peak": float(tracer.storage_bytes_peak),
        "operators.fuzzy.s": secs("operators.fuzzy"),
        "operators.fuzzy.pairs_per_match": (
            _python_rows_under(tracer, log, jobs, "operators.fuzzy") / matched if matched else 0.0),
        "functions.features.s": secs("functions.features"),
        "etl.ingest.s": secs("etl.ingest"),
        "etl.transform.s": secs("etl.transform"),
        "etl.quality.s": secs("etl.quality"),
        "etl.quality.jobs": _jobs_under(tracer, jobs, "etl.quality") / n_ops,
        "etl.features.s": secs("etl.features"),
        "ml.fit_s": secs("ml.fit"),
        "ml.fit_jobs": _jobs_under(tracer, jobs, "ml.fit") / n_ops,
        "ml.eval_s": secs("ml.eval"),
        "sources.write_s": secs("sources.write"),
        "sources.write_files": extra.get("sources.write_files", 0.0),
        "sources.write_bytes": extra.get("sources.write_bytes", 0.0),
        "sources.write_amplification": extra.get("sources.write_amplification", 0.0),
        "streaming.batch_s": tracer.layer_seconds("streaming", self_only=False) / batches if batches else 0.0,
        "streaming.rows_per_batch": extra.get("streaming.rows_in", 0) / batches if batches else 0.0,
        "streaming.drop_ratio": extra.get("streaming.drop_ratio", 0.0),
        "trace.latency_p50_s": harness.median_latency(recs, res.loop_s) if recs else 0.0,
        "trace.throughput_ops_s": sum(1 for r in recs if r.ok) / res.loop_s,
    }
    for layer in ("dedup", "similarity", "graph"):
        out[f"operators.{layer}.s"] = secs(f"operators.{layer}")
        out[f"operators.{layer}.jobs"] = _jobs_under(tracer, jobs, f"operators.{layer}") / n_ops
    return {name: (float(out[name]), unit) for name, unit in METRICS.items()}


def _python_rows_under(tracer, log: eventlog.EventLog, jobs, prefix: str) -> int:
    """Python-evaluated rows of the jobs submitted under ``prefix`` spans."""
    spans = _within(tracer, prefix)
    rows = 0
    for j in jobs:
        if any(sp.start <= j.submit_s <= sp.end for sp in spans):
            rows += sum(log.stages[s].python_rows for s in j.stages if s in log.stages)
    return rows
