"""Session-scoped lifecycle tracking for operator-persisted frames.

Several operators persist an intermediate that feeds multiple consumers of
one returned plan (the dedup inverted index, MinHash/SimHash sketch tables,
PageRank's degree-annotated edge list). The returned DataFrame is lazy, so
the operator itself has no terminal action after which it could unpersist —
left alone, the cached blocks outlive the query and accumulate across calls
in a long-lived session or a benchmark's closed loop of queries.

``tracked_persist`` registers every such frame; ``release_operator_caches``
drops them all once the caller has consumed its results. perfbench's
``Workload.after_op`` releases after every op, long-lived pipelines should
release per stage.
Unpersisting a CACHE is always safe in Spark (blocks drop, lineage
recomputes), so for tracked_persist frames a release that races a
still-running consumer costs performance, never correctness.
TRACKED CHECKPOINTS are stricter: a localCheckpoint's lineage is truncated,
so once its blocks release the returned DataFrame cannot be re-executed —
release only AFTER all consumers (including any later re-collect of the
same result frame) are done. perfbench and the parity harness satisfy
this by construction (collect once, release, never touch the frame again).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_TRACKED_CHECKPOINTS: list[tuple[object, list[int]]] = []  # (SparkContext, rdd ids)


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for a later bulk release."""
    out = df.persist()
    _TRACKED.append(out)
    return out


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def tracked_local_checkpoint(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration of the checkpoint's
    storage blocks for a later bulk release.

    This is the right materialization for ARRAY-TYPED frames consumed a
    handful of times within one query. ``persist()`` routes through
    InMemoryRelation, whose columnar batch encode costs a multiple of the
    plan's own execution for array columns (measured, 6k-row SimHash
    fingerprint frame: 0.4s to compute, +0.6-2.0s to build the columnar
    cache, +0.06s to checkpoint at the RDD layer — the array encoder
    dominates). Sketch frames (MinHash sigs, SimHash fingerprints, per-doc
    shingle arrays) are write-once/read-2-3x inside one query, so the
    columnar encode never pays for itself; row-layout RDD blocks serve the
    few readers directly.

    localCheckpoint persists its RDD at the RDD layer, invisible to
    ``DataFrame.unpersist`` (which only talks to the SQL cache manager) —
    without this wrapper every checkpointed iteration (PageRank, label
    propagation, connected components) would leave a nodes-sized block set
    resident for the life of the session, accumulating across every
    query the session runs. The newly-persisted RDD ids are observable as
    a before/after delta of ``getPersistentRDDs`` for eager AND lazy
    checkpoints alike — ``localCheckpoint`` persists (and so registers)
    its RDD at call time, only the materialization is deferred.

    ``eager=False`` returns a frame whose LINEAGE IS ALREADY CUT (the plan
    is rebased on the checkpoint RDD immediately) but whose blocks
    materialize inside the caller's next action — iterative operators use
    it to fold the per-round checkpoint job into the convergence probe,
    one job per round instead of two. Materialization is complete after
    ANY first action: Spark's ``LocalRDDCheckpointData.doCheckpoint``
    runs at the end of the first job touching the RDD and computes every
    missing partition (pinned by
    tests/test_guards_lifecycle.py::TestLazyCheckpointContract), so even
    a ``first()``/``limit`` cannot leave the checkpoint half-built — the
    caveat is purely cost: a partial-scan first action pays the fill-in
    job the lazy cut was meant to fold away, so prefer a full-scan
    action (a global aggregate, a sink write) as the first consumer.

    Unlike plain caches, a released checkpoint cannot be recomputed (its
    lineage was truncated) — release only after the results are consumed,
    which is already the module contract.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=eager)
    new_ids = sorted(_persistent_rdd_ids(sc) - before)
    if new_ids:
        _TRACKED_CHECKPOINTS.append((sc, new_ids))
    return out


def release_operator_caches(*, blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    Before dropping tracked CHECKPOINT blocks, a cheap driver-side sweep
    of ``getRDDStorageInfo`` flags any checkpoint RDD that is only
    PARTIALLY materialized at release. By measured Spark behavior this
    cannot happen (``LocalRDDCheckpointData.doCheckpoint`` fills missing
    partitions at the end of the first job — pinned in
    tests/test_guards_lifecycle.py::TestLazyCheckpointContract), so the
    sweep is a belt-and-braces guard: if a future Spark version changes
    the fill-in semantics, the violation is logged loudly here, at the
    release site, instead of failing at a distance on the next consumer.
    """
    released = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=blocking)
            released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    while _TRACKED_CHECKPOINTS:
        sc, ids = _TRACKED_CHECKPOINTS.pop()
        try:
            try:
                infos = {
                    info.id(): (int(info.numCachedPartitions()), int(info.numPartitions()))
                    for info in sc._jsc.sc().getRDDStorageInfo()
                }
            except Exception:  # storage info unavailable — skip the sweep
                infos = {}
            jmap = sc._jsc.getPersistentRDDs()
            for rdd_id in ids:
                cached, total = infos.get(rdd_id, (None, None))
                if cached is not None and 0 < cached < total:
                    logging.getLogger(__name__).warning(
                        "release_operator_caches: checkpoint RDD %d is only "
                        "partially materialized (%d/%d partitions) at release — "
                        "an eager=False caller's first action did not scan every "
                        "partition; the frame is now un-recomputable",
                        rdd_id, cached, total,
                    )
                jrdd = jmap.get(rdd_id)
                if jrdd is not None:
                    jrdd.unpersist(blocking)
                    released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return released
