"""Streaming deduplication — the ingest-time twin of the batch dedup family.

A production corpus pipeline dedups twice: once at ingest (drop replayed /
double-delivered records before they ever land) and once at corpus scale
(operators/dedup.py). This module is the ingest half, built on Spark's
watermark-bounded streaming state:

- :func:`dedup_stream` — drop re-deliveries of the same key within the
  watermark horizon (``dropDuplicatesWithinWatermark``): state holds one
  entry per key seen inside the horizon and is evicted as the watermark
  advances, so memory is bounded by arrival rate x horizon, not by history.
- :func:`content_dedup_stream` — same machinery keyed on the normalized
  content hash (the q40 exact-dedup key), for sources that re-deliver the
  same document under fresh ids.
- :func:`run_near_dup_ingest` — NEAR-dup ingest (the one equality state
  can't do): each micro-batch LSH-collapses internally, probes the
  persisted band-partitioned signature index, and appends survivors to
  corpus + index — streaming state lives in the index store, bounded and
  partition-pruned, not in the streaming engine.

All run identically under ``availableNow`` backfill and continuous
micro-batch; batch/stream parity is asserted in
tests/test_sources_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import normalize_text


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    *,
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key delivery within the watermark horizon.

    State: one row per distinct key currently inside the horizon, evicted
    by watermark advance — the bounded-state form of ``dropDuplicates``
    (whose streaming state otherwise grows forever).
    """
    return df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def content_dedup_stream(
    docs: DataFrame,
    text_col: str,
    *,
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact content dedup: key = md5 of normalized text (the
    same canonical key batch ``exact_dedup``/q40 uses, so ingest and
    corpus-scale dedup agree on what "identical" means)."""
    keyed = docs.withColumn("__content_key", F.md5(normalize_text(F.col(text_col))))
    return (
        keyed.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["__content_key"])
        .drop("__content_key")
    )


def run_near_dup_ingest(
    docs_stream: DataFrame,
    *,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    band_buckets: int = 64,
    est_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
    available_now: bool = True,
    compact_delta_files: int = 16,
):
    """NEAR-dup ingest dedup against the persisted band-partitioned
    signature index — the streaming form of the nightly-ingest pattern
    (operators/dedup.py::minhash_incremental_pairs_indexed).

    Signatures use the md5-derived sketch hash of operators/dedup.py; an
    index written with an earlier, xxhash64-based build must be rebuilt.

    Each micro-batch, inside ``foreachBatch``:

    1. within-batch near-dups collapse (banded LSH on the batch alone;
       the higher id of each pair drops — batches are small, this is
       the cheap part);
    2. survivors probe the stored index through the partition-pruned
       ``band_pk`` layout — I/O proportional to the batch's bucket
       footprint, never the corpus history;
    3. documents that clear both checks append to the output corpus AND
       their signatures append to the index — banded rows to a FLAT
       one-file-per-batch delta (compacted into the band-partitioned
       store every ``compact_delta_files`` batches; a direct
       dynamic-partition append would commit bands x band_buckets tiny
       files per batch, the dominant phase of the round-8 breakdown),
       flat (id, sig) rows to sigs/ — so the next batch dedups against
       everything that came before.

    Exactly-once: foreachBatch replays a failed batch, and both appends
    are idempotent per batch only if the sink dedups — production runs
    point ``out_path`` at a transactional table; the parquet append here
    is the test-harness stand-in. State lives entirely in the index
    directory (no unbounded streaming state), which is what makes
    near-dup — impossible under ``dropDuplicatesWithinWatermark``'s
    equality-only state — feasible at ingest.

    Starts the query (``availableNow`` by default) and returns it.
    """
    import os

    from ..operators.cache import release_operator_caches
    from ..operators.dedup import (
        _band_pk,
        _banded,
        _delta_files,
        minhash_dedup_pairs,
        minhash_incremental_pairs_indexed,
        minhash_signatures,
    )

    kw = dict(n=n, num_hashes=num_hashes, seed=seed)
    # LSM tombstones: files compacted into the store are DELETED one batch
    # LATE, via an on-disk manifest — the compacting batch's own plans
    # (kept, sigs, banded) keep their lineage valid, and the next batch
    # (of this query OR a later availableNow run) purges before it
    # probes, so no plan ever loses a file underneath it. Crash before
    # the manifest write leaves the compacted rows duplicated in
    # store+delta, which the probe's candidate .distinct() absorbs
    # (documented idempotence caveat shared with the appends).
    tombstones = os.path.join(index_path, "bands_delta_tombstones")

    def _purge_tombstoned() -> None:
        if not os.path.exists(tombstones):
            return
        with open(tombstones) as fh:
            stale = [line.strip() for line in fh if line.strip()]
        for path in stale:
            try:
                os.remove(path)
            except OSError:
                pass
        os.remove(tombstones)

    def process(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        _purge_tombstoned()
        # re-delivered duplicate ids inside one batch would double-count
        # postings in the sketches (doc_shingles' one-row-per-id
        # contract) — batch-sized dedup, cheap
        batch_p = batch.dropDuplicates([id_col]).persist()
        internal = minhash_dedup_pairs(
            batch_p, id_col, text_col, bands=bands, est_threshold=est_threshold,
            max_bucket_size=max_bucket_size, **kw,
        )
        losers = internal.select(F.col("id_b").alias(id_col)).distinct()
        kept = batch_p.join(losers, id_col, "left_anti")
        if os.path.exists(os.path.join(index_path, "sigs")):
            hits = minhash_incremental_pairs_indexed(
                spark, kept, index_path, id_col, text_col,
                bands=bands, band_buckets=band_buckets,
                est_threshold=est_threshold, max_bucket_size=max_bucket_size, **kw,
            )
            dup_ids = hits.select(F.col("new_id").alias(id_col)).distinct()
            kept = kept.join(dup_ids, id_col, "left_anti")
        kept = kept.persist()
        kept.write.mode("append").parquet(out_path)
        sigs = minhash_signatures(kept, id_col, text_col, **kw)
        banded = (
            _banded(sigs, bands)
            .withColumn("band_pk", _band_pk(band_buckets))
            .select("id", "band_sig", "band_pk")
        )
        # LSM append: the per-batch banded rows go to a FLAT delta as ONE
        # file. A direct dynamic-partition append would commit one file
        # per touched band_pk value — bands x band_buckets (1024) tiny
        # files every batch, measured 8-17s of a 15-27s batch, the
        # dominant phase of the round-8 breakdown. The probe reads
        # store ∪ delta (minhash_incremental_pairs_indexed), so
        # correctness is unchanged; the delta stays bounded by the
        # compaction below.
        delta_dir = f"{index_path}/bands_delta"
        banded.repartition(1).write.mode("append").parquet(delta_dir)
        # compaction: every compact_delta_files batches, fold the delta
        # into the partitioned store in ONE amortized write, then drop
        # the delta. Crash between the two steps duplicates index rows,
        # which the probe's candidate .distinct() absorbs (same
        # idempotence caveat as the appends above — production points
        # the store at a transactional table).
        compacted = _delta_files(delta_dir)
        if len(compacted) >= compact_delta_files:
            delta = spark.read.parquet(delta_dir)
            delta.repartition("band_pk").write.mode("append").partitionBy(
                "band_pk"
            ).parquet(f"{index_path}/bands")
            # deferred delete (see tombstones above): this batch's
            # plans may still hold lineage over these files
            with open(tombstones, "a") as fh:
                for f in compacted:
                    fh.write(os.path.join(delta_dir, f) + "\n")
        sigs.select("id", "sig").write.mode("append").parquet(f"{index_path}/sigs")
        kept.unpersist()
        batch_p.unpersist()
        release_operator_caches()

    writer = docs_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
