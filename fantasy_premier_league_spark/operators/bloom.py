"""Portable Bloom filter as a distributed bit table — semi-join reduction.

At 100 TB the classic shuffle killer is a fact⋈dim semi-join where the
dim's distinct-key set is too large to broadcast as a hash set but the
fact side is vastly larger still. A Bloom filter fixes the size problem:
k hash positions per key OR-ed into an m-bit mask, probe = all k bits
set. False positives only (a pruned superset — exact join semantics are
restored by the real join downstream), never false negatives.

Representation: the mask lives as a DataFrame of ``(word_idx INT,
word BIGINT)`` rows — 32 bits per word, m/32 rows — built with a plain
``groupBy(word_idx).agg(bit_or(1 << bit))``. That keeps the build fully
distributed (no driver collect, no UDAF) and the probe a broadcast join
on ``word_idx``: at m = 2^20 the table is 32k rows ≈ 0.5 MB, a
broadcast no matter how many distinct keys fed it (pinned at exactly
that sizing — m = 2^20, k = 7, 100k-key build — by
tests/test_scale_ops.py::TestBloomPrune::
test_realistic_m_mask_stays_broadcast_sized: mask row count m/32,
realized fp vs the (1-e^(-kn/m))^k bound, BroadcastHashJoin probe). Spark's own runtime
bloom pruning (spark.sql.optimizer.runtime.bloomFilter) covers the
planner-injected case; this operator is the EXPLICIT, persistable,
cross-job variant (build once in the dim pipeline, reuse across fact
scans) — and the hashes are portable md5, so an outside engine can
rebuild or probe the identical mask (DuckDB replays it bit-for-bit in
r68's oracle).

Word layout: bit positions are 32-per-word (``word_idx = pos // 32``,
``bit = pos % 32``, ``word = bit_or(1 << bit)``), so every word value
stays in [0, 2^32) — positive in any engine's signed 64-bit integer,
with no two's-complement edge at bit 63 to disagree over.

Reference anchor: the reference prunes via in-memory pandas ``isin``
(fpltools-side membership checks); this is that membership test
re-expressed for keys that don't fit one machine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per mask word — 32 keeps word values unsigned-safe in a BIGINT
_WORD_BITS = 32


def bloom_position(key: Column, i: int, *, m_bits: int, salt: str) -> Column:
    """Hash position i for a key: first 8 md5 hex chars (32 bits) of
    ``{salt}{i}:{key}`` mod m — the repo's portable-hash idiom, replayable
    as ``('0x' || substr(md5(...), 1, 8))::BIGINT % m`` in DuckDB."""
    h = F.md5(F.concat(F.lit(f"{salt}{i}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits).cast("int")


def _positions(key: Column, *, m_bits: int, k_hashes: int, salt: str) -> Column:
    return F.array(*[bloom_position(key, i, m_bits=m_bits, salt=salt) for i in range(k_hashes)])


def bloom_build(
    df: DataFrame,
    key_col: str,
    *,
    m_bits: int = 4096,
    k_hashes: int = 3,
    salt: str = "bloom:",
) -> DataFrame:
    """Build the mask table ``(word_idx INT, word BIGINT)`` from the
    distinct keys of ``df`` — one narrow shuffle (distinct) plus a
    ≤ m/32-group aggregate; never touches the driver.

    NULL build keys are dropped explicitly (md5 of NULL is NULL — it can
    set no bits anyway), matching SQL equi-join semantics: NULL never
    equi-joins, so it has nothing to contribute to a join-pruning mask."""
    if m_bits % _WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {_WORD_BITS}")
    pos = (
        df.select(F.col(key_col).alias("__k"))
        .where(F.col("__k").isNotNull())
        .distinct()
        .select(
            F.explode(
                _positions(F.col("__k"), m_bits=m_bits, k_hashes=k_hashes, salt=salt)
            ).alias("__pos")
        )
    )
    return (
        pos.select(
            (F.col("__pos") / _WORD_BITS).cast("int").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), __pos % {_WORD_BITS})").alias("__b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__b").alias("word"))
    )


def bloom_probe_keys(
    df: DataFrame,
    key_col: str,
    mask: DataFrame,
    *,
    m_bits: int = 4096,
    k_hashes: int = 3,
    salt: str = "bloom:",
) -> DataFrame:
    """Membership verdict per distinct probe key: ``(key, bloom_hit)``.

    Probe = k position rows per key, broadcast-joined to the mask on
    ``word_idx`` (the mask is m/32 rows by construction — always
    broadcastable), bit-tested, then ``min`` over the k tests (all bits
    must be set). Guaranteed no false negatives over non-NULL keys;
    false-positive rate ≈ (1 - e^(-k·n/m))^k for n distinct build keys.

    A NULL probe key always reports ``bloom_hit = false`` (its md5
    positions are NULL, so every bit test lands in the ``otherwise(0)``
    arm). That is deliberate SQL equi-join semantics — NULL matches
    nothing in the downstream join this mask prunes for — so the prune
    is still lossless for the join as a whole.
    """
    pos = (
        df.select(F.col(key_col).alias(key_col))
        .distinct()
        .select(
            key_col,
            F.explode(
                _positions(F.col(key_col), m_bits=m_bits, k_hashes=k_hashes, salt=salt)
            ).alias("__pos"),
        )
        .withColumn("word_idx", (F.col("__pos") / _WORD_BITS).cast("int"))
    )
    tested = pos.join(F.broadcast(mask), "word_idx", "left").select(
        key_col,
        F.when(
            F.col("word").isNotNull()
            & (F.expr(f"shiftright(word, __pos % {_WORD_BITS})").bitwiseAND(F.lit(1)) == 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__bit_set"),
    )
    return tested.groupBy(key_col).agg((F.min("__bit_set") == 1).alias("bloom_hit"))
