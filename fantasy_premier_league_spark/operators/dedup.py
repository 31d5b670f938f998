"""Deduplication operators for large-scale text corpora.

Beyond the reference's PK-duplicate handling (etl/run_transform.py:366-370,
SURVEY §2.4 A11/A12), this module provides the dedup family a training-data
pipeline needs, each designed so the only shuffles are on bounded keys:

- exact duplicate collapse (hash-groupBy on normalized content)
- n-gram (shingle) Jaccard similarity pairs — exact, via an inverted-index
  self-join (shuffle on shingle, then on pair)
- MinHash signatures + banded LSH candidate generation (the 100 TB path:
  candidate pairs are generated per LSH bucket, never all-pairs)
- SimHash 64-bit fingerprints + banded near-dup candidates

All hashing is JVM-side and deterministic across runs/partitions; there is no
Python in any hot path. The sketch base hash is md5-derived
(``conv(substring(md5(x),1,8), 16, 10)``), bit-identical to
``('0x'||substr(md5(x),1,8))::BIGINT`` in any ANSI engine, so MinHash,
SimHash and containment outputs are cross-engine verifiable (the DuckDB
oracles replay them exactly).
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import tracked_local_checkpoint, tracked_persist
from .local import local_frame

_MASK30 = (1 << 30) - 1
_MERSENNE31 = (1 << 31) - 1

_LOG = logging.getLogger(__name__)


def _cap_band_buckets(
    banded: DataFrame,
    max_bucket_size: int | None,
    *,
    context: str,
) -> DataFrame:
    """Drop band buckets with more than ``max_bucket_size`` members.

    The band self-join is quadratic PER BUCKET: one degenerate bucket
    (boilerplate headers, empty documents hashing identically) with m
    members emits m^2/2 candidate rows inside a single task — AQE's skew
    split cannot save a logically quadratic explosion, so at corpus scale
    the guard is what keeps the worst bucket bounded. Mirrors the
    ``max_doc_freq`` shingle blocking above and the reference's own
    candidate cap (/root/reference/etl/additional_fifa.py:314-320).

    Dropping a bucket loses its candidate pairs (recall, not precision),
    so the guard defaults to off and — per the no-silent-caps rule — an
    eager accounting pass logs exactly how many buckets/rows were dropped
    (cheap: it scans the sketch table, which callers persist, not the
    corpus).
    """
    if max_bucket_size is None:
        return banded
    # ONE pass pays for both the accounting and the filter: bucket counts
    # aggregate once (cached for the two consumers below), the oversized
    # key list is tiny-by-construction (only degenerate buckets) and
    # eagerly checkpointed, and the guard itself becomes a broadcast
    # anti-join — when no bucket is oversized the returned plan is the
    # input untouched, so the sane-corpus fast path costs only the
    # counts job
    counts = (
        banded.groupBy("band_idx", "band_sig").agg(F.count(F.lit(1)).alias("__n")).persist()
    )
    try:
        oversized = counts.filter(F.col("__n") > max_bucket_size)
        stats = oversized.agg(
            F.count(F.lit(1)).alias("buckets"), F.sum("__n").alias("rows")
        ).first()
        if not stats["buckets"]:
            return banded
        _LOG.warning(
            "%s: dropped %d oversized LSH band buckets (> %d members, %d member "
            "rows) before candidate pairing — their pairs are NOT generated",
            context,
            stats["buckets"],
            max_bucket_size,
            stats["rows"],
        )
        drop_keys = tracked_local_checkpoint(oversized.select("band_idx", "band_sig"))
        return banded.join(F.broadcast(drop_keys), ["band_idx", "band_sig"], "left_anti")
    finally:
        counts.unpersist()


def portable_hash32(col: F.Column) -> F.Column:
    """First 32 bits of md5 as a long — reproducible in DuckDB/ANSI SQL as
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_fraction(col: F.Column, *, salt: str) -> F.Column:
    """Deterministic uniform [0, 1) fraction of a key: the first 32 md5
    bits of ``salt || key`` over 2^32 — the shared hash-sampling
    primitive behind the at-scale evaluation strata (q11's ARI stratum,
    q02's containment-recall anchors). Portable: an external SQL engine
    replays it as ``('0x' || substr(md5(salt || id), 1, 8))::BIGINT /
    4294967296.0``. Distinct salts give independent strata over the same
    keys (the q11 CI measurement relies on exactly that)."""
    return portable_hash32(F.concat(F.lit(salt), col.cast("string"))).cast(
        "double"
    ) / F.lit(4294967296.0)


def normalize_text(col: F.Column) -> F.Column:
    """Lowercase, collapse whitespace, trim — the canonical content key."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: F.Column) -> F.Column:
    return F.split(normalize_text(col), " ")


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep one deterministic representative per duplicate group (A12:
    sort + drop_duplicates, etl/additional_fifa.py:165-168)."""
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def shingle_array(text_col: F.Column, n: int) -> F.Column:
    """Array of word n-gram shingle strings (empty when < n words).

    Built from n shifted slices zipped together rather than per-shingle
    ``element_at`` lambdas: Catalyst inlines the underlying
    split(regexp_replace(...)) into every subexpression, so the lambda form
    re-tokenizes the document O(n * shingles) times per row; the slice form
    costs O(n) tokenizations per row (measured 4x faster at sf0.1). For
    large n (sliding spans use n=10), even O(n) tokenizations dominate —
    materialize a ``words`` projection and call
    :func:`shingle_array_from_words` on the cached attribute instead
    (a same-plan alias does NOT help: ProjectCollapse re-inlines it).
    """
    return shingle_array_from_words(words(text_col), n)


def shingle_array_from_words(w: F.Column, n: int) -> F.Column:
    """:func:`shingle_array` over an already-tokenized words array —
    zero tokenizer runs when ``w`` is an attribute of a materialized
    frame (the slices/zip then cost O(tokens) array ops per row)."""
    length = F.greatest(F.size(w) - n + 1, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(w, j + 1, length) for j in range(n)])
    gram = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    return F.when(F.size(w) >= n, gram).otherwise(F.array().cast("array<string>"))


def doc_shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, __arr) — one row per doc, ``__arr`` the DISTINCT shingle array.

    The compact per-doc form of the inverted index: everything the
    Jaccard family needs is derivable from it without re-tokenizing —
    postings via ``explode`` (cheap from a cached array), per-doc set
    size via ``F.size`` (no groupBy shuffle), verification sets via the
    array itself (no ``collect_list`` re-aggregation). Persisting THIS
    frame instead of the exploded postings caches one row per doc
    rather than one per posting, so the cached bytes shrink by the
    average doc length while every downstream consumer stays JVM-side.
    PRECONDITION: one row per id — the contract every catalog table
    carries and ``etl/quality.py::assert_unique_pk`` enforces; a frame
    with re-delivered duplicate ids would double-count postings in
    every count-based verify downstream (the streaming ingest dedups
    its batch by id before sketching for exactly this reason; batch
    query wrappers read catalog tables whose primary key is asserted
    at ETL time — pass such a frame or dropDuplicates(id) first).
    Input is spread across cores first — shingling is the per-row-heavy
    stage, and a single-file scan would otherwise run it serially
    (catalog.spread_partitions; no-op at real scale).
    """
    from ..catalog import spread_partitions

    base = spread_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    return base.select(
        "id", F.array_distinct(shingle_array(F.col("__text"), n)).alias("__arr")
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the exploded inverted-index input
    (see :func:`doc_shingle_arrays` for the per-doc compact form and the
    one-row-per-id precondition).

    The explode is INLINED into the Generate rather than routed through a
    ``__arr`` projection: with a projected array attribute, Catalyst's
    InferFiltersFromGenerate plants a ``size(__arr) > 0`` filter under the
    Generate and predicate pushdown then substitutes the FULL shingle
    expression into it — every document gets tokenized and shingled twice
    per row (measured 2x on the sf0.1 decontaminate/minhash family, the
    round-7 regression). With the generator input as a non-attribute
    expression the rule does not fire. Callers that need the array AND its
    size must materialize :func:`doc_shingle_arrays` first (the inferred
    filter is then a cheap ``size`` of a cached attribute).
    """
    from ..catalog import spread_partitions

    base = spread_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    return base.select(
        "id",
        F.explode(F.array_distinct(shingle_array(F.col("__text"), n))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word n-gram sets, for every
    pair sharing >= 1 shingle, filtered to >= threshold.

    Plan: inverted index (id, shingle) → self-join on shingle with id<id2 →
    count common shingles per pair → join per-doc set sizes → |∩|/|∪|.
    ``max_doc_freq`` drops super-frequent shingles before pairing (standard
    blocking at scale; changes recall slightly, so default off).

    ``shingle_arrays``: a pre-built (id, __arr) frame from
    :func:`doc_shingle_arrays` — the TOKENIZE-ONCE hook for compositions
    that run several shingle consumers over one corpus (the cluster-
    agreement eval runs this and the MinHash sketch side by side; without
    the shared frame each pipeline re-tokenizes). The caller owns its
    materialization/tracking.
    """
    if max_doc_freq is not None and shingle_arrays is not None:
        raise ValueError("shingle_arrays requires max_doc_freq=None")
    if max_doc_freq is None:
        # materialize the docs-sized array frame LAZILY (the caller's one
        # action full-scans it via the self-join, so the blocks build
        # inside that job — eager would schedule a separate fixed-cost
        # job, the round-7 bench regression), explode lazily, carry the
        # set size with each posting: the verify collapses to self-join
        # + one pair-keyed aggregate (see _jaccard_pairs_from_sized_index)
        arr = (
            shingle_arrays
            if shingle_arrays is not None
            else tracked_local_checkpoint(doc_shingle_arrays(df, id_col, text_col, n), eager=False)
        )
        shs = arr.select(
            "id", F.size("__arr").alias("n_shingles"), F.explode("__arr").alias("shingle")
        )
        return _jaccard_pairs_from_sized_index(shs, threshold)
    sh = doc_shingles(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = sh.join(freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle")
    # the filtered index feeds three consumers (sizes, both join sides);
    # without an explicit persist Spark re-scans and re-shuffles it 3x
    sh = tracked_persist(sh)
    return _jaccard_pairs_from_index(sh, threshold)


def _jaccard_pairs_from_index(sh: DataFrame, threshold: float) -> DataFrame:
    """Naive inverted-index verify: self-join on shingle, count common
    shingles per id<id2 pair, score |∩|/|∪|. Shared by
    :func:`ngram_jaccard_pairs` and the below-crossover path of
    :func:`prefix_filtered_jaccard_pairs` (same output by construction).
    ``sh`` must be a persisted (id, shingle) distinct index."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_shingles": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_shingles": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


# naive-verify broadcast gate: below this many postings the sized index
# (id+size+shingle, ~50-80 bytes/row → tens of MB) broadcasts instead of
# shuffling both self-join sides. Only dispatched when a probe has the
# EXACT posting count (prefix_filtered_jaccard_pairs stage 1) — never a
# blind default, so the at-scale path keeps the shuffle join.
_NAIVE_BROADCAST_POSTINGS = 2_000_000


def _pair_overlap_counts(
    shs: DataFrame,
    *,
    broadcast: bool = False,
    jaccard_threshold: float | None = None,
    anchor_filter: "F.Column | None" = None,
) -> DataFrame:
    """(id_a, id_b, n_common, n_a, n_b) for every id<id2 pair sharing a
    shingle, from a SIZE-CARRYING posting frame (id, n_shingles, shingle):
    self-join on shingle, then ONE pair-keyed aggregate emits n_common AND
    both set sizes (``any_value`` — constant within the group) — no
    per-doc sizes aggregate and no join-back, so the whole verify is the
    self-join plus a single exchange on the pair key. Carrying one long
    per posting costs ~8 bytes/row of shuffle width; the two sizes joins
    it replaces each shuffled (or broadcast) a docs-sized aggregate.
    Shared by the Jaccard and containment scorers. ``broadcast=True``
    broadcasts the build side of the self-join (callers gate it on an
    exact posting count — see ``_NAIVE_BROADCAST_POSTINGS``).

    ``jaccard_threshold`` applies the lossless LENGTH FILTER inside the
    join condition: J >= t forces t|A| <= |B| and t|B| <= |A|, so
    size-incompatible pairs are dropped before the pair-keyed aggregate
    ever sees their rows. The comparison uses an INTEGER-SLACK form
    (|B| + 1 > t*|A|): sizes are integers, so the real-arithmetic
    implication |B| >= t|A| always satisfies the slack form while the
    naive float comparison can round t*|A| a few ulps ABOVE an exactly-
    qualifying |B| (t=0.65, |A|=60, |B|=39: 39/60 == t exactly, but
    0.65*60 rounds to 39.0000000000000014 in binary, dropping the pair
    — caught by code review, pinned in tests). The <= 1-unit slack only
    admits a handful of knife-edge candidates that the exact Jaccard
    filter rejects downstream. Containment callers must NOT set it (a
    tiny doc inside a huge one is exactly the containment case) unless
    they already scope by ratio.

    ``anchor_filter`` (a predicate over the posting frame's ``id``)
    restricts the ANCHOR side of the self-join — because the join is
    ordered (a.id < b.id), the output is exactly the pairs whose
    SMALLER id passes the filter. Evaluation harnesses use a
    deterministic hash-fraction filter here to ground-truth a sampled
    pair stratum at a fraction of the full self-join's cost; the
    filter prunes before the join, so the a-side postings (and the
    pair fan-out) shrink proportionally.
    """
    a_src = shs.filter(anchor_filter) if anchor_filter is not None else shs
    a = a_src.alias("a")
    b = F.broadcast(shs.alias("b")) if broadcast else shs.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id"))
    if jaccard_threshold is not None:
        t = F.lit(float(jaccard_threshold))
        cond = (
            cond
            & (F.col("b.n_shingles") + 1 > t * F.col("a.n_shingles"))
            & (F.col("a.n_shingles") + 1 > t * F.col("b.n_shingles"))
        )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.any_value(F.col("a.n_shingles")).alias("n_a"),
            F.any_value(F.col("b.n_shingles")).alias("n_b"),
        )
        # loud contract check, free in codegen: per-doc-distinct postings
        # guarantee n_common <= min(n_a, n_b); a caller violating the
        # one-row-per-id precondition double-counts postings and trips this
        # instead of silently returning inflated similarity scores
        .filter(
            F.assert_true(
                F.col("n_common") <= F.least("n_a", "n_b"),
                F.lit(
                    "shingle-pair input violated the one-row-per-id contract "
                    "(duplicate ids double-count postings); dropDuplicates "
                    "the id column or fix the upstream key"
                ),
            ).isNull()
        )
    )


def _jaccard_pairs_from_sized_index(
    shs: DataFrame, threshold: float, *, broadcast: bool = False
) -> DataFrame:
    """Naive verify over a size-carrying posting frame — see
    :func:`_pair_overlap_counts`. Same output as
    :func:`_jaccard_pairs_from_index`; the length filter (lossless at a
    Jaccard threshold) prunes size-incompatible pairs inside the join."""
    return (
        _pair_overlap_counts(
            shs,
            broadcast=broadcast,
            jaccard_threshold=float(threshold) if threshold > 0 else None,
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_sketch_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, __arr, __h) — :func:`doc_shingle_arrays` plus the 60-bit
    hashed-shingle array :func:`containment_lsh_pairs` verifies with.

    The TOKENIZE-ONCE hook for compositions that run the exact containment
    path and the sketch path over one corpus (the containment recall eval):
    build this frame once, ``tracked_local_checkpoint`` it, and pass it to both
    operators via their ``shingle_arrays`` parameter — each operator
    otherwise builds and materializes its own copy, re-tokenizing the
    corpus per operator. Hash family matches the operator exactly, so
    results are identical by construction."""
    h60 = F.transform("__arr", lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"))
    return doc_shingle_arrays(df, id_col, text_col, n).select(
        "id", "__arr", F.array_distinct(h60).alias("__h")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
    anchor_filter: "F.Column | None" = None,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment pairs: |A ∩ B| / min(|A|, |B|) >= threshold.

    Jaccard misses the quote/boilerplate case — a short document wholly
    embedded in a long one scores low on |∩|/|∪| but 1.0 on containment.
    Same inverted-index plan as :func:`ngram_jaccard_pairs` (shuffle on
    shingle, then on the pair key; candidates only for docs sharing a
    shingle, never all-pairs), only the final score differs.

    ``anchor_filter`` restricts output to pairs whose smaller id passes
    the predicate (see :func:`_pair_overlap_counts`) — the sampled-
    ground-truth hook for recall evaluations at scale.

    ``shingle_arrays``: a pre-built (id, __arr) frame from
    :func:`doc_shingle_arrays` / :func:`containment_sketch_arrays` — the
    tokenize-once hook (see :func:`ngram_jaccard_pairs`); the caller owns
    its materialization. Requires ``max_doc_freq=None``.
    """
    if max_doc_freq is not None and shingle_arrays is not None:
        raise ValueError("shingle_arrays requires max_doc_freq=None")
    if max_doc_freq is None:
        # same lazy-materialized size-carrying single-aggregate verify as
        # ngram_jaccard_pairs, same contract guard (_pair_overlap_counts)
        arr = (
            shingle_arrays.select("id", "__arr")
            if shingle_arrays is not None
            else tracked_local_checkpoint(doc_shingle_arrays(df, id_col, text_col, n), eager=False)
        )
        shs = arr.select(
            "id", F.size("__arr").alias("n_shingles"), F.explode("__arr").alias("shingle")
        )
        return (
            _pair_overlap_counts(shs, anchor_filter=anchor_filter)
            .withColumn("containment", F.col("n_common") / F.least("n_a", "n_b"))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "n_common", F.round("containment", 6).alias("containment"))
        )
    if anchor_filter is not None:
        raise ValueError("anchor_filter requires max_doc_freq=None")
    sh = doc_shingles(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = sh.join(freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle")
    sh = tracked_persist(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_shingles": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_shingles": "n_b"}), "id_b")
        .withColumn("containment", F.col("n_common") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("containment", 6).alias("containment"))
    )


def minhash_signatures_from_arrays(
    arr: DataFrame, *, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(id, sig) MinHash signatures computed from an (id, __arr) per-doc
    shingle-array frame (:func:`doc_shingle_arrays`) instead of raw text —
    for operators that ALSO need the arrays for exact verification and
    must not tokenize twice. Same hash family and output as
    :func:`minhash_signatures`.

    Computed PER ROW (num_hashes ``aggregate`` folds over the base-hash
    array) rather than explode + groupBy: the shingle sets already live
    one-per-row, so the aggregate's exchange moved zero information —
    and AQE would coalesce the tiny post-shuffle side to ONE partition,
    serializing every downstream band/bucket stage on sampled strata
    (q11 profile: three consecutive single-task stages). Zero exchanges,
    scan parallelism preserved. The whole signature is ONE server-parsed
    SQL expression (the nested Column form costs ~4 py4j round-trips per
    hash — the plan-build tax measured on :func:`minhash_signatures`),
    and the base-hash array is bound once via a singleton-``transform``
    let (as a plain projected column, CollapseProject + the higher-order
    function's lambda would re-inline — and re-evaluate — it per hash;
    subexpression elimination skips lambda-bound trees).

    PRECONDITION (callers all satisfy it): ``arr`` is a materialized
    (cached) frame — the empty-set filter below references ``__arr`` as
    an attribute, which on an unmaterialized frame would re-inline the
    full tokenization into the pushed-down filter (the round-7 trap
    documented on :func:`doc_shingles`)."""
    params = _hash_params(num_hashes, seed)
    base_sql = "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)"
    mins = ", ".join(
        f"aggregate(hb, CAST(9223372036854775807 AS BIGINT), "
        f"(acc, h) -> least(acc, (h * CAST({a} AS BIGINT) + CAST({b} AS BIGINT))"
        f" % CAST({_MERSENNE31} AS BIGINT)))"
        for a, b in params
    )
    sig = (
        f"transform(array(transform(__arr, s -> {base_sql} & CAST({_MASK30} AS BIGINT))), "
        f"hb -> array({mins}))[0]"
    )
    # size > 0: the explode form emitted no row for an empty shingle set;
    # the fold's identity element would instead emit a MAX_LONG signature
    # that could band empty docs together — keep absent-doc semantics.
    return arr.filter(F.size("__arr") > 0).select("id", F.expr(sig).alias("sig"))


def containment_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_size_ratio: float = 4.0,
    num_hashes: int = 32,
    seed: int = 42,
    max_bucket_size: int | None = 256,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Sketch-accelerated asymmetric containment — the SCALE PATH for
    :func:`containment_pairs`, LSH-Ensemble style (Zhu et al., VLDB 2016:
    containment search needs a lower effective Jaccard threshold that
    depends on the size gap between the sets).

    Containment C = |A∩B|/min(|A|,|B|) >= t with size ratio
    max/min <= R implies Jaccard J = |A∩B|/(|A|+|B|-|A∩B|)
    >= t/(1 + R - t) — so MinHash-LSH banded for that LOWER bound
    generates the candidates, and an exact array-intersect verify on the
    candidate set scores true containment (the returned scores are
    EXACT; the sketch only gates which pairs get verified). Single-hash
    bands (r=1, b=num_hashes) hold candidate recall at the bound: a pair
    at J is missed with probability (1-J)^b — 0.9% at the t=0.5, R=4,
    b=32 default's J_min=0.111. The declared SCOPE is the ratio cap:
    a short doc inside one >R-times-larger is invisible to a symmetric
    Jaccard sketch at any practical band setting (J -> t/R) — that
    regime belongs to the exact inverted-index path or a size-stratified
    index, and the cap makes the contract explicit instead of silently
    losing recall (pairs beyond R are filtered out of the verify, and
    the recall eval query measures the in-scope miss rate honestly).

    Scale shape: one tokenization (the shared shingle-array frame feeds
    sketch AND verify), signature aggregate = one doc-keyed shuffle of
    num_hashes longs, candidates shuffle on (hash-idx, value) buckets
    only — never all-pairs — and the verify joins arrays for candidate
    pairs alone. ``max_bucket_size`` applies the standard degenerate-
    bucket guard (single-hash buckets are the skew hazard here: a
    boilerplate min-shingle shared by k docs is a k² bucket).

    The guard is ON BY DEFAULT (256) for this operator, unlike the
    banded-Jaccard family: r=1 bands make oversized buckets the NORM on
    a saturated shingle space, not an anomaly, and a true in-scope pair
    holds J >= t/(1+R-t) across ALL b bands (expected colliding bands
    b·J ≈ 3.6 at the defaults), so losing its few degenerate-bucket
    collisions still leaves the healthy bands to catch it — measured on
    the saturated driver corpus: identical candidate sets at caps
    256-8192 and uncapped (50k docs: 2500 pairs either way, 33-62s →
    17s; the q02 recall eval reports in-scope recall = 1.0 at 256).
    Drops are logged eagerly by the shared guard (no-silent-caps rule);
    pass ``max_bucket_size=None`` for exact candidate recall. Both sides
    of the trade are pinned on an adversarial boilerplate-heavy corpus in
    tests/test_operators.py::TestContainmentLsh (default cap exact there;
    an under-cap provably loses pairs AND fires the drop-accounting
    warning — test_under_cap_loss_is_flagged_by_drop_accounting).
    """
    # the verify ships shingle sets through candidate-keyed joins — as
    # STRING arrays that's ~1 KB/doc side (measured 9.7s at sf0.1, all
    # shuffle); as 60-bit hashes it's a tenth the bytes and the intersect
    # runs on longs. 60 bits over corpus vocabularies makes a cross-doc
    # collision (which could only nudge one n_common by 1) negligible,
    # and the oracle replays the SAME hash, so value parity is exact by
    # construction. Sizes stay string-based (arrays are distinct).
    if shingle_arrays is not None:
        # tokenize-once hook: caller-built (id, __arr, __h) frame from
        # :func:`containment_sketch_arrays` (same hash family — identical
        # results); the caller owns its materialization/tracking
        if "__h" not in shingle_arrays.columns:
            raise ValueError(
                "containment_lsh_pairs shingle_arrays needs __h "
                "(build it with containment_sketch_arrays)"
            )
        arr = shingle_arrays
    else:
        arr = tracked_local_checkpoint(
            containment_sketch_arrays(df, id_col, text_col, n),
            eager=False,
        )
    sig = minhash_signatures_from_arrays(arr, num_hashes=num_hashes, seed=seed)
    cand = lsh_candidate_pairs(sig, bands=num_hashes, max_bucket_size=max_bucket_size)
    a = arr.select(
        F.col("id").alias("id_a"), F.col("__h").alias("__ha"), F.size("__arr").alias("n_a")
    )
    b = arr.select(
        F.col("id").alias("id_b"), F.col("__h").alias("__hb"), F.size("__arr").alias("n_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            F.greatest("n_a", "n_b")
            <= F.lit(float(max_size_ratio)) * F.least("n_a", "n_b")
        )
        .withColumn("n_common", F.size(F.array_intersect("__ha", "__hb")).cast("long"))
        .withColumn("containment", F.col("n_common") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("containment", 6).alias("containment"))
    )


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures over word n-gram shingles.

    Base shingle hash is the md5-derived 32-bit hash reduced to 30 bits;
    the permutation family is ``(a*h + b) mod (2^31-1)`` — all arithmetic
    stays inside a signed 64-bit long (a,b < 2^31, h < 2^30 → a*h+b <
    2^61), JVM-side.

    Computed per row by :func:`minhash_signatures_from_arrays` over a
    lazily-materialized :func:`doc_shingle_arrays` frame: the previous
    explode + groupBy(id) shape shuffled every hashed shingle to rebuild
    per-doc groups THE SCAN ALREADY HAD — one full corpus-sized exchange
    (plus a single-partition AQE collapse on small strata) for zero
    information movement. The materialization satisfies the from_arrays
    precondition (lineage is cut at the checkpoint, so its empty-set
    filter cannot re-inline the tokenizer — the round-7 trap), trades
    the corpus-wide shuffle for one narrow local-I/O pass, and is lazy —
    blocks build inside the consumer's first action. Every caller
    (LSH banding, incremental probe, signature store) already
    materializes or fully consumes the signature frame within one query,
    the module contract that makes the tracked checkpoint releasable.
    """
    arr = tracked_local_checkpoint(doc_shingle_arrays(df, id_col, text_col, n), eager=False)
    return minhash_signatures_from_arrays(arr, num_hashes=num_hashes, seed=seed)


def _banded(sig_df: DataFrame, bands: int) -> DataFrame:
    """(id, band_idx, band_sig) — one row per signature band."""
    sig = sig_df.select("id", "sig")
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band_idx"),
                    F.concat_ws(
                        ",",
                        F.transform(F.slice("sig", bidx * rows_per_band + 1, rows_per_band), lambda x: x.cast("string")),
                    ).alias("band_sig"),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_sig")


def lsh_candidate_pairs(
    sig_df: DataFrame, *, bands: int = 16, max_bucket_size: int | None = None
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become a candidate
    pair. Shuffle is on (band_idx, band_signature) buckets only — this is
    what makes near-dup feasible at 100 TB (never all-pairs).

    ``max_bucket_size`` drops (and logs) degenerate buckets before
    pairing. Off by default (exact candidate recall, oracle-replayable).

    Two physical routes, same output:

    - **uncapped**: band self-join — buckets are unbounded, so pairs must
      STREAM out of a join; collecting a bucket into one row would put a
      degenerate bucket's whole membership in a single array.
    - **capped**: ONE ``collect_list`` bucket aggregate (arrays bounded by
      the cap, by construction) serves the accounting job, the cap filter
      AND pair generation — the band shuffle happens once instead of
      twice (the old form aggregated counts for accounting, then
      re-banded and self-joined; measured ~1.3s of q46's 3.5s at sf0.1).
    """
    if max_bucket_size is None:
        banded = _banded(sig_df, bands)
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    # RDD-layer materialization, NOT tracked_persist: `ids` is an array
    # column and the SQL columnar cache's array encoder costs a multiple
    # of the aggregate itself (the measured q41 adjacency trap —
    # cache.py::tracked_local_checkpoint rationale; v52 profiled ~10s of task
    # CPU in the cache-build stage). eager=False folds materialization
    # into the accounting job below (LocalRDDCheckpointData fills every
    # partition at the end of the first job, the pinned lazy-checkpoint
    # contract), so the job count is unchanged.
    buckets = tracked_local_checkpoint(
        _banded(sig_df, bands)
        .groupBy("band_idx", "band_sig")
        .agg(F.collect_list("id").alias("ids")),
        eager=False,
    )
    # eager accounting (no-silent-caps rule): one job that also fills the
    # bucket cache the pair plan below reads
    stats = (
        buckets.filter(F.size("ids") > max_bucket_size)
        .agg(F.count(F.lit(1)).alias("buckets"), F.sum(F.size("ids")).alias("rows"))
        .first()
    )
    if stats["buckets"]:
        _LOG.warning(
            "lsh_candidate_pairs: dropped %d oversized LSH band buckets (> %d "
            "members, %d member rows) before candidate pairing — their pairs "
            "are NOT generated",
            stats["buckets"],
            max_bucket_size,
            stats["rows"],
        )
    # pairs straight off the cached bounded arrays: explode² per bucket is
    # ≤ cap² rows, the exact volume the cap admits into the old self-join
    return (
        buckets.filter(F.size("ids") <= max_bucket_size)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    est_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """MinHash LSH near-dup pairs with signature-estimated Jaccard.

    Candidates from banded LSH; estimate = fraction of agreeing signature
    components (unbiased for Jaccard). No second pass over the raw text.

    ``shingle_arrays``: pre-built (id, __arr) frame — the tokenize-once
    hook (see :func:`ngram_jaccard_pairs`); signatures then derive via
    :func:`minhash_signatures_from_arrays`, same hash family and output.
    """
    # signatures feed banding + both verify-join sides → materialize once
    # (num_hashes longs per doc; tiny next to the corpus); LAZY — the
    # caller's single action full-scans the banding subtree, so the blocks
    # build inside that job instead of a separate eager fixed-cost job
    # (the round-7 bench regression); tracked so a long-lived session can
    # bulk-release via cache.release_operator_caches
    sigs = tracked_local_checkpoint(
        minhash_signatures_from_arrays(shingle_arrays, num_hashes=num_hashes)
        if shingle_arrays is not None
        else minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes),
        eager=False,
    )
    cands = lsh_candidate_pairs(sigs, bands=bands, max_bucket_size=max_bucket_size)
    a = sigs.withColumnsRenamed({"id": "id_a", "sig": "sig_a"})
    b = sigs.withColumnsRenamed({"id": "id_b", "sig": "sig_b"})
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("sig_a")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= est_threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    est_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch against a stored signature index — the
    nightly-ingest pattern: the historical corpus is never re-sketched,
    only its (id, sig) table (``minhash_signatures`` output, persisted as
    the index; num_hashes longs per doc) participates.

    Only the new batch pays the shingle explode; candidates come from the
    band join new-bands ⋈ index-bands, so the shuffle is new-batch-sized
    plus the touched index buckets. The in-memory ``index_sigs`` are
    re-banded per call (exactly oracle-replayable — q48).
    Returns (new_id, index_id, jaccard_est); new ids that
    survive (no pair ≥ threshold) are appended to the index, which is
    exactly how the store grows.

    Same seeded permutation family as :func:`minhash_signatures` — the
    caller must build the index with identical (n, num_hashes, seed) or
    estimates are meaningless.
    """
    new_sigs = tracked_local_checkpoint(
        minhash_signatures(new_docs, id_col, text_col, n=n, num_hashes=num_hashes, seed=seed),
        eager=False,
    )
    nb = _cap_band_buckets(
        _banded(new_sigs, bands), max_bucket_size, context="minhash_incremental_pairs[new]"
    ).withColumnRenamed("id", "new_id")
    ib = _cap_band_buckets(
        _banded(index_sigs, bands), max_bucket_size, context="minhash_incremental_pairs[index]"
    ).withColumnRenamed("id", "index_id")
    cand = (
        nb.join(ib, ["band_idx", "band_sig"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .distinct()
    )
    a = new_sigs.withColumnsRenamed({"id": "new_id", "sig": "sig_a"})
    b = index_sigs.withColumnsRenamed({"id": "index_id", "sig": "sig_b"})
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("sig_a")
    return (
        cand.join(a, "new_id")
        .join(b, "index_id")
        .withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= est_threshold)
        .select("new_id", "index_id", "jaccard_est")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 64) -> DataFrame:
    """(id, simhash: long, bands: array<long>[4]) SimHash fingerprint
    from term-frequency-weighted word hashes, PACKED into a single long.

    The packed representation is the scale design: hamming distance
    between two fingerprints is ``bit_count(a XOR b)`` — one codegen'd
    xor+popcount per candidate pair instead of a 64-element zip_with
    fold — and the fingerprint frame caches as 8 bytes + 4 band longs
    per doc instead of a 64-int array (the SQL columnar cache's array
    encoder measured 3-10x the frame's own compute). Band b is bits
    [b*width, (b+1)*width) of the packed long — the same equivalence
    classes as the bit-string bands the DuckDB oracle replays, so
    candidate generation partitions identically value-for-value.

    Explode words → per-(id, word) counts → for each bit, sum(+tf / -tf by
    the word-hash bit) → sign → bit. One shuffle on id. Bits 0-31 come from
    the low md5 half and 32-63 from the high half, so an external SQL
    engine can replay the fingerprint bit-for-bit.
    """
    from ..catalog import spread_partitions

    # the packed-long fingerprint caps bits at 64: Java's shiftleft is
    # mod-64, so bits > 64 would silently WRAP into corrupted
    # fingerprints (and band widths must divide evenly) — fail loudly
    # instead of inviting it through the signature
    if not (0 < bits <= 64 and bits % 4 == 0):
        raise ValueError(
            f"simhash bits must be in (0, 64] and divisible by 4 (got {bits}); "
            "the fingerprint packs into a single long"
        )

    tf = (
        spread_partitions(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        )
        .select("id", F.explode(words(F.col("__text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # the per-bit expressions are built as SQL STRINGS parsed server-side
    # (one py4j call each), not nested Column objects: the Column form
    # costs ~700 py4j round-trips for 64 bits (~2.4s of plan-BUILD time
    # per call at any data size, measured — execution itself is 0.7s at
    # sf0.001). Semantics identical; the parity gate replays them.
    # the two word-hash halves are materialized once — referenced by all
    # `bits` aggregate exprs. One md5 per row, substringed twice
    tf = (
        tf.withColumn("__md5", F.md5("word"))
        .withColumn("__wh_lo", F.conv(F.substring("__md5", 1, 8), 16, 10).cast("long"))
        .withColumn("__wh_hi", F.conv(F.substring("__md5", 9, 8), 16, 10).cast("long"))
    )
    halves = ["__wh_lo" if i < 32 else "__wh_hi" for i in range(bits)]
    shifts = [i % 32 for i in range(bits)]
    bit_sums = [
        F.expr(
            f"sum(IF(({halves[i]} & shiftleft(CAST(1 AS BIGINT), {shifts[i]})) != 0,"
            " tf, -tf))"
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = tf.groupBy("id").agg(*bit_sums)
    # pack the sign bits into one long: bit i set iff the weighted vote is
    # positive. shiftleft on a BIGINT handles bit 63 (lands on the sign
    # bit) where a Python 1 << 63 literal would overflow the LongType;
    # bitwise | (not +) keeps bit 63 overflow-safe under ANSI mode.
    packed_sql = " | ".join(
        f"IF(__b{i} > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    out = agg.select("id", F.expr(packed_sql).alias("simhash"))
    band_width = bits // 4
    band_mask = (1 << band_width) - 1
    bands_col = F.array(
        *[
            F.shiftrightunsigned("simhash", b * band_width)
            .bitwiseAND(F.lit(band_mask).cast("long"))
            for b in range(4)
        ]
    )
    return out.withColumn("bands", bands_col)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: banded candidates (pigeonhole: hamming<=3
    guarantees an equal 16-bit band; wider radii trade recall), then exact
    hamming distance filter on the full fingerprint."""
    # fingerprint frame feeds banding + both verify-join sides; with the
    # packed-long representation it is a plain (long, long, tiny array)
    # frame, cheap to cache columnar
    fp = tracked_persist(simhash(df, id_col, text_col))
    banded = _cap_band_buckets(
        fp.select("id", "simhash", F.posexplode("bands").alias("band_idx", "band_sig")),
        max_bucket_size,
        context="simhash_near_dup_pairs",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # exact hamming = popcount of the fingerprint xor — stays inside
    # whole-stage codegen, no per-pair array fold
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: edge count under which a component closure is finished on the driver —
#: 200k (u, v) rows is ~3 MB collected, a union-find over it is
#: milliseconds, and it replaces the O(log n) tail of fixpoint rounds
#: whose per-round cost at that size is pure job/plan overhead.
_LOCAL_FINISH_EDGES = 200_000


def _finish_components_locally(E: DataFrame) -> DataFrame:
    """Driver union-find over a BOUNDED edge frame → (id, cluster_id).

    The closure operators below are distributed fixpoints; this is their
    explicitly stats-gated escape hatch, the hybrid every production
    graph system ends with: a fixpoint round over a graph that fits in a
    few MB costs one-to-two full job schedules plus a round of driver
    plan-building, while a union-find over the same edges is
    sub-millisecond. Callers check the (already materialized) edge count
    against their ``local_finish_edges`` bound before calling — the
    collect here is bounded by construction, never corpus-sized. Labels
    are the component minimum (union always hooks the larger root under
    the smaller), exactly the distributed contract; works for any
    orderable id type (numeric or string), matching ``F.min`` semantics.
    """
    rows = E.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for row in rows:
        u, v = row[0], row[1]
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    utype = E.schema[0].dataType
    schema = T.StructType(
        [T.StructField("id", utype), T.StructField("cluster_id", utype)]
    )
    return local_frame(
        E.sparkSession, [(n, find(n)) for n in sorted(nodes)], schema
    )


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    shortcut_from: int = 2,
    local_finish_edges: int = _LOCAL_FINISH_EDGES,
) -> DataFrame:
    """(id, cluster_id) — connected components over a near-dup pair graph;
    ``cluster_id`` is the minimum node id in the component.

    This is the final step of dedup at scale: candidate pairs (MinHash /
    SimHash / Jaccard) form a graph whose components are the duplicate
    groups; one canonical doc (the min id) survives per group.

    Algorithm: min-label propagation WITH pointer jumping (the
    hooking + shortcutting scheme of Shiloach-Vishkin / FastSV, expressed
    as DataFrame joins). Each round:

    1. hook: every node takes the min of its label and its neighbors'
       labels (one edge join + groupBy);
    2. shortcut: every node then takes its label's label
       (``l(u) <- l(l(u))``, one self-join on the label mapping) — the
       path from a node to its component minimum at least halves, so
       convergence needs O(log d) rounds, not d. A diameter-1000 chain
       converges in ~10 rounds; plain propagation would need 1000.

    Labels are monotone non-increasing and always node ids within the
    component, so the fixpoint is exactly min-reachable-id (the same
    closure a recursive SQL CTE computes — q29's oracle). For the largest
    graphs the remaining upgrade is small-star/large-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which also bounds the per-round edge fan-in on skewed hubs.

    ``local_finish_edges``: stats-gated hybrid — when the (static)
    symmetric edge set is at most this many rows (default 200k ≈ 3 MB
    collected), the closure is finished with a driver union-find instead
    of distributed rounds: at that size every round is pure job/plan
    fixed cost. 0 forces the distributed fixpoint; output is identical
    either way (equivalence pytest).
    """
    import warnings

    # Materialize the RAW directed pair projection first (narrow map —
    # zero exchanges): (a) the stats gate and the driver union-find need
    # only these rows (the union-find symmetrizes and dedups implicitly),
    # so in the bounded regime the symmetric-distinct shuffle below never
    # runs at all; (b) in the distributed regime the mirror union would
    # otherwise embed the upstream candidate pipeline TWICE (once per
    # branch) — runtime exchange reuse dedups only the exchange WRITE,
    # not the pipeline compute (the co_occurrence_edges round-13 finding).
    # Cost at scale: one extra narrow pair-list materialization before
    # the distinct — linear local I/O, bought back by evaluating the
    # upstream sketch pipeline exactly once.
    # LAZY: the gate's count() below is a full scan, so the checkpoint
    # blocks build inside that one job instead of a separate eager job.
    e1 = tracked_local_checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
        eager=False,
    )
    # stats-gated hybrid on the raw count: 2*raw bounds the symmetric
    # edge set from above (candidate generators emit each unordered pair
    # once, so the bound is tight), keeping the driver collect within the
    # documented bound. A dedup pair graph this small costs more in
    # per-round jobs + plan-building than a union-find over it.
    # local_finish_edges=0 forces the distributed fixpoint (equivalence
    # pytest runs both paths on the same graph).
    if local_finish_edges and 2 * e1.count() <= local_finish_edges:
        return _finish_components_locally(e1)
    # localCheckpoint (not persist): each round's plan would otherwise embed
    # the whole upstream sketch plan again — lineage must be CUT, not cached,
    # or plan size grows exponentially with iterations. On a cluster, swap
    # for checkpoint() to reliable storage for executor-loss tolerance.
    edges = tracked_local_checkpoint(
        e1.union(e1.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    # init already folds round one in: l0(u) = min(u, min neighbor).
    # LAZY: the blocks build inside round 0's convergence aggregate —
    # edges above stays EAGER so the upstream pair pipeline materializes
    # exactly once before any multi-consumer round plan references it.
    labels = tracked_local_checkpoint(
        edges.groupBy("u")
        .agg(F.min("v").alias("__nm"))
        .select("u", F.least(F.col("u"), F.col("__nm")).alias("label")),
        eager=False,
    )
    prev_sum = None
    # max_iter + 1: the sum-equality probe observes a fixpoint one round
    # AFTER it is reached, so a fixpoint hit exactly on the last budgeted
    # round needs one extra confirmation round or it would be misreported
    # as non-convergence
    for it in range(max_iter + 1):
        # hook: l(u) <- min(l(u), min over neighbors' labels). Folding the
        # node's own label in via union (instead of a separate left join
        # back onto `labels`) keeps the round at TWO exchanges — the
        # message join on v and the min-groupBy on u.
        msgs = edges.join(
            labels.select(F.col("u").alias("v"), F.col("label").alias("label")), "v"
        ).select("u", "label")
        hooked = msgs.union(labels).groupBy("u").agg(F.min("label").alias("label"))
        if it < shortcut_from:
            # near-dup graphs are almost always shallow (tight clusters,
            # diameter 1-2): plain hooking alone converges in the first
            # couple of rounds, so don't pay the shortcut's label-keyed
            # join until the graph has proven deep
            new_labels = tracked_local_checkpoint(hooked, eager=False)
        else:
            # shortcut: chase one pointer — labels are node ids, so the
            # hooked frame itself is the mapping; jumped <= hooked always.
            # Path to the component min at least halves per round from here
            # on, keeping worst-case O(log d) total rounds.
            jump = hooked.select(F.col("u").alias("label"), F.col("label").alias("__jmp"))
            new_labels = (
                hooked.join(jump, "label", "left")
                .select(
                    "u",
                    F.least(F.col("label"), F.coalesce("__jmp", "label")).alias("label"),
                )
            )
            new_labels = tracked_local_checkpoint(new_labels, eager=False)
        # convergence when no label moved: labels are monotone
        # non-increasing, so the label sum is a strictly decreasing
        # progress measure — one scalar agg over the checkpointed frame,
        # no join against the previous round and no per-row change flag.
        # This aggregate is ALSO what materializes the round's lazy
        # checkpoint (one job per round, not checkpoint + probe — the
        # star-CC round-7 fold, applied here round 8; q29 family).
        # decimal(38,0): exact at any id magnitude (long sum could wrap).
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # exhausted max_iter with labels still moving: component diameter
        # exceeds the round budget and the returned labels are NOT a
        # fixpoint — surface it instead of silently returning partial
        # clusters (raise-vs-warn mirrors the quality-check contract)
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels are partial (component diameter > max_iter). Raise "
            "max_iter or switch to small-star/large-star contraction.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("u").alias("id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    probe_skip_rounds: int = 2,
    local_finish_edges: int = _LOCAL_FINISH_EDGES,
) -> DataFrame:
    """(id, cluster_id) by ALTERNATING small-star / large-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the hub-robust alternative to :func:`connected_components`.

    Min-label propagation moves one hop per round, and every round a
    high-degree hub fans its full neighborhood into one reduce group.
    The star operations instead REWIRE the graph toward depth-1 stars:

    - large-star: every node attaches its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - small-star: every node attaches its smaller-or-equal neighbors
      (and itself) to their minimum.

    Each phase is a partial-aggregated ``groupBy(min)`` + join-back —
    no sort window, so a degree-10^7 hub is combined map-side instead
    of materialized in one task — and the paper's result is O(log^2 n)
    rounds with edge count non-increasing. Edges are kept canonical
    (child > parent), so the fixpoint is exactly the star forest whose
    parents are the component minima: identical output to
    connected_components / the q29 recursive-CTE oracle (r41 gate).

    Per round: two groupBy+join phases over the (checkpointed) edge
    frame; convergence = (count, xxhash-sum) of the canonical edge set
    unchanged — one scalar agg per round, same probe discipline as
    connected_components. Lineage is cut every round with a LAZY
    tracked localCheckpoint whose blocks materialize inside that same
    convergence aggregate: one job per round, not an eager-checkpoint
    job plus a probe job (round-7 fixed-cost fix — the rewiring is not
    monotone row-wise, so a plain cache would pin superseded edge
    sets without cutting the exponentially-growing plan). The first
    ``probe_skip_rounds`` rounds skip the probe entirely (no action at
    all — the rounds stay plan extensions and the first probed round's
    aggregate materializes the chained prefix in one job): star
    contraction cannot converge that early on any non-trivial graph,
    so the skipped probes are pure fixed-cost savings (~0.8s at
    sf0.001, measured).

    ``local_finish_edges``: stats-gated hybrid — contraction strictly
    shrinks the edge set, so the closure runs distributed rounds only
    while the remainder exceeds this bound (default 200k rows ≈ 3 MB
    collected); once under it, one driver union-find replaces the
    remaining O(log n) tail rounds, whose cost at that size is pure
    job/plan overhead. The per-round check reuses the convergence
    aggregate's count (no extra job); a graph under the bound up front
    skips the fixpoint entirely. 0 forces the fully distributed
    fixpoint; output is identical either way (equivalence pytest).

    The upstream pair pipeline materializes exactly ONCE (the initial
    eager checkpoint of the canonical edge set); the node set needed
    for root recovery is derived from the FINAL edge frame instead of
    a second pass over ``pairs`` — sound because both star phases
    preserve the node set: large-star keeps a node with a smaller
    neighbor as a child of that neighbor's group and a node with none
    as the parent of its own; small-star re-emits every child via its
    self-attachment row, every parent as a group minimum.
    """
    import warnings

    from .cache import tracked_local_checkpoint

    e0 = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # RAW canonical half first (narrow map, no distinct): the stats gate
    # and the driver union-find need only these rows, so in the bounded
    # regime the canonical-distinct shuffle below never runs; candidate
    # generators emit each unordered pair once, so the raw count bounds
    # the distinct set tightly. Cost at scale: one extra narrow pair-list
    # materialization before the distinct (linear local I/O), and the
    # distinct then reads the checkpoint instead of re-evaluating the
    # upstream sketch pipeline.
    # LAZY: the gate's count() below is a full scan, so the checkpoint
    # blocks build inside that one job instead of a separate eager job.
    Eraw = tracked_local_checkpoint(
        e0.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")),
        eager=False,
    )
    if local_finish_edges and Eraw.count() <= local_finish_edges:
        return _finish_components_locally(Eraw)
    # canonical: child (greater id) -> parent (smaller id), one row per
    # undirected edge. Eager: consumed twice by round 0's neighborhood
    # union — a lazy cut here would race two subtrees of one job into
    # computing the whole upstream sketch pipeline concurrently.
    E = tracked_local_checkpoint(Eraw.distinct())
    # stats-gated hybrid, twice over: star contraction strictly SHRINKS
    # the edge set, so (a) a graph already under the driver bound skips
    # the fixpoint entirely, and (b) a big graph runs distributed rounds
    # only until the contracted remainder fits, then one union-find
    # replaces the O(log n) tail of fixed-cost rounds (the per-probe
    # check below reuses the count the convergence aggregate already
    # computes — no extra job). local_finish_edges=0 forces the fully
    # distributed fixpoint (the q29-equivalence pytest runs both).
    if local_finish_edges and E.count() <= local_finish_edges:
        return _finish_components_locally(E)
    prev = None
    pending_large: list[DataFrame] = []
    for it in range(max_iter + 1):
        # large-star: neighborhoods from both directions; m = min of the
        # closed neighborhood; strictly-larger neighbors re-attach to m.
        # v > u and m <= u  =>  output rows are already canonical.
        nb = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = nb.groupBy("u").agg(F.min("v").alias("__mn"))
        large = (
            nb.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("__mn"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        # two consumers (the min aggregate and the join-back) — persist so
        # the phase computes once; the PREVIOUS round's copies are dropped
        # below as soon as the new edge set materializes, so resident
        # cache stays ~one round's worth, not rounds x edges
        large = tracked_persist(large)
        pending_large.append(large)
        # small-star on the canonical frame (all neighbors here are
        # smaller): every smaller neighbor AND the node itself attach to
        # the minimum neighbor; self-loops drop.
        smin = large.groupBy("u").agg(F.min("v").alias("__m"))
        small = (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .union(smin.select("u", F.col("__m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # lazy lineage cut: the plan is rebased on the checkpoint RDD now,
        # the blocks materialize inside the next convergence aggregate —
        # one job per PROBED round (the global agg scans every partition,
        # which the lazy-checkpoint contract requires)
        E = tracked_local_checkpoint(small, eager=False)
        if it < probe_skip_rounds:
            # star contraction cannot converge this early on a non-trivial
            # graph, so skip the probe entirely: no action runs, the round
            # stays a pure plan extension, and the FIRST probed round's
            # aggregate materializes the whole chained prefix in one job
            # (each skipped round's cache/checkpoint fills as that job's
            # stages first touch it). Worst case — input already a star
            # forest — the skipped rounds are fixpoint no-ops on an
            # edge set that never grows.
            continue
        cur = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        # the new E is materialized (the agg ran): this and any skipped
        # rounds' intermediates are dead — free them now (safe: caches,
        # not checkpoints; bulk release would also catch them, but only
        # at the end of the whole query)
        for done in pending_large:
            done.unpersist()
        pending_large.clear()
        cur = (cur["n"], cur["h"])
        if cur == prev:
            break
        prev = cur
        if local_finish_edges and cur[0] <= local_finish_edges:
            # contraction has shrunk the remainder under the driver
            # bound: finish it in one union-find instead of more rounds
            return _finish_components_locally(E)
    else:
        warnings.warn(
            f"connected_components_star did not converge in {max_iter} rounds; "
            "components are partial.",
            RuntimeWarning,
            stacklevel=2,
        )
    # fixpoint is a star forest: children point at their component min;
    # roots are the nodes that never appear as a child. Both derive from
    # the final materialized E (node-set preservation, see docstring) —
    # the upstream pair pipeline is never re-executed.
    children = E.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = (
        E.select(F.col("v").alias("id"))
        .distinct()
        .join(children.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    return children.union(roots)


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    naive_candidate_ratio: float | None = 25.0,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING (All-Pairs /
    PPJoin candidate generation, Bayardo et al. WWW'07) — same output as
    :func:`ngram_jaccard_pairs`, a fraction of the candidate pairs.

    CROSSOVER-AWARE: the prefix machinery pays ~5 extra exchanges of the
    posting index, which only repays itself when the naive self-join
    would explode. One bounded probe over the (already needed) shingle
    document-frequency aggregate estimates the naive join's candidate
    volume exactly (sum df·(df-1)/2); when it is under
    ``naive_candidate_ratio`` × postings (i.e. posting lists are short —
    a clean corpus) the operator runs the naive verify on the SAME
    cached index instead. Both paths are exact and identical in output
    (prefix-filter lemma — property-tested on 300 random corpora), so
    dispatch is purely a cost decision, like Catalyst picking a join
    strategy from stats. Pass ``naive_candidate_ratio=None`` to force
    the prefix path.

    The inverted-index self-join in ngram_jaccard_pairs indexes EVERY
    (doc, shingle): one boilerplate shingle shared by k docs fans out
    k^2/2 candidate rows even when none of those pairs can pass the
    threshold. Prefix filtering is the lossless fix: order shingles by a
    global total order (document frequency ascending — rarest first —
    then shingle), and index each doc only on its first
    ``|S| - floor(t*|S|) + 1`` shingles. Any pair with Jaccard >= t has
    overlap >= ceil(t*max(|A|,|B|)), and by the prefix-filter lemma two
    sets with that much overlap MUST collide inside these prefixes — so
    candidate recall is exactly 1.0 while frequent shingles (which sort
    last) mostly vanish from the index. floor() (not ceil) keeps the
    prefix on the safe long side under float rounding of t*|S|.

    Verification then computes the EXACT Jaccard per surviving candidate
    from per-doc sorted shingle arrays (array_intersect, JVM codegen) —
    bounded by document length, no second corpus-wide self-join.

    Scale: the index shrinks by the prefix ratio (~1-t), and high-
    frequency shingles leave the join entirely — the same failure mode
    _cap_band_buckets guards in LSH, solved here WITHOUT losing recall.
    A lossless length filter (t|A| <= |B| <= |A|/t) prunes size-
    incompatible candidates at the join. Measured trade (SCALE.md): on
    a UNIFORM corpus the naive join wins ~3-5x (verification hauls
    per-doc shingle arrays; the posting join was never in danger), but
    one 16k-doc boilerplate header drives the naive join to 1.3e9
    candidate rows (560s) while this plan is unchanged (13s) — use the
    naive form when posting lists are known-bounded, this form when the
    corpus can contain boilerplate (i.e., always, at web scale).
    Shuffles: shingle-frequency agg, per-doc window (id-keyed), the
    prefix self-join (shingle-keyed), candidate distinct, and two
    id-keyed joins against the docs-sized array table.

    Returns (id_a, id_b, n_common, jaccard) — identical to
    ngram_jaccard_pairs at the same (n, threshold); the oracle for both
    is the naive all-sharing-pairs SQL.

    ONE materialization feeds everything (round-7 probe-overhead fix):
    the persisted frame is the per-doc shingle ARRAY (docs-sized, not
    postings-sized); postings explode from it lazily, per-doc set sizes
    ride along as ``F.size`` (no groupBy), verification sets are the
    cached arrays themselves (no collect_list re-aggregation), and BOTH
    probe stages read one collected document-frequency histogram (a
    frame of distinct df values — a few thousand rows at any corpus
    size, driver-safe by construction). Probe cost: one job over the
    index both routes consume anyway, plus a vocabulary-sized ``freq``
    cache the prefix route reuses for its global shingle order.
    """
    # RDD-layer materialization (columnar cache would re-encode the string
    # arrays, see cache.tracked_local_checkpoint). Lazy when probing: the probe's
    # histogram job consumes arr as a single subtree and is the first full
    # scan, so the blocks materialize inside the job the route needs anyway;
    # eager when the probe is disabled (the prefix plan reads arr from
    # several subtrees — a lazy cut would race them into recomputing it).
    arr = tracked_local_checkpoint(
        doc_shingle_arrays(df, id_col, text_col, n),
        eager=naive_candidate_ratio is None,
    )
    sh = arr.select("id", F.size("__arr").alias("n_shingles"), F.explode("__arr").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if naive_candidate_ratio is not None:
        # stage-1 dispatch: the naive self-join's candidate volume is
        # EXACT from two scalars over the df aggregate (sum df·(df-1)/2
        # and sum df) — collected as ONE row, not the full histogram
        # (which stage 2 alone needs, and stage 2 only runs on corpora
        # already routed away from the fast path); when the volume is
        # under naive_candidate_ratio × postings (posting lists are
        # short — a clean corpus) the prefix machinery's ~5 extra
        # exchanges cannot pay for themselves. This probe job is also
        # what materializes the lazy ``arr`` checkpoint, so the chosen
        # route reads cached blocks instead of re-shingling.
        # The probe aggregates on xxhash64(shingle), not the string:
        # the exchange ships 8-byte longs instead of ~25-byte shingles
        # (~3x fewer shuffle bytes on the probe's one shuffle). A 64-bit
        # collision could only merge two df counts — n_postings stays
        # exact (sum of df is collision-invariant) so the broadcast gate
        # is unaffected, and n_cand is a COST estimate feeding a
        # route choice between two exact plans, where a vanishing
        # ~n²/2^64 upward bias is irrelevant. The string-keyed ``freq``
        # above is untouched — the prefix route's global shingle order
        # still uses real shingles.
        hfreq = (
            arr.select(F.explode("__arr").alias("shingle"))
            .groupBy(F.xxhash64("shingle").alias("__hs"))
            .agg(F.count(F.lit(1)).alias("__df"))
        )
        d = F.col("__df").cast("double")
        probe = hfreq.agg(
            F.coalesce(F.sum(d), F.lit(0.0)).alias("n_postings"),
            F.coalesce(F.sum(d * (d - F.lit(1.0)) / F.lit(2.0)), F.lit(0.0)).alias("n_cand"),
        ).first()
        n_cand = float(probe["n_cand"])
        n_postings = float(probe["n_postings"])
        if n_cand <= naive_candidate_ratio * max(n_postings, 1.0):
            _LOG.info(
                "prefix_filtered_jaccard_pairs: naive path (stage 1: "
                "%.3g candidates <= %.0fx %.3g postings)",
                n_cand, naive_candidate_ratio, n_postings,
            )
            # the postings count is exact, so the verify's self-join can
            # be broadcast when the index is genuinely small — a pure
            # stats-driven physical choice (both shapes are exact); the
            # shuffle form remains the at-scale default
            return _jaccard_pairs_from_sized_index(
                sh, threshold, broadcast=n_postings <= _NAIVE_BROADCAST_POSTINGS
            )
        # the prefix route joins freq again for the global shingle order;
        # vocabulary-sized, so caching it costs ~nothing relative to the
        # explosive corpora that reach this point
        freq = tracked_persist(freq)
        hist = sorted(
            (int(r["__df"]), int(r["__n"]))
            for r in freq.groupBy("__df").agg(F.count(F.lit(1)).alias("__n")).collect()
        )
        # stage-2: estimate the candidate volume the prefix filter would
        # leave, from the same histogram. Prefixes keep each doc's
        # rarest ~(1-t) fraction of postings, so the estimate is the
        # candidate mass of the lowest-df shingles holding that posting
        # budget. On a SATURATED shingle space (tiny vocabulary, flat
        # df) even the rarest shingles are dense: the array-intersect
        # verification then hauls full shingle arrays per candidate —
        # an order of magnitude more bytes/work per candidate than the
        # naive count-based join spends per joined row. Prefix filtering
        # must buy roughly that verify-cost factor (~16x) in candidate
        # reduction to win; otherwise run the naive verify on the cached
        # index. Both routes are exact — this is a pure cost decision,
        # like Catalyst choosing a join strategy from stats.
        budget = (1.0 - float(threshold) + 0.05) * n_postings
        cand_est, cum = 0.0, 0.0
        for df_v, cnt in hist:
            take = min(float(cnt * df_v), budget - cum)
            if take <= 0:
                break
            cand_est += (take / df_v) * df_v * (df_v - 1) / 2.0
            cum += take
        if cand_est > n_cand / 16.0:
            _LOG.info(
                "prefix_filtered_jaccard_pairs: naive path (stage 2: "
                "~%.3g of %.3g candidates would survive the prefix "
                "filter — saturated shingle space, array verification "
                "would not pay)",
                cand_est, n_cand,
            )
            return _jaccard_pairs_from_sized_index(sh, threshold)
        _LOG.info(
            "prefix_filtered_jaccard_pairs: prefix path (~%.3g of %.3g "
            "naive candidates estimated to survive the prefix filter)",
            cand_est, n_cand,
        )
    prefix_len = (
        F.col("n_shingles")
        - F.floor(F.lit(float(threshold)) * F.col("n_shingles"))
        + 1
    )
    pre = (
        sh.join(freq, "shingle")
        .withColumn(
            "__pos",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
            ),
        )
        .filter(F.col("__pos") <= prefix_len)
        .select("id", "shingle", "n_shingles")
    )
    # the prefix index feeds both self-join sides
    pre = tracked_persist(pre)
    # length filter (also lossless): J >= t forces t|A| <= |B| and
    # t|B| <= |A|, so size-incompatible pairs never reach verification.
    # Integer-slack comparison (|B| + 1 > t*|A|) — a bare float compare
    # can round t*|A| a few ulps above an exactly-qualifying integer
    # size and drop a pair sitting exactly on the threshold (same fix
    # as _pair_overlap_counts; pinned in tests)
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n_shingles") + 1 > F.lit(float(threshold)) * F.col("a.n_shingles"))
            & (F.col("a.n_shingles") + 1 > F.lit(float(threshold)) * F.col("b.n_shingles")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verification sets are the cached per-doc arrays (array_intersect is
    # set-semantics — no sort needed; sort_array cost ~0.2s/probe at sf0.1)
    joined = (
        cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("__arr").alias("__sa")), "id_a"
        )
        .join(
            arr.select(F.col("id").alias("id_b"), F.col("__arr").alias("__sb")), "id_b"
        )
        .withColumn("n_common", F.size(F.array_intersect("__sa", "__sb")).cast("long"))
        .withColumn("n_a", F.size("__sa"))
        .withColumn("n_b", F.size("__sb"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return joined.select(
        "id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )
