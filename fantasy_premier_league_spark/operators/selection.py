"""Targeted data selection: DSIR-style hashed-n-gram importance weights.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169) scores every document in a raw pool by how much it
looks like a small *target* corpus, using nothing heavier than hashed
n-gram counts and two categorical distributions:

    weight(doc) = mean over tokens t of
        ln p_target(bucket(t)) - ln p_background(bucket(t))

with add-alpha smoothing over ``n_buckets`` hash buckets. Documents with
high weight are the ones importance resampling keeps for pre-training.

:func:`dsir_weights` trains and scores in one call: one bucket-keyed
groupBy builds both distributions in a single shuffle whose key space is
``n_buckets``, and the per-document scores re-join that model and average
per document — one groupBy(doc) with partial agg.

Nothing is collected to the driver; both passes are linear scans. The
portable hash keeps the whole computation replayable in ANSI SQL, so the
query built on this operator is value-hash checked against DuckDB.

Reference provenance: the reference repo has no data-selection stage —
this extends its curation surface (SURVEY.md §2, training-data additions)
the same way operators/curation.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tracked_persist
from .dedup import portable_hash32, words


def _bucketed_tokens(df: DataFrame, text_col: str, n_buckets: int, *extra_cols: str) -> DataFrame:
    return df.select(
        *extra_cols, F.explode(words(F.col(text_col))).alias("word")
    ).withColumn("bucket", portable_hash32(F.col("word")) % n_buckets)


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target_col: str,
    *,
    n_buckets: int = 256,
    alpha: float = 1.0,
    threshold: float = 0.0,
) -> DataFrame:
    """Train-and-score in one call (the r01 query form).

    Returns one row per document with tokens::

        doc_id, is_target, n_tokens, dsir_score, selected

    ``selected`` flags pool documents whose rounded score clears
    ``threshold`` — thresholding on the rounded value keeps the flag
    bit-stable across engines.

    Train-and-score shares ONE tokenize pass: the corpus reduces to a
    persisted (doc_id, is_target, bucket, cnt) histogram — doc x bucket
    sized, the map-side aggregate running on a spread scan — and both
    the bucket model and the per-doc scores aggregate from it (separate
    model and score passes each re-tokenized the corpus, profiled as
    back-to-back single-task 0.5-0.7s stages locally; at scale the
    histogram is also what should shuffle, not token rows — guide
    §2.3). The per-doc mean log-ratio is the cnt-weighted mean over
    buckets, accumulated EXACTLY: the per-bucket log-ratio is cast to
    DECIMAL(20,14) and the weighted sum runs in decimal (order-
    independent by construction — this corpus holds scores within
    1.3e-11 of a 6-dp rounding boundary, inside the worst-case float
    regrouping error, the q16 knife-edge class), with one final
    correctly-rounded cast feeding the double division + round.  The
    14-dp quantization of ln() moves a score by < 5e-15, three orders
    under the measured minimum boundary distance.
    """
    from ..catalog import spread_partitions

    base = spread_partitions(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(is_target_col).cast("boolean").alias("__is_t"),
            F.col(text_col).alias("__text"),
        )
    )
    hist = tracked_persist(
        _bucketed_tokens(base, "__text", n_buckets, "doc_id", "__is_t")
        .groupBy("doc_id", "__is_t", "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    buckets = hist.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_t"), F.col("__cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("__is_t"), F.col("__cnt")).otherwise(0)).alias("cb"),
    )
    totals = buckets.agg(F.sum("ct").alias("tt"), F.sum("cb").alias("tb"))
    a = F.lit(float(alpha))
    b = F.lit(float(n_buckets))
    model = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + a) / (F.col("tt") + a * b))
            - F.log((F.col("cb") + a) / (F.col("tb") + a * b))
        )
        .cast("decimal(20,14)")
        .alias("log_ratio"),
    )
    scores = (
        hist.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("__cnt").cast("long").alias("n_tokens"),
            F.round(
                # (12,0) x (20,14) -> DECIMAL(33,14); sum -> (38,14):
                # exact, no precision-loss rescale, order-independent
                F.sum(
                    F.col("__cnt").cast("decimal(12,0)") * F.col("log_ratio")
                ).cast("double")
                / F.sum("__cnt"),
                6,
            ).alias("dsir_score"),
        )
    )
    flags = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(is_target_col).cast("boolean").alias("is_target"),
    )
    return scores.join(flags, "doc_id").select(
        "doc_id",
        F.col("is_target").cast("int").alias("is_target"),
        "n_tokens",
        "dsir_score",
        (
            (~F.col("is_target"))
            & (F.col("dsir_score") >= F.lit(float(threshold)))
        )
        .cast("int")
        .alias("selected"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k winners.

    Efraimidis–Spirakis exponential race: each row draws an Exp(weight)
    arrival time ``-ln(u) / w`` and the k earliest arrivals win — the
    inclusion probabilities match sequential weighted draws without
    replacement. ``u`` comes from the portable md5 hash of the id
    (uniform in (0,1], identical in any engine), so the "random" sample
    is reproducible across runs, partitionings, and engines — the only
    kind of sample a correctness-gated pipeline can ship.

    One narrow pass computes keys; the top-k is a TakeOrdered (per-
    partition heads + k-row merge), never a full sort. Weights must be
    strictly positive. Returns ``(id, weight, sample_key, rank)`` with
    sample_key rounded to 6 (ranking happens on the rounded key + id so
    rank order is engine-stable).
    """
    u = (portable_hash32(F.col(id_col).cast("string")) + 1) / F.lit(4294967296.0)
    key = F.round(-F.log(u) / F.col(weight_col), 6)
    keyed = df.select(
        F.col(id_col), F.col(weight_col), key.alias("sample_key")
    ).orderBy("sample_key", id_col).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy("sample_key", id_col)
    return keyed.select(
        id_col,
        weight_col,
        "sample_key",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def frequent_keys(
    df: DataFrame,
    key_col: str,
    *,
    min_share: float = 0.001,
    n_buckets: int = 4096,
) -> DataFrame:
    """EXACT heavy hitters (keys with count >= min_share * N) via a
    lossless bucket prefilter — the two-pass answer to "top tokens over
    100 TB" when the key space is too large to shuffle.

    A plain ``groupBy(key).count().filter(cnt >= sN)`` shuffles one
    partial-count record per DISTINCT key — at n-gram/token cardinality
    that shuffle dwarfs the answer. Instead:

    pass 1 — count hash BUCKETS (bounded state: ``n_buckets`` rows reach
    the shuffle regardless of key cardinality; map-side combine does the
    heavy lifting). Since count(key) <= count(bucket(key)), any bucket
    below the threshold cannot contain a frequent key — dropping it is
    LOSSLESS (the same pigeonhole that makes prefix filtering exact).

    pass 2 — exact counts for keys in surviving buckets only (a semi
    join against the tiny frequent-bucket list, broadcast), then the
    real HAVING. False positives from bucket collisions cost only
    second-pass work, never correctness.

    Everything stays lazy: N folds out of the bucket-sized counts (the
    raw stream is scanned exactly twice — once per pass) and the
    threshold is a 1-row aggregate cross-joined as a broadcast, no
    driver readback. Returns
    (key, cnt, share) with share rounded to 6 dp. Oracle: the naive
    GROUP BY ... HAVING — the value-hash proves the two-pass plan is
    exactly the one-pass answer.
    """
    keyed = df.select(F.col(key_col).alias("key")).withColumn(
        "__bucket", portable_hash32(F.col("key").cast("string")) % n_buckets
    )
    # the bucket-count frame (n_buckets rows) feeds BOTH the total and
    # the frequent-bucket filter: persist it, or each consumer re-runs
    # the corpus-wide bucket aggregate. N then folds out of the tiny
    # cached frame — never a separate scan of the raw stream
    bucket_counts = tracked_persist(
        keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__bc"))
    )
    total = bucket_counts.agg(F.sum("__bc").alias("__n"))
    frequent_buckets = (
        bucket_counts.crossJoin(F.broadcast(total))
        .filter(F.col("__bc") >= F.lit(float(min_share)) * F.col("__n"))
        .select("__bucket")
    )
    survivors = keyed.join(F.broadcast(frequent_buckets), "__bucket", "semi")
    return (
        survivors.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(float(min_share)) * F.col("__n"))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("__n"), 6).alias("share"),
        )
    )
