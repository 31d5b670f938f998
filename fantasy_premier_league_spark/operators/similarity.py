"""Similarity search over embedding columns (array<float>).

Two execution strategies for top-k cosine neighbors:

- :func:`cosine_topk` — pure DataFrame: broadcast the (small) query set,
  JVM-side dot products via ``zip_with``/``aggregate``, per-query top-k via
  window. Exact; the baseline and the oracle-checkable path.
- :func:`cosine_topk_block` — Arrow/NumPy blocked matmul via ``mapInPandas``:
  the corpus streams through executors partition-by-partition, each batch
  does one BLAS ``corpus_block @ queries.T``, emits per-batch top-k, and a
  final per-query top-k merge reduces driver-bound data to k rows per query.
  This is the 100 TB shape: corpus never shuffles, queries broadcast once.

All-pairs near-dup detection has the same split: :func:`cosine_pairs_grid`
is the distributed exact default (block pair-grid, two blocks per task);
:func:`cosine_pairs_block` is the broadcast-matmul small-corpus fast path.
An IVF/LSH-bucketed ANN variant narrows the scanned fraction; see
``lsh_bucket_topk`` (random-hyperplane signatures, bucket-restricted exact
rerank).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .cache import tracked_persist
from .local import local_frame

#: largest probe table (rows = queries x n_probe) shipped WITH inline query
#: vectors through a driver broadcast; bigger batches broadcast only the
#: slim (query_id, cell) routing pairs and re-join vectors distributed
_IVF_INLINE_PROBE_ROWS = 262_144

#: bounded, seeded training sample for the IVF coarse quantizer — the
#: FAISS convention (they recommend ~max(256, 39*k) points per centroid);
#: 32k rows x 64 dims x 8 B = 16 MB on the driver, enough for any
#: n_centroids this engine ships
_IVF_TRAIN_SAMPLE = 32_768

#: Lloyd's rounds of the IVF coarse quantizers: a coarse quantizer only
#: shapes cells — recall comes from n_probe, so training to convergence
#: buys nothing
_IVF_TRAIN_ITERS = 8

#: decimal places every cosine scorer here rounds to before ranking or
#: thresholding (rounded cosine + id tie-break is what oracles replay)
COSINE_DIGITS = 4

#: embedding width the product quantizers slice into ``m`` subspaces
PQ_DIM = 64


def _local_lloyds(x: np.ndarray, *, k: int, iters: int) -> np.ndarray:
    """DETERMINISTIC Lloyd's k-means on a BOUNDED sample (driver-side,
    numpy), every step engine-portable so an external SQL engine can
    replay the whole training loop value-for-value (the q16 oracle does):

    - init = the FIRST k sample rows — the sample arrives md5-hash-
      ordered (a fixed random permutation of the corpus), so this is
      random init that any engine reproduces; the hash order is the sole
      randomness source,
    - per-round distances are round(sqrt(Σ(x-c)²), 6) with first-index
      tie-break — the same rounded metric the Spark-side assignment and
      probe expressions use, so a knife-edge assignment cannot diverge
      between training, serving, and the oracle,
    - per-round centroid means round to 6 dp (absorbs float-sum ordering
      across numpy / Spark / DuckDB),
    - empty clusters keep their previous centroid.

    Early termination is unnecessary for replay correctness: once
    assignments repeat, the rounded means are a fixpoint, so a fixed
    ``iters`` replay and a converged shorter run agree exactly.

    Rounding-mode note (accepted knife-edge flake mode, ADVICE r9):
    training rounds with ``np.round`` (half-to-even on the scaled
    double) while serving (``F.round``) and the DuckDB oracle round
    HALF_UP on the exact decimal expansion. No double is exactly
    halfway at 6 dp, so divergence needs the preceding float arithmetic
    to land within 1 ulp of a .5000005e-6 boundary — never observed
    across the q16/q10 corpora, and any vectorized "half-up" emulation
    (floor(x*1e6+0.5)) has the SAME 1-ulp boundary against exact-decimal
    HALF_UP, so switching would trade one coincidence for another while
    decimal-exact rounding of the 4.2M per-call distance values is
    ~10s of pure Python. If a knife-edge vector ever surfaces, the
    failure is a value-hash mismatch on one row, not a silent wrong
    answer.
    """
    n = len(x)
    if n == 0:
        raise ValueError("ivf_topk: empty corpus — nothing to train the quantizer on")
    k_eff = min(k, n)
    cent = x[:k_eff].copy()
    for _ in range(iters):
        d = np.empty((n, k_eff), dtype=np.float64)
        for j in range(k_eff):
            d[:, j] = np.round(np.sqrt(((x - cent[j]) ** 2).sum(axis=1)), 6)
        a = d.argmin(axis=1)  # argmin takes the first (lowest-index) min
        for j in range(k_eff):
            members = x[a == j]
            if len(members):
                cent[j] = np.round(members.mean(axis=0), 6)
    return cent


def _train_sample(c: "DataFrame", *, id_field: str, vec_field: str) -> np.ndarray:
    """Bounded deterministic training sample (md5-hash-ordered — a fixed
    random permutation any engine replays; id tiebreak so a hash collision
    cannot leave the cut-off row dependent on partition order)."""
    sample_hash = F.conv(
        F.substring(F.md5(F.col(id_field).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return np.array(
        [
            r[vec_field]
            for r in c.select(vec_field, id_field, sample_hash.alias("__h"))
            .orderBy("__h", id_field)
            .limit(_IVF_TRAIN_SAMPLE)
            .collect()
        ],
        dtype=np.float64,
    )


def _train_quantizer(
    c: "DataFrame", *, id_field: str, vec_field: str, k: int, iters: int
) -> np.ndarray:
    """Bounded deterministic sample → local Lloyd's (see
    :func:`_local_lloyds`). Hash order (not head) keeps the sample
    unbiased under any input partitioning/sort; the md5-derived hash
    (not xxhash64) keeps the permutation replayable by SQL oracles."""
    sample = _train_sample(c, id_field=id_field, vec_field=vec_field)
    return _local_lloyds(sample, k=k, iters=iters)


def _assign_cells(c: "DataFrame", centroids: np.ndarray, *, vec_field: str) -> "DataFrame":
    """Map-side argmin cell assignment against the centroid LITERAL
    (rounded sqrt metric, first-index tie-break — the exact rule the
    trainer used): one projection inside codegen, no shuffle, no model
    transform. The centroid table rides as ONE server-parsed literal
    (nested-Column form would cost n_centroids x dim py4j round-trips
    of plan-build)."""
    cent_sql = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(repr(float(x)) for x in ctr) for ctr in centroids
    )
    l2sq = (
        f"aggregate(zip_with({vec_field}, __ctrs[%d], (a, b) -> (a - b) * (a - b)),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    dists = "array(%s)" % ", ".join(
        f"round(sqrt({l2sq % i}), 6)" for i in range(len(centroids))
    )
    return (
        c.withColumn("__ctrs", F.expr(cent_sql))
        .withColumn(
            "cell",
            F.expr(f"cast(array_position({dists}, array_min({dists})) - 1 as int)"),
        )
        .drop("__ctrs")
    )


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _round6_half_up(arr: np.ndarray) -> np.ndarray:
    """Match Spark's F.round exactly: HALF_UP on the shortest decimal
    representation (repr) of the double — np.round is banker's half-EVEN
    on the binary value, which flips code assignments for distances
    landing exactly on a .5e-6 boundary. Intended for bounded query-side
    tables (nq x m x k_codes, a few thousand entries), where the
    per-element Decimal hop is negligible."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    flat = [
        float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
        for v in arr.ravel()
    ]
    return np.asarray(flat, dtype=np.float64).reshape(arr.shape)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector the k nearest
    corpus vectors (excluding itself), ranked on rounded cosine with id
    tie-break (deterministic across engines and summation orders).

    Returns (query_id, neighbor_id, cosine, rank).
    """
    # norms are per-SIDE quantities: compute them once per row before the
    # pair join, not per PAIR inside it (the HOF fold is interpreted, not
    # codegen'd -- recomputing both norms per pair tripled the fold work;
    # same doubles, same rounding, value-identical)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("__qn", _norm(F.col("qvec")))
    # the per-pair cosine folds run on the corpus scan's partitions:
    # spread a too-narrow local scan (no-op at real scale)
    from ..catalog import spread_partitions

    c = spread_partitions(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    ).withColumn("__cn", _norm(F.col("cvec")))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cosine = F.round(_dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")), COSINE_DIGITS)
    scored = pairs.select("query_id", "neighbor_id", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for each
    query (anchor), the k most-similar corpus vectors with a DIFFERENT
    label — high-cosine wrong-class examples are exactly the negatives
    that sharpen a contrastive objective. Same broadcast + windowed
    top-k shape as :func:`cosine_topk` (corpus never shuffles; the label
    inequality rides the same fused filter), same rounded-cosine +
    id tie-break determinism.

    Returns (query_id, neighbor_id, neg_label, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
        F.col(label_col).alias("__qlabel"),
    ).withColumn("__qn", _norm(F.col("qvec")))
    # spread: per-pair folds run on the corpus scan's partitions (see
    # cosine_topk; no-op at real scale)
    from ..catalog import spread_partitions

    c = spread_partitions(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
            F.col(label_col).alias("neg_label"),
        )
    ).withColumn("__cn", _norm(F.col("cvec")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neg_label") != F.col("__qlabel"))
    )
    # per-side norms precomputed (see cosine_topk) -- value-identical
    cosine = F.round(
        _dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")),
        COSINE_DIGITS,
    )
    scored = pairs.select("query_id", "neighbor_id", "neg_label", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: above this many eval rows the broadcast fold stops being the right
#: plan (the mask side is no longer "small by nature") and
#: semantic_decontaminate routes through the IVF-bucketed probe instead
_DECON_EVAL_BROADCAST_MAX_ROWS = 500_000


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    eval_broadcast_max_rows: int = _DECON_EVAL_BROADCAST_MAX_ROWS,
    n_probe: int = 8,
) -> DataFrame:
    """Embedding-space decontamination: for every TRAIN vector, its best
    cosine match in the EVAL set, plus a contamination verdict — the
    semantic complement of the 5-gram lexical decontaminate
    (operators/curation.py::decontaminate_overlap_split): paraphrased or
    reformatted benchmark leakage that shares no 5-gram still lands at
    high cosine.

    Shape is the decontamination asymmetry exploited everywhere at
    scale: eval/benchmark sets are small by nature, the train corpus is
    the 100 TB side — so the EVAL side broadcasts (same
    BroadcastNestedLoopJoin shape as :func:`cosine_topk`) and the train
    corpus streams through map-side, NEVER shuffling its vectors: the
    per-train argmax is a partial-aggregating ``groupBy(train_id).max``
    over a (cosine, -eval_id) struct, so only |train| slim rows reach
    the exchange. Determinism: rounded cosine with min-eval-id
    tie-break (the struct max ordering), replayable in any engine.

    Past ``eval_broadcast_max_rows`` (one bounded count job) the
    broadcast fold is the wrong plan — the eval side no longer fits an executor broadcast —
    and the call routes through :func:`semantic_decontaminate_ivf`
    (VERDICT r12 #4): probe only each train vector's ``n_probe``
    nearest eval cells. That path is approximate (recall governed by
    n_probe/n_centroids; exhaustive — and value-identical to this fold,
    pinned in tests/test_scale_ops.py — when n_probe covers every
    cell). Driver-SF corpora sit far below the gate, so the q37 oracle
    always replays the exact broadcast fold.

    Returns (train_id, eval_id, cosine, contaminated) — one row per
    train vector; ``contaminated`` = best cosine >= threshold.
    """
    n_eval = eval_df.count()
    if n_eval > eval_broadcast_max_rows:
        return semantic_decontaminate_ivf(
            train,
            eval_df,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            eval_rows=n_eval,
            n_probe=n_probe,
        )
    # the per-pair cosine folds (|train| x |eval|) and the partial argmax
    # run on the train scan's partitions: spread a too-narrow local scan
    # (no-op at real scale, where the 100 TB train side always yields
    # >= cores partitions)
    from ..catalog import spread_partitions

    t = spread_partitions(
        train.select(
            F.col(id_col).alias("train_id"),
            F.col(vec_col).cast("array<double>").alias("tvec"),
        )
    ).withColumn("__tn", _norm(F.col("tvec")))
    e = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).cast("array<double>").alias("evec"),
    ).withColumn("__en", _norm(F.col("evec")))
    # per-side norms precomputed (see cosine_topk) -- value-identical
    cosine = F.round(
        _dot(F.col("tvec"), F.col("evec")) / (F.col("__tn") * F.col("__en")),
        COSINE_DIGITS,
    )
    scored = t.crossJoin(F.broadcast(e)).select(
        "train_id", "eval_id", cosine.alias("cosine")
    )
    best = scored.groupBy("train_id").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("eval_id")).alias("__nid"))).alias("__b")
    )
    return best.select(
        "train_id",
        (-F.col("__b.__nid")).alias("eval_id"),
        F.col("__b.cosine").alias("cosine"),
        (F.col("__b.cosine") >= F.lit(threshold)).cast("int").alias("contaminated"),
    )


def semantic_decontaminate_ivf(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    eval_rows: int | None = None,
    n_centroids: int | None = None,
    n_probe: int = 8,
) -> DataFrame:
    """Beyond-broadcast decontamination: the eval set is IVF-bucketed
    (coarse quantizer trained on a bounded seeded eval sample — the
    :func:`ivf_topk` machinery) and each train vector probes only its
    ``n_probe`` nearest cells, so nothing eval-sized ever broadcasts and
    the train side still never shuffles its vectors — only the slim
    (train_id, cell) fan-out rows (x n_probe) and the per-cell
    candidates move.

    Plan shape: eval → assign cell (map-side argmin vs the centroid
    literal); train → top-``n_probe`` cells via ONE codegen projection
    (distance array vs the same literal, ``array_sort`` on
    (distance, cell) structs — the trainer's exact rounded metric and
    first-index tie-break) → explode → hash join with the bucketed eval
    on ``cell``. The join key has n_centroids distinct values, sized
    ~4k eval rows per cell (``n_centroids = n_eval/4096``), so AQE gets
    real parallelism and skewed cells split at runtime. The per-train
    argmax and verdict are IDENTICAL expressions to the broadcast fold
    (rounded cosine, (cosine, -eval_id) struct max) — with full probing
    (n_probe >= n_centroids) the two paths are value-identical; with
    partial probing recall is governed by n_probe/n_centroids (the IVF
    trade). A train vector whose probed cells are all empty still gets
    its row: NULL eval_id/cosine, contaminated = 0.
    """
    # same spread rationale as the broadcast fold: probe fan-out + cosine
    # arithmetic live on the train scan's partitions
    from ..catalog import spread_partitions

    t = spread_partitions(
        train.select(
            F.col(id_col).alias("train_id"),
            F.col(vec_col).cast("array<double>").alias("tvec"),
        )
    ).withColumn("__tn", _norm(F.col("tvec")))
    e = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).cast("array<double>").alias("evec"),
    ).withColumn("__en", _norm(F.col("evec")))
    if n_centroids is None:
        n_eval = eval_rows if eval_rows is not None else e.count()
        n_centroids = max(16, min(4096, -(-n_eval // 4096)))
    centroids = _train_quantizer(
        e, id_field="eval_id", vec_field="evec", k=n_centroids, iters=_IVF_TRAIN_ITERS
    )
    bucketed = _assign_cells(e, centroids, vec_field="evec")

    # train-side probe cells: one projection, no shuffle — the same
    # centroid literal + rounded-sqrt metric as _assign_cells, kept as
    # (distance, cell) structs so array_sort realizes the trainer's
    # first-index tie-break, then sliced to the n_probe nearest
    cent_sql = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(repr(float(x)) for x in ctr) for ctr in centroids
    )
    l2sq = (
        "aggregate(zip_with(tvec, __ctrs[%d], (a, b) -> (a - b) * (a - b)),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    structs = "array(%s)" % ", ".join(
        f"struct(round(sqrt({l2sq % i}), 6) as d, {i} as cell)"
        for i in range(len(centroids))
    )
    probe_list = (
        f"transform(slice(array_sort({structs}), 1, {min(n_probe, len(centroids))}),"
        " s -> s.cell)"
    )
    fanned = (
        t.withColumn("__ctrs", F.expr(cent_sql))
        .withColumn("cell", F.explode(F.expr(probe_list)))
        .drop("__ctrs")
    )

    cosine = F.round(
        _dot(F.col("tvec"), F.col("evec")) / (F.col("__tn") * F.col("__en")),
        COSINE_DIGITS,
    )
    scored = fanned.join(bucketed, "cell").select(
        "train_id", "eval_id", cosine.alias("cosine")
    )
    best = scored.groupBy("train_id").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("eval_id")).alias("__nid"))).alias("__b")
    )
    return t.select("train_id").join(best, "train_id", "left").select(
        "train_id",
        (-F.col("__b.__nid")).alias("eval_id"),
        F.col("__b.cosine").alias("cosine"),
        F.coalesce(
            (F.col("__b.cosine") >= F.lit(threshold)).cast("int"), F.lit(0)
        ).alias("contaminated"),
    )


def cosine_topk_block(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Blocked-BLAS variant. ``queries_pdf`` has columns (query_id, vec).

    Per Arrow batch: one float64 matmul corpus_block @ Q.T, emit each block's
    top-k per query; then a global window keeps the true top-k. Shuffle
    volume is O(#blocks * #queries * k), independent of corpus size.
    """
    qids = np.asarray(queries_pdf["query_id"].to_numpy())
    qmat = np.vstack(queries_pdf["vec"].to_numpy()).astype(np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ b_qmat.T) / np.outer(cnorm, b_qnorm)
            nids = pdf[id_col].to_numpy()
            out = []
            for j, qid in enumerate(b_qids):
                mask = nids != qid
                ids_m = nids[mask]
                if len(ids_m) == 0:
                    continue
                # block-local top-k under the SAME total order as the global
                # merge (rounded cosine desc, id asc) — otherwise a rounded
                # tie can be resolved differently per block vs globally
                col_m = np.round(sims[mask, j], COSINE_DIGITS)
                order = np.lexsort((ids_m, -col_m))[: min(k, len(ids_m))]
                out.append(pd.DataFrame({"query_id": qid, "neighbor_id": ids_m[order], "cosine": col_m[order]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = corpus.select(id_col, vec_col).mapInPandas(
        block_topk, schema="query_id long, neighbor_id long, cosine double"
    )
    rounded = partial.withColumn("cosine", F.round("cosine", COSINE_DIGITS))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return rounded.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_pairs_block(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold — SMALL-CORPUS fast path.

    One side is collected and broadcast as a dense float64 matrix (fits
    comfortably up to ~1M x 256 dims); the other side streams through
    ``mapInPandas`` doing one BLAS matmul per Arrow batch. Emits
    (id_a < id_b) pairs only.

    Per-element ``zip_with`` folds interpret a lambda per component —
    O(n^2 * d) interpreted ops; this form measured 40x faster at sf0.1.
    The ``toPandas()`` collect bounds it to broadcast scale: beyond that
    use :func:`cosine_pairs_grid` (same exact result, corpus never
    touches the driver) — the registered q53 path.
    """
    pdf = corpus.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((ids, mat))

    def pair_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat = bc.value
        for block in batches:
            if block.empty:
                continue
            cmat = np.vstack(block[vec_col].to_numpy()).astype(np.float64)
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            cids = block[id_col].to_numpy()
            sims = cmat @ b_mat.T
            rows_a, rows_b, vals = [], [], []
            for i, ida in enumerate(cids):
                mask = (b_ids > ida) & (sims[i] >= threshold)
                if mask.any():
                    rows_a.append(np.full(mask.sum(), ida))
                    rows_b.append(b_ids[mask])
                    vals.append(np.round(sims[i][mask], round_digits))
            if rows_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(rows_a),
                        "id_b": np.concatenate(rows_b),
                        "cosine": np.concatenate(vals),
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(
        pair_batches, schema="id_a long, id_b long, cosine double"
    )


def cosine_pairs_grid(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via a distributed block
    pair-grid — the at-scale default (no driver collect, no broadcast of
    the corpus).

    Exact all-pairs is inherently O(n^2) compute; what must NOT be O(n^2)
    — or driver-bound — is memory. The corpus is hash-split into
    ``n_blocks`` blocks; each unordered block pair (i <= j) is one task
    holding just two blocks, scored with one BLAS matmul inside
    ``applyInPandas``. Every qualifying pair is produced exactly once
    (cross-block pairs in task (i,j), within-block pairs in task (i,i)),
    so the result is identical to the brute-force scan — unlike LSH
    candidate generation, which is probabilistic and can miss a
    borderline pair.

    Scale knobs: per-task memory ~ 2n/n_blocks vectors (raise ``n_blocks``
    until a block pair fits an executor); shuffle volume ~ n * n_blocks
    rows (each row is replicated to its n_blocks pair-tasks);
    parallelism = n_blocks*(n_blocks+1)/2 tasks. For corpora where even
    O(n^2) FLOPs are unaffordable, prune candidates first (LSH/IVF, see
    ``lsh_bucket_topk``) and accept approximate recall.
    """
    e = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("b", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int"))
    others = F.array(*[F.lit(j) for j in range(n_blocks)])
    tasks = e.select(
        "vid",
        "v",
        "b",
        F.explode(others).alias("o"),
    ).select(
        "vid",
        "v",
        "b",
        F.least("b", "o").alias("ti"),
        F.greatest("b", "o").alias("tj"),
    )

    def pairs_in_task(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(key[0]), int(key[1])
        ids = pdf["vid"].to_numpy()
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if ti == tj:
            order = np.argsort(ids)
            ids, mat = ids[order], mat[order]
            sims = mat @ mat.T
            ia, ib = np.triu_indices(len(ids), k=1)
            vals = sims[ia, ib]
            mask = vals >= threshold
            if not mask.any():
                return empty
            return pd.DataFrame(
                {
                    "id_a": ids[ia[mask]],
                    "id_b": ids[ib[mask]],
                    "cosine": np.round(vals[mask], COSINE_DIGITS),
                }
            )
        ma = pdf["b"].to_numpy() == ti
        a_ids, b_ids = ids[ma], ids[~ma]
        sims = mat[ma] @ mat[~ma].T
        ia, ib = np.nonzero(sims >= threshold)
        if len(ia) == 0:
            return empty
        x, y = a_ids[ia], b_ids[ib]
        return pd.DataFrame(
            {
                "id_a": np.minimum(x, y),
                "id_b": np.maximum(x, y),
                "cosine": np.round(sims[ia, ib], COSINE_DIGITS),
            }
        )

    return tasks.groupBy("ti", "tj").applyInPandas(
        pairs_in_task, schema="id_a long, id_b long, cosine double"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    probe_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into
    ``n_centroids`` cells, search only each query's ``n_probe`` nearest
    cells with exact cosine rerank.

    ``probe_rows``: the query-batch row count, when the caller already
    knows it (a bounded lookup batch, a pre-counted frame) — skips the
    dispatch's own count job on the queries subtree (ADVICE r7: the
    count re-evaluates a derived queries frame that is then evaluated
    again by the probe crossJoin).

    Scanned fraction ~ n_probe/n_centroids. The corpus keeps its cell id as
    a join key (in production: a partition column, so a probe is partition
    pruning); centroids are driver-sized by construction. Training runs
    ``_IVF_TRAIN_ITERS`` (8) rounds: a coarse quantizer only shapes cells —
    recall comes from n_probe, so training to convergence buys nothing.

    The coarse quantizer trains DRIVER-SIDE on a bounded, seeded sample
    (``_IVF_TRAIN_SAMPLE`` rows, portable-md5-hash-ordered so it is
    deterministic and engine-independent) — the FAISS convention, and the
    right call at any scale: 16-256 centroids never need a distributed
    fit over the full corpus, and a local Lloyd's loop replaces ~2x
    ``_IVF_TRAIN_ITERS`` scheduled jobs. Training, assignment and probing all
    use the ROUNDED metric (round(sqrt(L2²), 6), first-index tie-break)
    and rounded per-round means, so the whole trained pipeline is
    replayable value-for-value in an external SQL engine whenever the
    corpus fits the sample bound (the q16 oracle replays all
    ``_IVF_TRAIN_ITERS`` Lloyd's rounds in DuckDB). Cell ASSIGNMENT is a
    map-side argmin against the broadcast centroid array (one projection
    inside codegen — no shuffle, no model transform), so the
    corpus-side plan is scan → project → join.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # the corpus-side argmin assignment + per-candidate cosines run on
    # the scan's partitions — a single-file local scan serialized the
    # whole pipeline onto one core (profiled: one 0.97s single-task
    # stage was the entire q18 runtime). Spread, no-op at real scale.
    from ..catalog import spread_partitions

    c = spread_partitions(c)
    spark = corpus.sparkSession
    centroids = _train_quantizer(c, id_field="neighbor_id", vec_field="cvec",
                                 k=n_centroids, iters=_IVF_TRAIN_ITERS)
    assigned = _assign_cells(c, centroids, vec_field="cvec")

    # probe ASSIGNMENT stays in-engine: the only driver-sized state is the
    # codebook itself (n_centroids rows — model output, bounded by
    # construction). Distance evaluation distributes: a broadcast crossJoin
    # against the codebook + one query-keyed window picks each query's
    # n_probe nearest cells. How the probe table then reaches the corpus
    # join is batch-size dependent (see below) — a broadcast of the full
    # probe frame would route n_q x n_probe VECTOR copies through the
    # driver, fine for a lookup batch, wrong for a 1M-query batch.
    spark = corpus.sparkSession
    cent = local_frame(
        spark,
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centroids)],
        "cell int, ctr array<double>",
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qvec")
    )
    l2 = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("qvec"), F.col("ctr"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__d", l2)
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("query_id").orderBy("__d", "cell")),
        )
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "qvec", "cell")
    )

    # cell has only n_centroids distinct values, so a SHUFFLE join on it
    # would collapse to n_centroids reduce groups — the probe table must be
    # broadcast. What to put in it is a cost decision on the batch size
    # (one bounded count job): small batches broadcast vectors inline (one
    # hop, no second join); large batches broadcast only the slim
    # (query_id, cell) routing table — 16 bytes/row at any dimension — and
    # join the vectors back by query_id, a queries-sized distributed
    # shuffle that never serializes vector copies through the driver.
    n_q = probe_rows if probe_rows is not None else q.count()
    # per-side norms precomputed before the candidate join (see
    # cosine_topk): corpus norm once per row, query norm once per probe
    # row -- not twice per candidate pair. Value-identical.
    assigned = assigned.withColumn("__cn", _norm(F.col("cvec")))
    if n_q * n_probe <= _IVF_INLINE_PROBE_ROWS:
        cand = assigned.join(
            F.broadcast(probes.withColumn("__qn", _norm(F.col("qvec")))), "cell"
        )
    else:
        slim = probes.select("query_id", "cell")
        cand = assigned.join(F.broadcast(slim), "cell").join(
            q.withColumn("__qn", _norm(F.col("qvec"))), "query_id"
        )
    cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cosine = F.round(_dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")), COSINE_DIGITS)
    scored = cand.select("query_id", "neighbor_id", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with deterministic data-derived cells: the ``n_cells``
    lowest-id corpus vectors act as cell seeds; every vector is assigned to
    its nearest seed (rounded L2, seed-id tie-break) and each query probes
    its ``n_probe`` nearest cells with exact cosine rerank.

    Same plan shape as :func:`ivf_topk` (probe = join on the cell key; in
    production the cell id is a partition column so probing is partition
    pruning) but the assignment is closed-form, so an external SQL engine
    can replay cells, probes, and rerank exactly — this is the
    oracle-checkable IVF; ``ivf_topk`` is the KMeans-trained variant.
    """
    e = corpus.select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v")
    )
    # the seed fan-out's distance arithmetic and the downstream
    # per-candidate cosines run on the scan's partitions: spread a
    # too-narrow local scan (no-op at real scale)
    from ..catalog import spread_partitions

    e = spread_partitions(e)
    seeds = (
        e.orderBy("vid")
        .limit(n_cells)
        .select(F.col("vid").alias("cell"), F.col("v").alias("sv"))
    )
    # rounded L2 so the ordering (and thus cell choice) is engine-stable
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("sv"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    ranked = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(W.partitionBy("vid").orderBy("dist", "cell")))
    )
    assign = ranked.filter(F.col("rn") == 1).select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("cvec"), "cell"
    )
    probes = (
        ranked.join(queries.select(F.col("vec_id").alias("vid")), "vid", "left_semi")
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vid").alias("query_id"), F.col("v").alias("qvec"), "cell")
    )
    cand = assign.withColumn("__cn", _norm(F.col("cvec"))).join(
        F.broadcast(probes.withColumn("__qn", _norm(F.col("qvec")))), "cell"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    # per-side norms precomputed (see cosine_topk) -- value-identical
    cosine = F.round(
        _dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")),
        COSINE_DIGITS,
    )
    scored = cand.select("query_id", "neighbor_id", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: semantic_dedup's auto-k derivation: k = clamp(n // cell, floor, cap).
#: The paper's own scaling is k ∝ n (SemDeDup uses 11k clusters at web
#: scale); a FIXED k lets per-cell population — and the within-cell
#: quadratic — grow linearly with the corpus (VERDICT r9 finding 1).
#: The floor keeps driver-SF corpora (<= 8k vectors) on the historical
#: k=16; the cap bounds the centroid plan literal (k x dim doubles ride
#: in one server-parsed expression — past ~2k centroids assignment
#: should switch to a broadcast-join argmin instead).
_SEMANTIC_TARGET_CELL = 512
_SEMANTIC_K_FLOOR = 16
_SEMANTIC_K_CAP = 2_048


def derived_n_clusters(n_rows: int) -> int:
    """Deterministic corpus-size-derived cluster count for
    :func:`semantic_dedup` — replayable by an external SQL oracle as
    ``greatest(16, least(2048, count(*) // 512))``."""
    return int(
        min(max(n_rows // _SEMANTIC_TARGET_CELL, _SEMANTIC_K_FLOOR), _SEMANTIC_K_CAP)
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.95,
    max_iter: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning — k-means-bucket the embedding space, compare
    cosine only WITHIN each cluster, drop every document that has a
    duplicate (cosine >= threshold) with a lower id (deterministic
    keep-first survivor rule, the same representative convention as
    exact dedup's min-id).

    Returns one row per input vector: (id, cell, n_dup_partners, keep).
    ``n_dup_partners`` counts same-cell neighbors above the threshold
    (either side); ``keep`` is false iff a lower-id duplicate exists.

    ``n_clusters=None`` (the default) derives k from the corpus count
    (:func:`derived_n_clusters` — cell target ~512 vectors, floor 16,
    cap 2048), so per-cell population stays bounded as the corpus grows
    instead of the within-cell quadratic re-emerging at a fixed k. The
    derivation is one count(*) — an oracle replays it with the same
    expression in the init LIMIT.

    Scale shape — the paper's clustering step keeps the quadratic
    per-CELL, never corpus-wide; three further levers here:

    - **exact-vector collapse first** (the paper's own exact-dedup
      preprocessing, composed in rather than left to the caller):
      byte-identical vectors group to their min-id representative
      BEFORE pairing, so a block of d exact copies costs 1 rep — not
      d²/2 materialized pairs — and the member-level output is
      reconstructed LOSSLESSLY from group sizes (identical vectors
      share cell, rounded cosine 1.0 >= any threshold, and the min-id
      keep rule factors through representatives). Output is
      value-identical to the uncollapsed pair join.
    - **tiled-BLAS pairing**: per-cell pairs run as one
      ``applyInPandas`` over the cell key — Arrow batch in, blocked
      numpy matmul (4096 x 4096 gram tiles, so a skewed cell never
      materializes an m x m matrix) —
      instead of a per-pair interpreted zip_with fold. Same
      dot/(sqrt*sqrt) arithmetic and 4-dp round as the q53 grid
      operator, whose BLAS-vs-DuckDB value parity is oracle-pinned.
    - the quantizer trains driver-side on the bounded deterministic
      sample (:func:`_train_quantizer` — same replayable Lloyd's as
      ivf_topk, training on the FULL corpus including exact dups, so
      the oracle replay is unchanged by the collapse); assignment is a
      map-side argmin on representatives only.

    A pathologically skewed REAL cluster (distinct-but-close vectors)
    still lands one cell in one task; raise ``n_clusters`` / lower
    ``_SEMANTIC_TARGET_CELL`` there — memory stays bounded by the gram
    tiling either way.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # one bounded collect serves both the k derivation and training: when
    # the sample limit did NOT truncate, its length IS count(*), so the
    # separate count job is skipped (identical k by construction; at real
    # scale the sample saturates and the count job still runs)
    sample = _train_sample(c, id_field="id", vec_field="v")
    if n_clusters is None:
        n_rows = len(sample) if len(sample) < _IVF_TRAIN_SAMPLE else c.count()
        n_clusters = derived_n_clusters(n_rows)
    centroids = _local_lloyds(sample, k=n_clusters, iters=max_iter)
    # exact-vector collapse: ONE shuffle on the vector key (the same
    # one-shuffle shape as exact dedup) — min-id rep and group size as
    # window aggregates over the vector partition, no re-join of the
    # vectors back onto members
    wv = W.partitionBy("v")
    members = tracked_persist(
        c.select(
            "id",
            "v",
            F.min("id").over(wv).alias("rep"),
            F.count(F.lit(1)).over(wv).alias("gsz"),
        )
    )
    reps = members.filter(F.col("id") == F.col("rep")).select("id", "v", "gsz")
    assigned = tracked_persist(
        _assign_cells(reps, centroids, vec_field="v").select("id", "v", "cell", "gsz")
    )
    thr = float(threshold)
    blk = 4_096

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        gsz = pdf["gsz"].to_numpy()[order]
        mat = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        # norms row-wise first — the full gram matrix never materializes
        nrm = np.sqrt((mat * mat).sum(axis=1))
        out_a, out_b, out_ga, out_gb = [], [], [], []
        m = len(ids)
        for i0 in range(0, m, blk):
            i1 = min(i0 + blk, m)
            for j0 in range(i0, m, blk):
                j1 = min(j0 + blk, m)
                sims = np.round(
                    (mat[i0:i1] @ mat[j0:j1].T)
                    / np.outer(nrm[i0:i1], nrm[j0:j1]),
                    COSINE_DIGITS,
                )
                ia, ib = np.nonzero(sims >= thr)
                if i0 == j0:  # diagonal tile: keep strict upper triangle
                    keep = ia < ib
                    ia, ib = ia[keep], ib[keep]
                if len(ia):
                    out_a.append(ids[i0 + ia])
                    out_b.append(ids[j0 + ib])
                    out_ga.append(gsz[i0 + ia])
                    out_gb.append(gsz[j0 + ib])
        if not out_a:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "gsz_a": pd.Series(dtype="int64"),
                    "gsz_b": pd.Series(dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "gsz_a": np.concatenate(out_ga),
                "gsz_b": np.concatenate(out_gb),
            }
        )

    pairs = tracked_persist(
        assigned.groupBy("cell").applyInPandas(
            cell_pairs, schema="id_a long, id_b long, gsz_a long, gsz_b long"
        )
    )
    # rep-level partner mass: each partner contributes its WHOLE exact-dup
    # group (every member of it is a >=threshold neighbor of every member
    # of mine — identical vectors share the rep's rounded cosine)
    partners = (
        pairs.select(F.col("id_a").alias("id"), F.col("gsz_b").alias("__g"))
        .unionAll(pairs.select(F.col("id_b").alias("id"), F.col("gsz_a").alias("__g")))
        .groupBy("id")
        .agg(F.sum("__g").alias("__pn"))
    )
    dropped = pairs.select(F.col("id_b").alias("id")).distinct().withColumn(
        "__drop", F.lit(1)
    )
    rep_state = (
        assigned.select("id", "cell")
        .join(partners, "id", "left")
        .join(dropped, "id", "left")
        .withColumnsRenamed({"id": "rep"})
    )
    # member-level reconstruction: (gsz-1) same-group partners plus the
    # rep's partner mass; keep = is the group's min id AND the rep has no
    # lower-id duplicate (a non-rep member always has one: its own rep)
    return members.join(rep_state, "rep").select(
        "id",
        "cell",
        (F.col("gsz") - 1 + F.coalesce("__pn", F.lit(0)))
        .cast("long")
        .alias("n_dup_partners"),
        ((F.col("id") == F.col("rep")) & F.col("__drop").isNull()).alias("keep"),
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH candidate
    buckets, exact cosine rerank over the deduped candidate union.

    One table of ``n_planes`` p splits the corpus into 2^p buckets and
    scans ~2^-p of it, but a true neighbor with per-plane collision
    probability c survives only with c^p — single-table recall collapses
    on high-dimensional data. The standard fix (Indyk-Motwani LSH) is
    ``n_tables`` L independent tables: a pair is a candidate if it
    collides in ANY table, lifting recall to 1-(1-c^p)^L while scanning
    ~L*2^-p. L and p are the recall-vs-scan knobs; the rerank stays
    exact, so precision is never approximate — only recall is.

    Plane draws are row-major from one seeded generator, so
    ``n_tables=1`` reproduces the historical single-table signatures
    bit-for-bit (and the q55 oracle replays any configuration by
    embedding the same literals).
    """
    rng = np.random.default_rng(42)
    dim_row = queries.select(F.size(F.col("embedding")).alias("d")).first()
    planes = rng.standard_normal((n_tables, n_planes, int(dim_row["d"])))

    # the plane tensor rides in ONE broadcast row (t x p x d nested array),
    # not as plan literals: inlining n_tables*n_planes*dim F.lit nodes made
    # Catalyst analysis/codegen the dominant cost (~4s per run regardless of
    # data size). The signature math is unchanged — per plane, the same
    # sequential zip_with/aggregate fold, so results are bit-identical and
    # the oracle literals still replay them exactly.
    spark = corpus.sparkSession
    planes_df = local_frame(
        spark, [(planes.tolist(),)], "planes array<array<array<double>>>"
    )

    def tabled(df: DataFrame, out_id: str, out_vec: str, out_norm: str) -> DataFrame:
        vec = F.col("embedding").cast("array<double>")

        def bit(plane: F.Column) -> F.Column:
            dot = F.aggregate(
                F.zip_with(vec, plane, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            )
            return (dot >= 0).cast("int").cast("string")

        tables = F.transform(
            F.col("planes"),
            lambda pl, t: F.struct(
                t.cast("int").alias("t"),
                F.array_join(F.transform(pl, bit), "").alias("bucket"),
            ),
        )
        # the norm sits in the SAME projection as the explode, so it lands
        # in the Project BELOW the Generate — evaluated once per input
        # row, not once per (row, table) copy and not once per candidate
        # pair (value-identical; see cosine_topk)
        return (
            df.crossJoin(F.broadcast(planes_df))
            .select(
                F.col("vec_id").alias(out_id),
                vec.alias(out_vec),
                _norm(vec).alias(out_norm),
                F.explode(tables).alias("tb"),
            )
            .select(
                out_id,
                out_vec,
                out_norm,
                F.col("tb.t").alias("t"),
                F.col("tb.bucket").alias("bucket"),
            )
        )

    # spread the corpus side: the per-(row, table) signature bits and the
    # downstream per-candidate cosines run on the scan's partitions (see
    # cosine_topk; no-op at real scale). The query side stays as-is — a
    # bounded lookup batch gains nothing from an extra exchange.
    from ..catalog import spread_partitions

    c = tabled(spread_partitions(corpus), "neighbor_id", "cvec", "__cn")
    q = tabled(queries, "query_id", "qvec", "__qn")
    pairs = c.join(F.broadcast(q), ["t", "bucket"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cosine = F.round(_dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")), COSINE_DIGITS)
    # a pair colliding in several tables must score once in the OUTPUT —
    # but dedup AFTER the map-side cosine, not before: deduping the raw
    # pairs shuffled both 64-dim vectors per candidate and fell to a
    # SortAggregate (First() over array columns is not hash-aggregable);
    # deduping (query_id, neighbor_id, cosine) ships three scalars
    # through a plain HashAggregate (guide §2.3). A multi-table collision
    # recomputes an identical cosine per copy map-side — compute is the
    # cheap side of that trade at any scale, and the surviving value is
    # the same whichever copy First() keeps.
    scored = pairs.select(
        "query_id", "neighbor_id", cosine.alias("cosine")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    shortlist: int = 8,
    k: int = 3,
) -> DataFrame:
    """The full 100 TB ANN composition in one lazy plan: IVF cell pruning →
    PQ asymmetric-distance scan of the probed cells → exact cosine rerank
    of the ADC shortlist.

    This is the architecture every large-scale vector index uses
    (FAISS-style IVF-PQ): the stored corpus is (cell, codes) — one small
    int per subspace, ~8x smaller than raw vectors — partitioned by cell
    so a probe is partition pruning; the ADC scan touches only
    ~n_probe/n_cells of the encoded rows and costs one (j, code) lookup
    join against a broadcast query distance table; only the ``shortlist``
    ids per query ever fetch their full vectors again, so the exact rerank
    reads k' rows per query, not the corpus.

    Every stage is deterministic dataflow (seeded cells, seeded codebook)
    and the oracle replays cells, codes, ADC sums, shortlist, and rerank
    value-for-value (q46's oracle). Since round 13 the whole
    IVF-cell + PQ-code + ADC computation runs as ONE vectorized numpy
    pass over the corpus (guide §4.2, the shape FAISS itself uses):
    the former plan shuffled corpus x n_cells rows for the cell-argmin
    window, corpus x m x k_codes rows for the code-argmin window,
    sort-merge-joined the two corpus-sized results back together, and
    exploded candidates x m rows to join the query distance table —
    four corpus-scale data movements for decisions that are all
    per-row. Driver state is bounded by construction: the seed prefix
    (max(n_cells, k_codes) rows — the model, same convention as the
    trained quantizer) and the query batch (``queries`` is a bounded
    lookup batch, the same contract :func:`pq_topk` already relies
    on). The query-side distance table is rounded HALF_UP on the
    decimal repr (_round6_half_up — exactly F.round); corpus-side
    argmins use np.round (half-even on the binary double), the same
    accepted knife-edge class as the trained quantizer (see
    _local_lloyds): it can only flip an argmin for a distance landing
    exactly on a .5e-6 boundary (measure-zero, absent from the
    testdata; assignment equality is pinned against pq_encode in
    tests). ADC = round(sum of 6dp multiples, 6) lands ON the 6dp
    grid, so the sum's rounding is mode- and order-insensitive (the
    argument pq_topk's oracle already proves). The exact rerank stays
    on the JVM: F.round cosine over the corpus vectors of the
    shortlist ids only.

    One semantic edge vs the pre-round-13 form: a query id ABSENT from
    the corpus used to be dropped silently (probes came from a corpus
    semi-join); it now probes with its own vector like any other
    bounded-batch query. Every registered caller passes a corpus
    subset, where the two are identical.

    Recall knobs: n_probe (cell recall) and shortlist (quantization
    recall); precision of what is returned is exact. Returns
    (query_id, neighbor_id, cosine, rank).
    """
    d_sub = PQ_DIM // m
    spark = corpus.sparkSession
    e = corpus.select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v")
    )
    # the fused numpy pass carries ids as int64 (and the self-pair filter
    # compares them as such): a string or float id column would silently
    # compare str vs int64 / truncate in the Arrow cast. The operator's
    # contract is integral ids — enforce it here instead of failing at a
    # distance (ADVICE r13).
    _id_t = dict(e.dtypes)["vid"]
    if _id_t not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"ivf_pq_topk requires an integral id column; got vec_id: {_id_t}"
        )

    # one bounded collect feeds BOTH quantizers: IVF seeds = the n_cells
    # lowest-id vectors, PQ codebook = the k_codes lowest-id vectors
    seed_rows = e.orderBy("vid").limit(max(n_cells, k_codes)).collect()
    q_rows = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    ).collect()
    if not seed_rows or not q_rows:
        return queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(1).alias("rank"),
        ).limit(0)
    id_type = dict(e.dtypes)["vid"]
    s1 = np.asarray([list(r["v"]) for r in seed_rows[:n_cells]], dtype=np.float64)
    cbm = np.asarray([list(r["v"]) for r in seed_rows[:k_codes]], dtype=np.float64)
    kc = cbm.shape[0]
    m_, dsub_ = int(m), int(d_sub)

    # query-side state, all driver-computed from the bounded batch:
    # probes (n_probe nearest cells per query — rounded dist, stable
    # argsort = (dist, cell-id) tie-break) and the per-query (j, code)
    # distance table, F.round-exact via decimal HALF_UP
    qids = np.asarray([int(r["query_id"]) for r in q_rows], dtype=np.int64)
    qmat = np.asarray([list(r["qvec"]) for r in q_rows], dtype=np.float64)
    # HALF_UP like every other query-side table (ADVICE r13: a half-even
    # knife edge here changes which cells are probed, i.e. the candidate
    # set, diverging from the HALF_UP oracle replay; the table is a tiny
    # nq x n_cells matrix, so exact-decimal rounding is free)
    qd_cell = _round6_half_up(np.sqrt(((qmat[:, None, :] - s1[None]) ** 2).sum(axis=2)))
    probe_cells = np.argsort(qd_cell, axis=1, kind="stable")[:, : int(n_probe)]
    qd_tab = np.empty((len(qids), m_, kc), dtype=np.float64)
    for j in range(m_):
        qd_tab[:, j, :] = _round6_half_up(
            ((qmat[:, None, j * dsub_ : (j + 1) * dsub_] - cbm[None, :, j * dsub_ : (j + 1) * dsub_]) ** 2).sum(axis=2)
        )
    # cell -> probing query indexes (cells as positions into the seed rows)
    by_cell: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for c in probe_cells[qi]:
            by_cell.setdefault(int(c), []).append(qi)

    # the vectorized pass puts the quantization arithmetic on the scan
    # stage: spread a too-narrow local scan (no-op at real scale)
    from ..catalog import spread_partitions

    ec = spread_partitions(e)

    # --- stages 1-3 fused: cell assignment, per-subspace codes, and the
    # ADC of every (probing query, corpus row) candidate in ONE pass.
    # np.argmin takes the FIRST minimum and seed/code ids ascend with
    # array index, so the former (dist, id) window tie-breaks are
    # reproduced exactly. Shuffle volume = candidate (query_id, vid,
    # adc) triples only.
    def encode_adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vid"].to_numpy()
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            d = np.round(np.sqrt(((mat[:, None, :] - s1[None]) ** 2).sum(axis=2)), 6)
            cell_pos = d.argmin(axis=1)
            codes = np.empty((len(mat), m_), dtype=np.int64)
            for j in range(m_):
                sub = mat[:, j * dsub_ : (j + 1) * dsub_]
                dj = np.round(
                    ((sub[:, None, :] - cbm[None, :, j * dsub_ : (j + 1) * dsub_]) ** 2).sum(axis=2),
                    6,
                )
                codes[:, j] = dj.argmin(axis=1)
            out_q, out_v, out_a = [], [], []
            jj = np.arange(m_)
            for c, probing in by_cell.items():
                members = np.nonzero(cell_pos == c)[0]
                if not len(members):
                    continue
                mcodes = codes[members]
                mvids = vids[members]
                for qi in probing:
                    keep = mvids != qids[qi]
                    if not keep.any():
                        continue
                    adc = np.round(
                        qd_tab[qi][jj[None, :], mcodes[keep]].sum(axis=1), 6
                    )
                    out_q.append(np.full(keep.sum(), qids[qi], dtype=np.int64))
                    out_v.append(mvids[keep])
                    out_a.append(adc)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vid": np.concatenate(out_v),
                    "adc": np.concatenate(out_a),
                }
            )

    adc = ec.mapInPandas(
        encode_adc, schema=f"query_id {id_type}, vid {id_type}, adc double"
    )
    short = (
        adc.withColumn(
            "srn", F.row_number().over(W.partitionBy("query_id").orderBy("adc", "vid"))
        )
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "vid")
    )

    # --- stage 4: exact rerank — full vectors fetched for shortlist ids
    # only; cosine is JVM F.round over corpus vectors + the collected
    # query batch (Arrow round-trips the doubles exactly)
    qv = local_frame(
        spark,
        [(int(r["query_id"]), [float(x) for x in r["qvec"]]) for r in q_rows],
        f"query_id {id_type}, qvec array<double>",
    )
    rer = (
        F.broadcast(short).join(e, "vid")
        .withColumnRenamed("v", "cvec")
        .join(F.broadcast(qv), "query_id")
    )
    cosine = F.round(
        _dot(F.col("qvec"), F.col("cvec")) / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
        COSINE_DIGITS,
    )
    scored = rer.select("query_id", F.col("vid").alias("neighbor_id"), cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_codebook(
    corpus: DataFrame,
    *,
    m: int = 8,
    k_codes: int = 16,
) -> DataFrame:
    """(j, code, cent) — product-quantization codebook with deterministic
    data-derived codes: the ``k_codes`` lowest-id corpus vectors, sliced
    into ``m`` subspaces of ``PQ_DIM/m`` dims; the seed's id is the code id.
    Closed-form (no KMeans), so an external SQL engine replays it — same
    seeding idea as :func:`ivf_topk_seeded`."""
    d_sub = PQ_DIM // m
    e = corpus.select(
        F.col("vec_id").alias("code"), F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = e.orderBy("code").limit(k_codes)
    subs = F.array(*[F.slice("v", j * d_sub + 1, d_sub) for j in range(m)])
    return seeds.select("code", F.posexplode(subs).alias("j", "cent"))


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 8,
) -> DataFrame:
    """(vid, codes: array<long>[m]) — nearest-code assignment per subspace
    (rounded squared L2, code-id tie-break). Pure dataflow: the codebook
    broadcasts, the corpus never shuffles until the final per-vector
    collect_list — 8-byte-per-subspace codes in place of 8 doubles is the
    ~8x footprint cut that makes exhaustive ADC scans affordable."""
    d_sub = PQ_DIM // m
    e = corpus.select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v")
    )
    subs = F.array(*[F.slice("v", j * d_sub + 1, d_sub) for j in range(m)])
    ev = e.select("vid", F.posexplode(subs).alias("j", "sub"))
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("sub"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    ranked = (
        ev.join(F.broadcast(codebook), "j")
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(W.partitionBy("vid", "j").orderBy("d2", "code")))
    )
    assign = ranked.filter(F.col("rn") == 1).select("vid", "j", "code")
    return assign.groupBy("vid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    m: int = 8,
    k_codes: int = 16,
    k: int = 3,
) -> DataFrame:
    """PQ asymmetric-distance top-k (IVF-free exhaustive ADC scan).

    The 100 TB shape: the codebook and the per-query distance table
    (``nq x m x k_codes`` — a few KB) broadcast to every executor; the
    *encoded* corpus (m small ints per vector) streams through
    ``mapInPandas``; each Arrow batch scores ALL queries against its rows
    with two numpy gathers and emits only its local top-k per query, so
    shuffle volume is O(batches x nq x k) regardless of corpus size. A
    final window keeps the true top-k. Approximation error comes from
    quantization only; recall is tuned by m/k_codes.

    Distances: per-subspace squared L2 rounded to 6dp with ONE rounding
    convention end-to-end — HALF_UP on the shortest decimal repr, i.e.
    exactly Spark's F.round, applied both by pq_encode (JVM) and to the
    query-side numpy tables (see _round6_half_up). ADC = round(sum over
    m, 6): the sum of 6dp multiples lands ON the 6dp grid, never on a
    rounding boundary, so the final ranking is mode-insensitive; ties
    broken by neighbor id. Residual cross-engine caveat: an external
    oracle that rounds the BINARY double (DuckDB) can still disagree with
    decimal-repr rounding for a raw distance landing exactly on a .5e-6
    representation boundary — measure-zero for continuous embeddings and
    absent from the grid-aligned testdata.
    Returns (query_id, neighbor_id, adc, rank).
    """
    import pandas as pd

    cb = pq_codebook(corpus, m=m, k_codes=k_codes)
    codes = pq_encode(corpus, cb, m=m)

    cb_rows = cb.collect()
    code_ids = sorted({r["code"] for r in cb_rows})
    code_idx = {c: i for i, c in enumerate(code_ids)}
    d_sub = PQ_DIM // m
    cents = np.zeros((m, len(code_ids), d_sub))
    for r in cb_rows:
        cents[r["j"], code_idx[r["code"]]] = r["cent"]

    q_rows = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("v")
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows])
    qmat = np.array([r["v"] for r in q_rows])  # [nq, dim]
    qsubs = qmat.reshape(len(q_ids), m, d_sub)
    # [nq, m, k_codes] rounded with the SAME HALF_UP rule as F.round in
    # pq_encode, so query-side tables and corpus-side code assignment
    # agree on tie boundaries
    qdist = _round6_half_up(((qsubs[:, :, None, :] - cents[None, :, :, :]) ** 2).sum(axis=3))

    j_arange = np.arange(m)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vid"].to_numpy()
            cmat = np.array(
                [[code_idx[c] for c in row] for row in pdf["codes"]], dtype=np.int64
            )  # [n, m]
            # ADC: for each query, gather its per-subspace distances at the
            # corpus codes and sum over subspaces -> [nq, n]
            adc = np.round(qdist[:, j_arange[None, :], cmat].sum(axis=2), 6)
            out = []
            for qi in range(len(q_ids)):
                mask = vids != q_ids[qi]
                d = adc[qi][mask]
                v = vids[mask]
                # local top-k by (adc, vid) — the same composite order the
                # global window uses, so batch pruning can't drop a row that
                # would win a distance tie on the lower id
                top = np.lexsort((v, d))[:k]
                out.append(
                    pd.DataFrame(
                        {"query_id": q_ids[qi], "neighbor_id": v[top], "adc": d[top]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = codes.mapInPandas(score, "query_id long, neighbor_id long, adc double")
    w = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
