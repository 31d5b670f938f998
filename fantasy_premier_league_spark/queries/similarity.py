"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import similarity as S
from . import query

_EMB_DIM = 64  # testdata embeddings are fixed 64-dim (TESTDATA.md)


_LLOYD_L2 = (
    "round(sqrt(list_sum(list_transform(generate_series(1, {dim}), "
    "i -> ({a}.v[i] - {c}.cv[i]) * ({a}.v[i] - {c}.cv[i])))), 6)"
)


def _lloyd_ctes(*, n_centroids: int | str, iters: int, sample: int) -> str:
    """Shared WITH-body replaying the deterministic Lloyd's trainer
    (operators/similarity.py::_local_lloyds) in DuckDB: md5-hash-ordered
    bounded sample, first-k init, ``iters`` unrolled (assign ->
    rounded-means) CTE pairs; empty cells keep their previous centroid.
    Ends at CTE ``c{iters}`` (the trained codebook); ``e`` holds the
    full corpus as (vec_id, v). CTEs the chain references twice are
    MATERIALIZED — DuckDB inlines CTEs by default, which re-evaluates
    the training chain exponentially (measured: 48s -> 12.5s at 8
    rounds). Faithful at ANY corpus size (the sample LIMIT is
    replayed); exact whenever round-boundary coincidences don't occur —
    the engine's standard rounded-expression determinism convention."""
    rounds = []
    for t in range(1, iters + 1):
        d = _LLOYD_L2.format(dim=_EMB_DIM, a="s", c="c")
        rounds.append(f"""
    a{t} AS (
        SELECT vec_id, v, cell FROM (
            SELECT s.vec_id, s.v, c.cell,
                   row_number() OVER (PARTITION BY s.vec_id ORDER BY {d}, c.cell) AS rn
            FROM s CROSS JOIN c{t - 1} c) WHERE rn = 1
    ),
    m{t} AS (
        SELECT cell, gs.i AS i, round(avg(v[gs.i]), 6) AS m
        FROM a{t}, generate_series(1, {_EMB_DIM}) gs(i)
        GROUP BY cell, gs.i
    ),
    c{t} AS MATERIALIZED (
        SELECT c.cell, coalesce(mm.cv, c.cv) AS cv
        FROM c{t - 1} c
        LEFT JOIN (SELECT cell, list(m ORDER BY i) AS cv FROM m{t} GROUP BY cell) mm
        ON mm.cell = c.cell
    )""")
    return f"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sh AS (
        SELECT vec_id, v,
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
        FROM e
    ),
    s AS MATERIALIZED (SELECT vec_id, v FROM sh ORDER BY h, vec_id LIMIT {sample}),
    c0 AS (
        SELECT (row_number() OVER (ORDER BY h, vec_id) - 1)::INT AS cell, v AS cv
        FROM sh ORDER BY h, vec_id LIMIT {n_centroids}
    ),{",".join(rounds)}"""


def _ivf_lloyd_oracle(
    *, n_centroids: int, n_probe: int, iters: int, k: int,
    sample: int, query_pred: str,
) -> str:
    """DuckDB SQL replaying ivf_topk's TRAINED quantizer value-for-value
    (see :func:`_lloyd_ctes`), followed by the same rounded-metric corpus
    assignment, n_probe cell probe, and rounded-cosine rerank the engine
    runs."""
    d_final = _LLOYD_L2.format(dim=_EMB_DIM, a="e", c="c")
    return f"""
    WITH {_lloyd_ctes(n_centroids=n_centroids, iters=iters, sample=sample)},
    assign AS (
        SELECT vec_id AS neighbor_id, v AS cvec, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_final}, c.cell) AS rn
            FROM e CROSS JOIN c{iters} c) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, v AS qvec, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_final}, c.cell) AS rn
            FROM e CROSS JOIN c{iters} c WHERE {query_pred}) WHERE rn <= {n_probe}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qvec, cvec)
                     / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))),
                     4) AS cosine
        FROM probes JOIN assign USING (cell)
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def _lsh_oracle(n_planes: int, k: int, seed: int, n_tables: int = 1) -> str:
    """DuckDB SQL replaying lsh_bucket_topk exactly: the same seeded
    hyperplanes (np.random.default_rng(seed), identical row-major draw
    order across tables) are embedded as full-precision literals, so per-
    table bucket signatures, the deduped candidate union, and the
    rounded-cosine rerank all reproduce value-for-value."""
    planes = np.random.default_rng(seed).standard_normal((n_tables, n_planes, _EMB_DIM))

    def bits(table: int) -> str:
        return " ||\n               ".join(
            "(list_dot_product(v, [" + ", ".join(repr(float(x)) for x in plane) + "]) >= 0)::INT::VARCHAR"
            for plane in planes[table]
        )

    sig_cols = ",\n               ".join(f"{bits(t)} AS b{t}" for t in range(n_tables))
    unions = "\n        UNION ALL\n        ".join(
        f"SELECT q.query_id, q.qv, c.neighbor_id, c.cv FROM q JOIN c ON q.b{t} = c.b{t}"
        for t in range(n_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
        SELECT vec_id, v,
               {sig_cols}
        FROM e
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, * FROM sig WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, * FROM sig),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id, qv, cv FROM (
        {unions}
        ) WHERE neighbor_id <> query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM cand
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "v50_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM q, c WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast query set, "
    "JVM-side zip_with/aggregate dot products, windowed top-k. Ranked on "
    "rounded cosine with id tie-break so results are engine-stable.",
    tags=("similarity", "ann"),
)
def v50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=3)


@query(
    "q51_cosine_topk_block",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM q, c WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="Blocked-BLAS top-k (mapInPandas + Arrow + NumPy matmul): identical "
    "results to q50 by construction (rounded-cosine ranking), scale path — "
    "corpus never shuffles, per-block partial top-k then k-row merge.",
    tags=("similarity", "ann", "pandas-udf"),
)
def q51_cosine_topk_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec"))
        .toPandas()
    )
    return S.cosine_topk_block(emb, queries_pdf, id_col="vec_id", vec_col="embedding", k=3)


@query(
    "q53_embedding_near_dups",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
    doc="Embedding-cosine near-duplicate pairs (the dedup-by-embedding "
    "variant): all pairs with cosine >= 0.35, computed with the "
    "distributed block pair-grid (operators/similarity.py::"
    "cosine_pairs_grid) — hash-blocked corpus, one BLAS matmul per block "
    "pair, two blocks per task, no driver collect or corpus broadcast. "
    "Bit-identical to the brute-force oracle because the grid enumerates "
    "every pair exactly once; LSH/IVF pruning (approximate) is the "
    "fallback only when O(n^2) FLOPs are unaffordable.",
    tags=("similarity", "dedup"),
)
def q53_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.cosine_pairs_grid(emb, id_col="vec_id", vec_col="embedding", threshold=0.35)


@query(
    "q37_semantic_decontaminate",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (
        SELECT vec_id AS eval_id, v AS evec FROM e
        WHERE ('0x' || substr(md5('semantic_decontaminate:' || vec_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0 < 0.05
    ),
    tr AS (
        SELECT vec_id AS train_id, v AS tvec FROM e
        WHERE ('0x' || substr(md5('semantic_decontaminate:' || vec_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0 >= 0.05
    ),
    scored AS (
        SELECT train_id, eval_id,
               round(list_dot_product(tvec, evec)
                     / (sqrt(list_dot_product(tvec, tvec))
                        * sqrt(list_dot_product(evec, evec))), 4) AS cosine
        FROM tr, ev
    ),
    best AS (
        SELECT train_id, eval_id, cosine,
               row_number() OVER (PARTITION BY train_id
                                  ORDER BY cosine DESC, eval_id) AS rn
        FROM scored
    )
    SELECT train_id, eval_id, cosine,
           (cosine >= 0.35)::INT AS contaminated
    FROM best WHERE rn = 1
    """,
    doc="SEMANTIC decontamination (operators/similarity.py::"
    "semantic_decontaminate): every train vector's best cosine match in "
    "a held-out eval stratum (deterministic md5 5% of embeddings — the "
    "house sampling primitive, replayed by the oracle), flagged at the "
    "q53 near-dup threshold 0.35. Complements the 5-gram lexical "
    "decontaminate (q40 slug decontaminate): paraphrased benchmark "
    "leakage shares no 5-gram but still lands at high cosine. Scale "
    "shape: eval sets are small by nature, so the eval side BROADCASTS "
    "and the 100 TB train side streams map-side — its argmax is a "
    "partial-aggregating groupBy over a (cosine, -eval_id) struct, so "
    "only |train| slim rows ever shuffle; swap the broadcast fold for "
    "the IVF-bucketed probe (q16's operator) when the eval set outgrows "
    "a broadcast.",
    tags=("similarity", "decontamination", "llm-pipeline"),
)
def q37_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_fraction

    emb = load(spark, sf_dir, "embeddings")
    frac = md5_fraction(F.col("vec_id"), salt="semantic_decontaminate:")
    return S.semantic_decontaminate(
        emb.filter(frac >= 0.05),
        emb.filter(frac < 0.05),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.35,
    )


@query(
    "q18_ivf_topk",
    _ivf_lloyd_oracle(
        n_centroids=16, n_probe=4, iters=8, k=3, sample=32_768,
        query_pred="e.vec_id < 10",
    ),
    doc="IVF ANN with the TRAINED coarse quantizer: deterministic "
    "Lloyd's k-means (md5-hash-ordered bounded sample, first-k init, "
    "6-dp-rounded metric and means — operators/similarity.py::"
    "_local_lloyds), n_probe nearest cells searched with exact cosine "
    "rerank — the partition-pruning ANN shape (scanned fraction ~ "
    "n_probe/n_centroids). The oracle unrolls ALL 8 Lloyd's rounds as "
    "CTE pairs and replays sample order, assignment, probing and "
    "rerank value-for-value (ex-rows-only; the training loop itself "
    "is now under the value-hash gate). Accepted flake mode: training "
    "rounds half-even (np.round) vs HALF_UP on the serving/oracle side "
    "— divergence needs a 1-ulp coincidence; see _local_lloyds.",
    tags=("similarity", "ann", "ivf"),
)
def q18_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # the predicate bounds the batch at 10 rows — pass the bound so the
    # dispatch skips its count job on the lookup path
    return S.ivf_topk(emb, queries, k=3, n_centroids=16, n_probe=4, probe_rows=10)


@query(
    "q56_ivf_topk_seeded",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cell, v AS sv FROM e ORDER BY vec_id LIMIT 16),
    ranked AS (
        SELECT e.vec_id, e.v, s.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(sqrt(list_sum(list_transform(generate_series(1, 64),
                            i -> (e.v[i] - s.sv[i]) * (e.v[i] - s.sv[i])))), 6), s.cell
               ) AS rn
        FROM e CROSS JOIN seeds s
    ),
    assign AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, v AS qv, cell FROM ranked WHERE rn <= 4 AND vec_id < 10),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM probes JOIN assign USING (cell)
        WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="IVF ANN with deterministic data-derived cells (16 lowest-id "
    "vectors as seeds, rounded-L2 assignment, 4-cell probe, exact cosine "
    "rerank) — the oracle replays cells, probes, and rerank exactly. Same "
    "partition-pruning shape as the KMeans-trained q16.",
    tags=("similarity", "ann", "ivf"),
)
def q56_ivf_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk_seeded(emb, queries, k=3, n_cells=16, n_probe=4)


#: SQL twin of operators/similarity.py::derived_n_clusters — the engine
#: derives k from one count(*), the oracle derives it in the init LIMIT
#: (DuckDB accepts any BIGINT expression there), so auto-k is replayed
#: the same way Lloyd's training already is.
_DERIVED_K_SQL = "greatest(16, least(2048, (SELECT count(*) FROM e) // 512))"


def _semantic_dedup_oracle(
    *, n_clusters: int | str, iters: int, threshold: float, sample: int,
) -> str:
    """DuckDB SQL replaying semantic_dedup end-to-end: the shared Lloyd's
    training chain (:func:`_lloyd_ctes`), the rounded-metric cell
    assignment, within-cell rounded-cosine pairing, partner counts, and
    the keep-first (min-id survivor) rule. ``n_clusters`` may be a SQL
    expression (:data:`_DERIVED_K_SQL`) — the corpus-derived auto-k."""
    d_final = _LLOYD_L2.format(dim=_EMB_DIM, a="e", c="c")
    return f"""
    WITH {_lloyd_ctes(n_centroids=n_clusters, iters=iters, sample=sample)},
    assign AS MATERIALIZED (
        SELECT vec_id AS id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_final}, c.cell) AS rn
            FROM e CROSS JOIN c{iters} c) WHERE rn = 1
    ),
    pairs AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
        WHERE round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    4) >= {threshold}
    ),
    partners AS (
        SELECT id, count(*) AS n FROM (
            SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs
        ) GROUP BY id
    ),
    dropped AS (SELECT DISTINCT id_b AS id FROM pairs)
    SELECT a.id, a.cell,
           coalesce(p.n, 0)::BIGINT AS n_dup_partners,
           (d.id IS NULL) AS keep
    FROM assign a
    LEFT JOIN partners p ON p.id = a.id
    LEFT JOIN dropped d ON d.id = a.id
    """


@query(
    "q39_semantic_dedup",
    _semantic_dedup_oracle(
        n_clusters=_DERIVED_K_SQL, iters=8, threshold=0.35, sample=32_768
    ),
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — operators/"
    "similarity.py::semantic_dedup): k-means-bucket the embedding space "
    "with the deterministic replayable Lloyd's quantizer — k DERIVED "
    "from the corpus count (clamp(n//512, 16, 2048); the paper's own "
    "k ∝ n scaling, so per-cell population stays bounded as the corpus "
    "grows), exact-duplicate vectors collapsed to min-id reps before "
    "pairing (the paper's exact-dedup preprocessing, reconstructed "
    "losslessly), rounded cosine compared WITHIN cells via tiled BLAS, "
    "drop every vector with a lower-id duplicate at cosine >= 0.35 "
    "(the corpus's implanted near-dup band, same threshold as the q53 "
    "family). The oracle replays training, the derived k (same "
    "count-expression in the init LIMIT), assignment, pairing, partner "
    "counts and the keep rule value-for-value. Accepted flake mode: "
    "Lloyd's training rounds half-even vs the oracle's HALF_UP — "
    "divergence needs a 1-ulp coincidence; see _local_lloyds.",
    tags=("similarity", "dedup", "semantic", "llm-pipeline"),
)
def q39_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        n_clusters=None, threshold=0.35, max_iter=8,
    )


@query(
    "q55_lsh_topk",
    _lsh_oracle(n_planes=6, k=3, seed=42, n_tables=4),
    doc="Multi-table random-hyperplane LSH ANN: 4 independent 6-plane "
    "tables, deduped candidate union, exact cosine rerank — recall "
    "1-(1-c^p)^L vs a single table's c^p at ~L*2^-p scan fraction "
    "(recall floor pinned in tests/test_scale_ops.py). The seeded planes "
    "are embedded in the oracle SQL as full-precision literals, so the "
    "DuckDB oracle replays every table, the union, and the rerank "
    "exactly.",
    tags=("similarity", "ann", "lsh"),
)
def q55_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.lsh_bucket_topk(emb, queries, k=3, n_planes=6, n_tables=4)


@query(
    "q01_ann_recall_eval",
    f"""
    WITH lsh AS (
        {_lsh_oracle(n_planes=6, k=3, seed=42, n_tables=4)}
    ),
    brute AS (
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
            FROM q, c WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 3
    )
    SELECT b.query_id,
           sum((l.neighbor_id IS NOT NULL)::INT)::BIGINT AS n_hits,
           round(sum((l.neighbor_id IS NOT NULL)::INT) / 3.0, 6) AS recall_at_3
    FROM brute b
    LEFT JOIN lsh l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY b.query_id
    """,
    doc="ANN quality evaluation IN-ENGINE: per-query recall@3 of the "
    "4-table LSH index (q55) against exact brute force (q50) — the "
    "join-and-count eval every production ANN deployment runs before "
    "trusting an index. Both rankings are deterministic (seeded planes, "
    "rounded cosine, id tie-breaks), so the oracle replays retrieval "
    "AND evaluation; at 100 TB the eval joins two top-k-sized frames, "
    "nothing corpus-sized.",
    tags=("similarity", "ann", "eval", "llm-pipeline"),
)
def q01_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = S.cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=3).select(
        "query_id", "neighbor_id"
    )
    lsh = (
        S.lsh_bucket_topk(emb, queries, k=3, n_planes=6, n_tables=4)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        brute.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(3.0), 6
            ).alias("recall_at_3"),
        )
    )


@query(
    "q03_hard_negatives",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS neg_label FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, neg_label,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM q, c WHERE neighbor_id <> query_id AND neg_label <> ql
    )
    SELECT query_id, neighbor_id, neg_label, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="Hard-negative mining (operators/similarity.py::hard_negative_topk) "
    "for contrastive/embedding training: per anchor, the top-3 highest-"
    "cosine vectors with a DIFFERENT label — the wrong-class lookalikes "
    "a contrastive objective needs. Same broadcast + windowed top-k "
    "shape as q50 with the label inequality fused into the scan filter.",
    tags=("similarity", "training-data", "llm-pipeline"),
)
def q03_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.hard_negative_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", label_col="label", k=3
    )


@query(
    "q52_label_centroid_sim",
    """
    WITH e AS (
        SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    cent AS (SELECT label, dim, avg(x) AS m FROM e GROUP BY label, dim)
    SELECT e.vec_id, e.label,
           round(sum(e.x * cent.m) / (sqrt(sum(e.x * e.x)) * sqrt(sum(cent.m * cent.m))), 4) AS centroid_cosine
    FROM e JOIN cent ON e.label = cent.label AND e.dim = cent.dim
    GROUP BY e.vec_id, e.label
    """,
    doc="Per-label centroid + each vector's cosine to its centroid — the "
    "aggregation-over-vectors shape (embedding quality / outlier scoring). "
    "Spark: posexplode → avg per (label, dim) → re-assemble, broadcast "
    "centroids back.",
    tags=("similarity", "vector-agg"),
)
def q52_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # centroid: explode to (label, dim, x), avg, collect back ordered by dim
    dims = emb.select("label", F.posexplode("v").alias("dim", "x"))
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select("label", F.transform("dm", lambda s: s["m"]).alias("c"))
    )
    joined = emb.join(F.broadcast(cent), "label")
    cosine = F.round(
        S._dot(F.col("v"), F.col("c")) / (S._norm(F.col("v")) * S._norm(F.col("c"))), 4
    )
    return joined.select("vec_id", "label", cosine.alias("centroid_cosine"))


@query(
    "v26_pq_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    js AS (SELECT unnest(generate_series(0, 7)) AS j),
    seeds AS (SELECT vec_id AS code, v AS sv FROM e ORDER BY vec_id LIMIT 16),
    cb AS (SELECT code, j, list_slice(sv, j*8 + 1, j*8 + 8) AS cent FROM seeds CROSS JOIN js),
    subs AS (SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sub FROM e CROSS JOIN js),
    dists AS (
        SELECT s.vec_id, s.j, c.code,
               round(list_sum(list_transform(generate_series(1, 8),
                     i -> (s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i]))), 6) AS d2
        FROM subs s JOIN cb c ON s.j = c.j
    ),
    assign AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT vec_id AS query_id, j, code, d2 FROM dists WHERE vec_id < 10
    ),
    adc AS (
        SELECT qd.query_id, a.vec_id AS neighbor_id, round(sum(qd.d2), 6) AS adc
        FROM assign a JOIN qd ON a.j = qd.j AND a.code = qd.code
        WHERE a.vec_id <> qd.query_id
        GROUP BY qd.query_id, a.vec_id
    )
    SELECT query_id, neighbor_id, adc, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id))::INT AS rank
        FROM adc
    ) WHERE rank <= 3
    """,
    doc="Product-quantization ANN (8 subspaces x 16 seeded codes, asymmetric "
    "distance): codebook + per-query distance tables broadcast, encoded "
    "corpus (8 ints per 64-dim vector) streams through mapInPandas, each "
    "Arrow batch emits its local top-k — shuffle volume independent of "
    "corpus size. Codes are closed-form (lowest-id seeds), so the oracle "
    "replays codebook, encoding, ADC, and ranking value-for-value.",
    tags=("similarity", "ann", "pq", "pandas-udf"),
)
def v26_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.pq_topk(emb, queries, k=3, m=8, k_codes=16)


@query(
    "q46_ivf_pq_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cell, v AS sv FROM e ORDER BY vec_id LIMIT 16),
    ivf AS (
        SELECT e.vec_id, s.cell,
               round(sqrt(list_sum(list_transform(generate_series(1, 64),
                     i -> (e.v[i] - s.sv[i]) * (e.v[i] - s.sv[i])))), 6) AS dist
        FROM e CROSS JOIN seeds s
    ),
    ivfr AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM ivf
    ),
    assign AS (SELECT vec_id, cell FROM ivfr WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ivfr WHERE vec_id < 10 AND rn <= 8),
    js AS (SELECT unnest(generate_series(0, 15)) AS j),
    cseeds AS (SELECT vec_id AS code, v AS sv FROM e ORDER BY vec_id LIMIT 32),
    cb AS (SELECT code, j, list_slice(sv, j*4 + 1, j*4 + 4) AS cent FROM cseeds CROSS JOIN js),
    subs AS (SELECT vec_id, j, list_slice(v, j*4 + 1, j*4 + 4) AS sub FROM e CROSS JOIN js),
    dists AS (
        SELECT s.vec_id, s.j, c.code,
               round(list_sum(list_transform(generate_series(1, 4),
                     i -> (s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i]))), 6) AS d2
        FROM subs s JOIN cb c ON s.j = c.j
    ),
    codes AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    qd AS (SELECT vec_id AS query_id, j, code, d2 FROM dists WHERE vec_id < 10),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT c.query_id, c.neighbor_id, round(sum(qd.d2), 6) AS adc
        FROM cand c
        JOIN codes k ON k.vec_id = c.neighbor_id
        JOIN qd ON qd.query_id = c.query_id AND qd.j = k.j AND qd.code = k.code
        GROUP BY c.query_id, c.neighbor_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS srn
            FROM adc
        ) WHERE srn <= 32
    ),
    scored AS (
        SELECT s.query_id, s.neighbor_id,
               round(list_dot_product(q.v, n.v)
                     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cosine
        FROM short s
        JOIN e q ON q.vec_id = s.query_id
        JOIN e n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    doc="The 100 TB ANN composition, one lazy plan: seeded IVF cell pruning "
    "(probe = join on the cell key ≙ partition pruning) → PQ asymmetric-"
    "distance scan of ONLY the probed cells (stored index = cell + 16 small "
    "ints per vector; ADC = broadcast (query,j,code)->d2 lookup join) → "
    "exact cosine rerank of the 32-deep shortlist (full vectors fetched for "
    "shortlist ids only). All three stages closed-form/seeded, so the "
    "oracle replays cells, codes, ADC sums, shortlist, and rerank "
    "value-for-value.",
    tags=("similarity", "ann", "ivf", "pq", "composition"),
)
def q46_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_pq_topk(
        emb, queries, k=3, n_cells=16, n_probe=8, m=16, k_codes=32, shortlist=32
    )


@query(
    "v38_hybrid_rrf",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE word != ''),
    tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM tok2 GROUP BY doc_id, word),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok2 GROUP BY doc_id),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
    dfq AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
    qt AS (SELECT word, df FROM dfq ORDER BY df DESC, word ASC LIMIT 3),
    bm AS (
        SELECT tf.doc_id,
               round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                         * tf * (1.2 + 1)
                         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
        FROM tf JOIN qt USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id, (row_number() OVER (ORDER BY bm25 DESC, doc_id))::INT AS r_lex
        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
        SELECT query_id, doc_id,
               round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
        FROM qv, cv WHERE doc_id <> query_id
    ),
    sem AS (
        SELECT query_id, doc_id, r_sem FROM (
            SELECT query_id, doc_id,
                   (row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id))::INT AS r_sem
            FROM scored
        ) WHERE r_sem <= 20
    ),
    qs AS (SELECT DISTINCT query_id FROM sem),
    lx AS (SELECT qs.query_id, lex.doc_id, lex.r_lex FROM qs CROSS JOIN lex),
    fused AS (
        SELECT coalesce(s.query_id, l.query_id) AS query_id,
               coalesce(s.doc_id, l.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + s.r_sem), 0) + coalesce(1.0 / (60 + l.r_lex), 0), 6) AS rrf
        FROM sem s FULL OUTER JOIN lx l ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, rrf, rank FROM (
        SELECT *, (row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id))::INT AS rank
        FROM fused
    ) WHERE rank <= 10
    """,
    doc="Hybrid retrieval (operators/retrieval.py::rrf_fuse_topk): BM25 "
    "top-20 (corpus top-3-df terms, the lexical prior) fused with "
    "per-query cosine top-20 via Reciprocal Rank Fusion "
    "(1/(60+rank), Cormack 2009) — the standard RAG retrieval stack "
    "as one lazy plan. Both inputs are top-k-sized before the fusion "
    "joins, so the fuse stage is broadcast-only regardless of corpus "
    "size; ranks and 6dp-rounded rrf are engine-stable, so the oracle "
    "replays lexical ranking, semantic ranking, and fusion exactly.",
    tags=("similarity", "retrieval", "rrf", "llm-pipeline"),
)
def v38_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import textstats
    from ..operators.retrieval import rrf_fuse_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    sem = S.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), id_col="vec_id", vec_col="embedding", k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    bm = textstats.bm25_scores(docs, "doc_id", "text", n_query_terms=3)
    lex_order = (F.desc("bm25"), F.asc("doc_id"))
    lex = (
        bm.orderBy(*lex_order)
        .limit(20)
        .withColumn("rank", F.row_number().over(Window.orderBy(*lex_order)).cast("int"))
        .select("doc_id", "rank")
    )
    return rrf_fuse_topk(sem, lex, k=10, k_rrf=60)


@query(
    "v46_embedding_dup_clusters",
    """
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.v AS id, r.label FROM reach r JOIN edges e ON r.id = e.u
    )
    SELECT id AS vec_id, min(label)::BIGINT AS cluster_id
    FROM reach GROUP BY id
    """,
    doc="Embedding-dedup capstone: the q53 cosine pair graph (distributed "
    "block pair-grid, threshold 0.35) fed through connected components "
    "(hook + pointer-jump, O(log d) rounds) — (vector, cluster) with the "
    "min id as the canonical survivor. The same shape as q29 but with "
    "semantic (embedding) rather than lexical (SimHash) pair evidence; "
    "the oracle replays pair generation AND the closure via a recursive "
    "CTE, so the iterative path over a second graph family is value-hash "
    "checked too.",
    tags=("similarity", "dedup", "graph", "iterative"),
)
def v46_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    emb = load(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs_grid(emb, id_col="vec_id", vec_col="embedding", threshold=0.35)
    cc = connected_components(pairs)
    return cc.select(F.col("id").alias("vec_id"), "cluster_id")
