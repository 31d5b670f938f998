"""Text-analysis operators for document corpora.

Training-data-pipeline surface: token counting, quality scoring, marker-word
language ID, and content fingerprinting. Everything is built-in Column
expressions (whole-stage codegen) — no Python in the hot path, so these run
at scan speed over 100 TB of text.

The reference's text surface (news keyword flags M1.ipynb § 23-24, stopword
removal § 24, fuzzy normalization etl/additional_fifa.py:193-201) maps onto
the same primitives; see also operators/fuzzy.py for the scoring UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text, words

# Tiny deterministic marker lexicons — a stand-in for real n-gram language
# models, chosen so the identical logic is expressible in the SQL oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "las", "por"),
    "de": ("der", "die", "und", "das", "ein"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")


def _count_in(arr: F.Column, vocab: tuple[str, ...]) -> F.Column:
    vocab_arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(arr, lambda w: F.array_contains(vocab_arr, w)))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token statistics: counts, lengths, ratios.

    Token = whitespace word after normalization; ``n_alpha_tokens`` uses a
    BPE-ish regex notion of a clean word ([a-z]+).
    """
    w = words(F.col(text_col))
    n_tokens = F.size(w)
    n_chars = F.length(normalize_text(F.col(text_col)))
    alpha = F.size(F.filter(w, lambda t: t.rlike("^[a-z]+$")))
    stop = _count_in(w, STOPWORDS)
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.round((n_chars - (n_tokens - 1)) / n_tokens, 6).alias("avg_token_len"),
        F.round(stop / n_tokens, 6).alias("stopword_ratio"),
        F.round(alpha / n_tokens, 6).alias("alpha_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]: length band + alpha ratio +
    non-degenerate repetition (distinct-token ratio)."""
    w = words(F.col(text_col))
    n_tokens = F.size(w)
    alpha_ratio = F.size(F.filter(w, lambda t: t.rlike("^[a-z]+$"))) / n_tokens
    distinct_ratio = F.size(F.array_distinct(w)) / n_tokens
    length_ok = F.when((n_tokens >= 20) & (n_tokens <= 1000), 1.0).otherwise(
        F.when(n_tokens < 20, n_tokens / 20.0).otherwise(F.lit(1000.0) / n_tokens)
    )
    score = 0.4 * length_ok + 0.3 * alpha_ratio + 0.3 * distinct_ratio
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(score, 6).alias("quality"),
    )


def langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-lexicon language ID: per language, count token hits; argmax
    with deterministic tie order (en > fr > es > de > und)."""
    w = words(F.col(text_col))
    scores = {lang: _count_in(w, vocab) for lang, vocab in LANG_MARKERS.items()}
    best = F.lit("und")
    best_score = F.lit(1)  # a language needs >=1 marker hit to beat "und"
    # fold in reverse priority so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        s = scores[lang]
        take = s >= best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in LANG_MARKERS],
        best.alias("lang_pred"),
    )
    return out


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text (exact-dup key) plus a
    coarse 16-hex-char prefix usable as a shard/bucket key."""
    norm = normalize_text(F.col(text_col))
    digest = F.md5(norm)
    return df.select(
        F.col(id_col).alias("doc_id"),
        digest.alias("content_md5"),
        F.substring(digest, 1, 8).alias("bucket_key"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_query_terms: int = 3,
) -> DataFrame:
    """BM25 relevance of every document against the corpus's top-df terms —
    the classic lexical-retrieval scorer (the keyword half of a
    hybrid-retrieval pipeline; the embedding half is operators/similarity).

    The query is self-contained and deterministic: the ``n_query_terms``
    highest-document-frequency terms (ties by term asc). Per doc that
    matches >= 1 query term:

        score = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene form)

    with the Lucene defaults k1 = 1.2, b = 0.75.

    Scale shape: tokenize -> (doc, term) tf and (doc) length aggregates
    (two partial-agg shuffles over the exploded stream); document
    frequencies collapse to vocabulary size; the query-term table is
    top-k-sized and broadcast, so scoring touches only matching postings.
    N / avgdl are a 1-row broadcast cross join. No UDFs, no collect.
    """
    from .dedup import words

    tok = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n_docs"), F.avg("dl").alias("__avgdl")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), F.col("word").asc()).limit(n_query_terms)
    idf = F.log(F.lit(1.0) + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (
        F.col("tf") * (F.lit(1.2) + 1)
        / (F.col("tf") + F.lit(1.2) * (1 - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("__avgdl")))
    )
    return (
        tf.join(F.broadcast(qterms), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum(idf * tf_part), 6).alias("bm25"),
        )
    )


#: GPT-2-style pre-tokenizer pattern, restricted to the Java-regex ∩ RE2
#: subset (no lookahead) so an external SQL engine replays it exactly:
#: contraction suffixes, space-prefixed letter runs, digit runs, punct runs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9']+|'"


def bpe_token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token counts under a BPE-ish pre-tokenizer vs plain
    whitespace — the cheap proxy for "how many tokens will the tokenizer
    actually bill" that corpus budgeting runs at 100 TB (real BPE merges
    only split pre-tokens further, so this lower-bounds and tracks the
    true count). Pure Column work: one regexp_extract_all over normalized
    text, zero shuffles, zero Python."""
    norm = normalize_text(F.col(text_col))
    pieces = F.regexp_extract_all(norm, F.lit(BPE_PRETOKEN_RE), 0)
    n_bpe = F.size(pieces)
    n_ws = F.size(words(F.col(text_col)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(n_bpe / n_ws, 6).alias("fertility"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    word pairs — the classic "significant phrase" miner (PMI =
    ln(p(ab) / (p(a)·p(b))), Church & Hanks 1990) a curation pipeline
    uses to find multi-word expressions worth preserving in tokenization.

    All state is vocabulary-sized: one bigram count aggregate, one
    unigram count aggregate, two word-keyed joins to attach marginals,
    and the scalar totals cross-joined as 1-row broadcasts. min_count
    suppresses the low-frequency pairs whose PMI explodes (the standard
    instability). The final top-k is a TakeOrdered under a TOTAL order
    (pmi desc, then the pair) so the limit is deterministic; ln() is
    applied to exact count ratios and rounded to 6 dp for cross-engine
    stability.

    Returns (w1, w2, n_pair, pmi), k rows.
    """
    from .dedup import words

    w = words(F.col(text_col))
    toks = df.select(F.explode(w).alias("word")).filter(F.col("word") != "")
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_w"))
    # totals fold out of the vocabulary-sized count frames — separate
    # corpus-wide aggregates would double the exploded-stream scans
    n_tok = uni.agg(F.sum("n_w").alias("__nt"))
    arr = df.select(w.alias("__w")).select(
        F.filter(F.col("__w"), lambda x: x != "").alias("__w")
    )
    length = F.greatest(F.size("__w") - 1, F.lit(0))
    pairs = (
        arr.select(
            F.explode(
                F.arrays_zip(
                    F.slice("__w", 1, length).alias("w1"),
                    F.slice("__w", 2, length).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    n_big = big.agg(F.sum("n_pair").alias("__nb"))
    scored = (
        big.filter(F.col("n_pair") >= min_count)
        .join(uni.withColumnsRenamed({"word": "w1", "n_w": "n_w1"}), "w1")
        .join(uni.withColumnsRenamed({"word": "w2", "n_w": "n_w2"}), "w2")
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_tok))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("__nb"))
                    / ((F.col("n_w1") / F.col("__nt")) * (F.col("n_w2") / F.col("__nt")))
                ),
                6,
            ),
        )
    )
    return (
        scored.select("w1", "w2", "n_pair", "pmi")
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """zlib compression ratio per document — the quality signal CCNet /
    Gopher-style pipelines use to catch machine-generated and
    template-stamped text: highly repetitive documents compress far
    below natural prose (~0.3-0.4 compressed/raw for English).

    This is a DELIBERATE Python stage — Spark SQL exposes no DEFLATE —
    and the one new addition to the documented Arrow-UDF set: a
    mapInPandas pass (zlib is C-speed per batch; Arrow moves the
    columns), narrow, no shuffle, embarrassingly parallel — the UDF
    cost model is per-row CPU, not dataflow. DEFLATE at a fixed level
    (6, zlib's default) is deterministic for fixed input bytes, so the output is stable
    across runs/partitionings; there is still no SQL oracle (DuckDB has
    no zlib), so the query is rows-only and the numerics are pinned by
    pytest against direct zlib calls.

    Returns (id, raw_bytes, compressed_bytes, ratio, too_repetitive)
    with ratio = compressed/raw rounded to 6 dp, flagged below 0.3
    (1.0 for empty docs — never flagged).
    """
    import pandas as pd

    # id field keeps the caller's actual type (string/int ids would hit an
    # Arrow schema mismatch if `long` were hardcoded)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, raw_bytes long, compressed_bytes long, "
        "ratio double, too_repetitive int"
    )
    src = df.select(F.col(id_col), F.col(text_col))

    def batches(it):
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_len = raw.str.len()
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6)))
            ratio = (comp_len / raw_len.where(raw_len > 0, 1)).where(
                raw_len > 0, 1.0
            ).round(6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raw_len,
                    "compressed_bytes": comp_len,
                    "ratio": ratio,
                    "too_repetitive": ((raw_len > 0) & (ratio < 0.3)).astype(
                        "int32"
                    ),
                }
            )

    return src.mapInPandas(batches, schema=out_schema)


def domain_kl_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    smoothing: float = 0.5,
    top_tokens: int = 5,
) -> DataFrame:
    """Per-domain unigram KL divergence from the corpus-wide distribution
    — the drift fingerprint a curation pipeline monitors when a new
    source lands: a domain whose token distribution diverges hard from
    the pool either needs its own mixture weight or is contaminated
    (boilerplate, markup, wrong language).

    KL(P_g || P_corpus) = sum_w P_g(w) ln(P_g(w) / P(w)), both
    distributions additive-smoothed over the corpus vocabulary (tokens a
    domain never uses contribute nothing under the P_g(w)=~0 convention
    — smoothing keeps the estimator finite without materializing the
    full domain x vocab grid; only OBSERVED (domain, token) cells carry
    mass, so the frame stays |distinct pairs|, never |domains| x |vocab|).
    Also reports each domain's top ``top_tokens`` most over-represented
    tokens (highest pointwise log-ratio contribution) as a diagnostic.

    Scale shape: one (group, token) aggregate (map-side combined), one
    token-keyed join against the corpus-frequency aggregate, windows
    partitioned by the bounded group key. 100 TB collapses to the
    (domain, distinct-token) aggregate in the first shuffle.
    """
    from pyspark.sql import Window as W

    from .dedup import words

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    gt = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("n_gt"))
    g_tot = gt.groupBy("grp").agg(F.sum("n_gt").alias("n_g"))
    t_tot = gt.groupBy("tok").agg(F.sum("n_gt").alias("n_t"))
    vocab = gt.agg(
        F.countDistinct("tok").alias("v"), F.sum("n_gt").alias("n_all")
    )
    s = float(smoothing)
    scored = (
        gt.join(F.broadcast(g_tot), "grp")
        .join(t_tot, "tok")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_g",
            (F.col("n_gt") + F.lit(s)) / (F.col("n_g") + F.lit(s) * F.col("v")),
        )
        .withColumn(
            "p_all",
            (F.col("n_t") + F.lit(s)) / (F.col("n_all") + F.lit(s) * F.col("v")),
        )
        .withColumn("contrib", F.col("p_g") * F.log(F.col("p_g") / F.col("p_all")))
        # the diagnostic ranking key is the RATIO, not the ln-contribution:
        # +,*,/ are IEEE-correctly-rounded on every engine so the order is
        # bit-deterministic, while two near-equal ln() results could rank
        # differently across libm implementations
        .withColumn("ratio", F.col("p_g") / F.col("p_all"))
    )
    w = W.partitionBy("grp").orderBy(F.col("ratio").desc(), F.col("tok").asc())
    top = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_tokens)
        .groupBy("grp")
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list(F.struct("__rk", "tok"))), lambda x: x["tok"])
            ).alias("top_overrepresented")
        )
    )
    kl = scored.groupBy("grp").agg(
        F.round(F.sum("contrib"), 6).alias("kl_divergence"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.max("n_g").cast("long").alias("n_tokens"),
    )
    return (
        kl.join(top, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_distinct_tokens",
            "kl_divergence",
            "top_overrepresented",
        )
    )


def oov_rate(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-domain out-of-vocabulary rate against the corpus top-``vocab_size``
    vocabulary — the tokenizer-coverage check run before committing a
    vocab: a domain with high OOV under the shared vocabulary will
    fragment into long byte-level token sequences (cost) or unks
    (quality), and either needs vocab budget or its own tokenizer.

    The reference vocabulary is the corpus's own most-frequent tokens
    (count desc, token asc tiebreak — deterministic across engines);
    per-domain coverage is one anti-membership aggregate. Scale shape:
    token frequency aggregate -> bounded top-V (two-phase global rank
    not needed: V rows survive a single ordered limit) -> broadcast
    semi-join against the (domain, token) aggregate. Nothing
    domain x vocab sized ever materializes.
    """
    from .dedup import words

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    gt = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("n_gt"))
    # corpus frequency derives from the bounded (grp, tok) aggregate, not
    # from a second pass over the raw tokens — the scan+explode+tokenize
    # subtree (the dominant per-row stage) runs exactly once and the
    # (grp, tok) exchange is reused, matching domain_kl_divergence's t_tot
    freq = gt.groupBy("tok").agg(F.sum("n_gt").alias("n"))
    vocab = freq.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(int(vocab_size)).select("tok")
    flagged = gt.join(
        F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("grp")
        .agg(
            F.sum("n_gt").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), F.col("n_gt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
            F.count(F.when(F.col("__in_vocab").isNull(), 1)).cast("long").alias("n_oov_types"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_oov",
            "n_oov_types",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )
