"""Corpus-curation queries: decontamination, PII scrub, packing, mixing,
containment — the post-dedup stages of a training-data release pipeline.

All five are fully value-hash checked: the operators are pure Column /
window expressions, so the DuckDB oracle replays them exactly (including
the regex redaction — the patterns are written in the Java∩RE2 subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import cache
from ..operators import curation as C
from ..operators import dedup as D
from ..operators import pii as P
from . import query
from .dedup import _NORM, _SH_CTE, _WORDS


def _sh_cte_n(n: int) -> str:
    """DuckDB CTE body for distinct (id, word n-gram shingle) pairs."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT doc_id AS id,
                   unnest(CASE WHEN len(w) >= {n}
                               THEN list_transform(generate_series(1, len(w) - {n - 1}),
                                                   i -> {gram})
                               ELSE []::VARCHAR[] END) AS shingle
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        )
    )"""


@query(
    "v90_decontaminate",
    f"""
    WITH {_sh_cte_n(5)},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE id % 17 = 0),
    c AS (SELECT * FROM sh WHERE id % 17 != 0)
    SELECT c.id AS doc_id,
           count(*)::BIGINT AS n_shingles,
           count(ev.shingle)::BIGINT AS n_hit,
           round(count(ev.shingle)::DOUBLE / count(*), 6) AS overlap,
           (round(count(ev.shingle)::DOUBLE / count(*), 6) >= 0.2)::INT AS contaminated
    FROM c LEFT JOIN ev USING (shingle)
    GROUP BY c.id
    """,
    doc="Benchmark decontamination: every training doc's 5-gram overlap "
    "against the eval set's shingle universe (eval = doc_id % 17 == 0, a "
    "deterministic 6% holdout). The standard pre-release contamination "
    "check. Plan: two exploded shingle sets, one hash join on the shingle "
    "key (AQE promotes to broadcast when the eval universe is genuinely "
    "small), one groupBy(doc) with partial agg — no all-pairs, no collect.",
    tags=("curation", "decontamination", "llm-pipeline"),
)
def v90_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # corpus and eval are a predicate split of one table → the fused
    # single-scan form (one spread + one shingle pass; the two-frame
    # operator remains for genuinely separate eval corpora)
    return (
        C.decontaminate_overlap_split(
            docs, F.col("id") % 17 == 0, "doc_id", "text", n=5, threshold=0.2
        )
        .withColumnRenamed("id", "doc_id")
    )


# deterministic synthetic contact tail: the corpus text is synthetic word
# soup with no PII, so the query plants one email/phone/IP per doc, derived
# only from doc_id, identically on both engines — the regex pipeline is then
# value-checked end-to-end on non-degenerate matches.
_CONTACT_SQL = (
    "text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||"
    " '.example.com or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||"
    " lpad((doc_id % 10000)::VARCHAR, 4, '0') ||"
    " ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"
)


def _contact_col() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail"),
        (d % 7).cast("string"),
        F.lit(".example.com or 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (d % 256).cast("string"),
        F.lit(".0."),
        ((d * 7) % 256).cast("string"),
    )


def _pii_oracle() -> str:
    exprs = []
    red = "t"
    for name, pattern, repl in P.PII_PATTERNS:
        exprs.append(f"len(regexp_extract_all(t, '{pattern}'))::BIGINT AS n_{name}")
        red = f"regexp_replace({red}, '{pattern}', '{repl}', 'g')"
    total = " + ".join(f"len(regexp_extract_all(t, '{p}'))" for _, p, _ in P.PII_PATTERNS)
    return f"""
    WITH t AS (SELECT doc_id, {_CONTACT_SQL} AS t FROM documents)
    SELECT doc_id, {', '.join(exprs)},
           ({total})::BIGINT AS n_pii,
           md5({red}) AS redacted_key
    FROM t
    """


@query(
    "v91_pii_scrub",
    _pii_oracle(),
    doc="PII detection + redaction (operators/pii.py): per-doc counts of "
    "email/phone/IPv4 matches and the md5 of the fully redacted text. "
    "Patterns live in the Java∩RE2 regex subset so the identical strings "
    "run in Spark codegen and in the oracle. Pure regexp_replace/"
    "regexp_count Column chain — zero shuffles, zero Python; the scan IS "
    "the cost at 100 TB.",
    tags=("curation", "pii", "llm-pipeline"),
)
def v91_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("__t", _contact_col())
    prof = P.pii_profile(docs, "doc_id", "__t")
    counts = [f"n_{name}" for name, _, _ in P.PII_PATTERNS]
    return prof.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in counts],
        F.col("n_pii").cast("long").alias("n_pii"),
        "redacted_key",
    )


@query(
    "v92_sequence_packing",
    f"""
    WITH t AS (
        SELECT doc_id, source, doc_id % 4 AS pack_bucket,
               len({_WORDS})::BIGINT AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, pack_bucket, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source, pack_bucket
                                   ORDER BY doc_id)::BIGINT AS running_tokens
        FROM t
    )
    SELECT doc_id, source, pack_bucket, n_tokens, running_tokens,
           ((running_tokens - 1) // 512)::BIGINT AS shard_id
    FROM r
    """,
    doc="Sequence packing: assign docs to fixed 512-token training shards "
    "within (source, doc_id % 4) pack buckets — greedy fill-forward on a "
    "running token sum. ONE window per bucket; the sub-bucket key keeps a "
    "whole source off a single task, so packing parallelism scales with "
    "sub_buckets while shard numbering stays bucket-local and "
    "deterministic.",
    tags=("curation", "packing", "llm-pipeline"),
)
def v92_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.pack_sequences(
        docs, "doc_id", "text", budget=512, partition_col="source", sub_buckets=4
    )


@query(
    "v93_domain_mix",
    """
    WITH c AS (
        SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT sum(n_docs) AS total, count(*) AS n_groups FROM c)
    SELECT lang, source, n_docs,
           round(total / n_groups, 6) AS target_n,
           round(least(1.0, (total / n_groups) / n_docs), 6) AS sample_rate,
           round(least(total / n_groups, n_docs::DOUBLE), 6) AS expected_n
    FROM c CROSS JOIN t
    """,
    doc="Domain-mix rebalancing: per-(lang, source) sampling rates toward "
    "the uniform target mix. One bounded-key groupBy collapses the corpus "
    "to n_groups rows; the total is a 1-row broadcast cross join, not a "
    "window over data. Rates feed the deterministic hash-sampler to "
    "materialize the rebalanced corpus.",
    tags=("curation", "mixing", "llm-pipeline"),
)
def v93_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.domain_mix_rates(docs, ["lang", "source"])


@query(
    "v94_containment_pairs",
    f"""
    WITH {_SH_CTE},
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, n_common,
           round(n_common / least(sa.n_shingles, sb.n_shingles), 6) AS containment
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / least(sa.n_shingles, sb.n_shingles) >= 0.2
    """,
    doc="Asymmetric containment pairs |A∩B|/min(|A|,|B|) >= 0.2 — catches "
    "the quote/boilerplate case Jaccard under-scores (a short doc wholly "
    "inside a long one). Same inverted-index plan as q41, different "
    "denominator.",
    tags=("dedup", "containment", "llm-pipeline"),
)
def v94_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.2)


@query(
    "v95_unigram_logprob",
    f"""
    WITH w AS (
        SELECT doc_id, unnest({_WORDS}) AS word FROM documents
    ),
    freq AS (SELECT word, count(*) AS n FROM w GROUP BY word),
    tot AS (SELECT sum(n) AS total FROM freq)
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(avg(ln(freq.n / tot.total)), 6) AS avg_logprob,
           round(-avg(ln(freq.n / tot.total)) / ln(2), 6) AS bits_per_token
    FROM w JOIN freq USING (word) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Corpus-unigram log-probability per document — the language-model "
    "quality filter (Gopher/CCNet style) at its simplest: a doc whose "
    "tokens are improbable under the corpus unigram distribution (high "
    "bits/token) is gibberish; one whose tokens are too probable is "
    "boilerplate. Two-pass dataflow: pass 1 builds the unigram table (one "
    "word-key groupBy, bounded by vocabulary), pass 2 re-joins it to the "
    "token stream and averages per doc. The total is a 1-row broadcast "
    "cross join; the word->count table broadcasts when the vocabulary "
    "fits (AQE decides). At 100 TB both passes are linear scans; the "
    "vocabulary table is the only state and it is lexicon-sized, not "
    "corpus-sized.",
    tags=("text", "quality", "llm-pipeline"),
)
def v95_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(D.words(F.col("text"))).alias("word"))
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("total"))
    logp = F.log(F.col("n") / F.col("total"))
    return (
        w.join(freq, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
            F.round(-F.avg(logp) / F.log(F.lit(2.0)), 6).alias("bits_per_token"),
        )
    )


_STOP_LIST = "['the','a','an','of','and','or','is','to','in']"


@query(
    "v97_gopher_rules",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS w, {_NORM} AS norm FROM documents),
    base AS (
        SELECT doc_id,
               len(w)::BIGINT AS n_words,
               round((length(norm) - (len(w) - 1))::DOUBLE / len(w), 6) AS mean_word_len,
               len(list_filter(w, x -> list_contains({_STOP_LIST}, x)))::BIGINT AS stop_hits,
               round(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE / len(w), 6) AS alpha_ratio
        FROM t
    ),
    tf AS (
        SELECT doc_id, word, count(*) AS n
        FROM (SELECT doc_id, unnest(w) AS word FROM t)
        GROUP BY doc_id, word
    ),
    top AS (SELECT doc_id, max(n) AS top_n FROM tf GROUP BY doc_id),
    s AS (
        SELECT b.doc_id, n_words, mean_word_len, stop_hits, alpha_ratio,
               round(top_n::DOUBLE / n_words, 6) AS top_word_ratio
        FROM base b JOIN top USING (doc_id)
    )
    SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_ratio, top_word_ratio,
           (n_words BETWEEN 15 AND 10000)::INT AS r_word_count,
           (mean_word_len BETWEEN 3.0 AND 10.0)::INT AS r_mean_len,
           (stop_hits >= 2)::INT AS r_stopwords,
           (alpha_ratio >= 0.7)::INT AS r_alpha,
           (top_word_ratio <= 0.3)::INT AS r_repetition,
           (n_words BETWEEN 15 AND 10000)::INT
             * (mean_word_len BETWEEN 3.0 AND 10.0)::INT
             * (stop_hits >= 2)::INT
             * (alpha_ratio >= 0.7)::INT
             * (top_word_ratio <= 0.3)::INT AS quality_pass
    FROM s
    """,
    doc="Gopher-style quality rule battery (Rae et al. 2021 §A1.1): word "
    "count band, mean word length band, stop-word floor, alphabetic-token "
    "ratio, and top-word repetition share — each as a 0/1 flag plus the "
    "conjunction. All stats except the repetition share are pure Column "
    "expressions at scan speed; the top-word share is one explode with "
    "two-level partial aggregation keyed by doc_id. The rule flags compare "
    "6dp-rounded stats so the cut is engine-stable.",
    tags=("curation", "quality", "llm-pipeline"),
)
def v97_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.gopher_quality_rules(docs, "doc_id", "text")


@query(
    "v98_bigram_logprob",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM t WHERE len(w) >= 2
    ),
    bgc AS (SELECT bigram, count(*) AS c_bg FROM bg GROUP BY bigram),
    pc AS (
        SELECT string_split(bigram, ' ')[1] AS prefix, sum(c_bg)::BIGINT AS c_prefix
        FROM bgc GROUP BY 1
    ),
    v AS (SELECT count(DISTINCT word)::BIGINT AS vv
          FROM (SELECT unnest(w) AS word FROM t))
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(avg(ln((c_bg + 0.5e0) / (c_prefix + 0.5e0 * vv))), 6) AS avg_logprob,
           round(-avg(ln((c_bg + 0.5e0) / (c_prefix + 0.5e0 * vv))) / ln(2e0), 6) AS bits_per_bigram
    FROM bg
    JOIN bgc USING (bigram)
    JOIN pc ON string_split(bg.bigram, ' ')[1] = pc.prefix
    CROSS JOIN v
    GROUP BY doc_id
    """,
    doc="Bigram-LM cross-entropy per document with add-0.5 smoothing, model "
    "trained on the corpus itself — one LM up from q45's unigram scorer and "
    "the standard CCNet-style perplexity quality filter shape. The model IS "
    "aggregation: bigram counts from one explode, prefix totals derived "
    "from the bigram table (no second corpus pass), vocabulary size a "
    "single-row broadcast. Scoring re-joins the doc bigram stream to the "
    "model on the bigram key — shuffle-on-key hash joins with partial agg, "
    "model never collected to the driver.",
    tags=("text", "quality", "llm-pipeline"),
)
def v98_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.bigram_logprob(docs, "doc_id", "text")


@query(
    "v99_token_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (
        SELECT doc_id, w, len(w) AS n,
               CASE WHEN len(w) <= 32 THEN 1
                    ELSE CAST(ceil((len(w) - 32)::DOUBLE / 16) AS BIGINT) + 1
               END AS nc
        FROM t
    ),
    e AS (
        SELECT doc_id, w, n, unnest(generate_series(0, (nc - 1) * 16, 16)) AS start
        FROM s
    )
    SELECT doc_id,
           CAST(start // 16 AS BIGINT) AS chunk_id,
           len(ch)::BIGINT AS n_tokens,
           array_to_string(ch, ' ') AS chunk_text
    FROM (SELECT doc_id, start, list_slice(w, start + 1, least(start + 32, n)) AS ch
          FROM e)
    """,
    doc="Sliding-window token chunking (operators/curation.py::chunk_tokens, "
    "chunk=32, stride=16 — 50% overlap): every document split into "
    "model-ready fixed-size word windows, the sequence-prep complement of "
    "q42's packing. Narrow plan: tokenize, sequence+explode the window "
    "starts, slice — zero shuffles, zero Python, output fan-out stays on "
    "the document's partition.",
    tags=("curation", "chunking", "llm-pipeline"),
)
def v99_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.chunk_tokens(docs, "doc_id", "text", chunk_words=32, stride_words=16)


@query(
    "v100_temperature_mix",
    """
    WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
    t AS (SELECT sum(n_docs)::BIGINT AS total, sum(pow(n_docs::DOUBLE, 0.5)) AS z FROM c)
    SELECT source, n_docs,
           round(pow(n_docs::DOUBLE, 0.5) / z * total, 6) AS target_n,
           round(least(1.0, pow(n_docs::DOUBLE, 0.5) / z * total / n_docs), 6) AS sample_rate,
           round(least(pow(n_docs::DOUBLE, 0.5) / z * total, n_docs::DOUBLE), 6) AS expected_n
    FROM c, t
    """,
    doc="Temperature-scaled corpus mixture (operators/curation.py::"
    "temperature_mix_rates, alpha=0.5): target share of source i is "
    "p_i^alpha / sum p_j^alpha — the multinomial alpha-sampling used to "
    "flatten multilingual/multi-source training mixes. One groupBy on the "
    "bounded domain key; the two scalar totals broadcast back as a 1-row "
    "cross join, so 100 TB collapses before any arithmetic.",
    tags=("curation", "sampling", "llm-pipeline"),
)
def v100_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.temperature_mix_rates(docs, ["source"], alpha=0.5)


@query(
    "r44_state_history",
    """
    WITH o AS (
        SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us FROM events
    ),
    f AS (
        SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w != event_type
                       THEN 1 ELSE 0 END AS chg
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    i AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM f
    ),
    r AS (
        SELECT user_id, island, min(event_type) AS state, min(ts) AS valid_from,
               count(*)::BIGINT AS n_rows
        FROM i GROUP BY user_id, island
    )
    SELECT user_id, (island - 1)::BIGINT AS run_seq, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
           n_rows
    FROM r
    """,
    doc="SCD Type 2 history build (operators/curation.py::compress_history): "
    "each user's time-ordered event_type stream compressed into maximal "
    "unchanged runs with valid_from/valid_to intervals — how a warehouse "
    "turns append-only snapshots (reference run_load.py:205-223 timestamped "
    "files) into a slowly-changing dimension. Gaps-and-islands: lag flag + "
    "running sum + groupBy all share one (user_id, ts) partitioning — "
    "Catalyst plans a single shuffle.",
    tags=("warehouse", "window", "scd2"),
)
def r44_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return C.compress_history(ev, "user_id", "ts", "event_type", tiebreak_col="event_id")


@query(
    "v69_length_batches",
    f"""
    WITH t AS (SELECT doc_id, len({_WORDS})::BIGINT AS n_tokens FROM documents),
    r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rk
        FROM t
    ),
    b AS (SELECT *, ((rk - 1) // 32)::BIGINT AS batch_id FROM r)
    SELECT batch_id,
           count(*)::BIGINT AS n_seqs,
           max(n_tokens) AS max_tokens,
           sum(n_tokens)::BIGINT AS sum_tokens,
           (max(n_tokens) * count(*))::BIGINT AS padded_tokens,
           (max(n_tokens) * count(*) - sum(n_tokens))::BIGINT AS padding_waste,
           round(sum(n_tokens)::DOUBLE / (max(n_tokens) * count(*)), 6) AS efficiency
    FROM b GROUP BY batch_id
    """,
    doc="Length-bucketed inference batching (operators/curation.py::"
    "length_bucket_batches, batch=32): documents ranked by token count "
    "via the two-phase global rank (one range sort, zero Python), cut "
    "into fixed batches, per-batch padding waste accounted — the sorted-"
    "batching prep that minimizes pad tokens for variable-length serving.",
    tags=("curation", "batching", "llm-pipeline"),
)
def v69_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.length_bucket_batches(docs, "doc_id", "text", batch_size=32)


@query(
    "v56_budget_waterfill",
    f"""
    WITH g AS (
        SELECT lang,
               sum(len({_WORDS}))::DOUBLE AS capacity,
               sqrt(count(*)::DOUBLE) AS weight
        FROM documents GROUP BY lang
    ),
    t AS (SELECT sum(capacity) AS total_cap, sum(weight) AS total_w FROM g),
    f AS (
        SELECT g.*, t.total_cap, t.total_w, 0.85 * t.total_cap AS b,
               coalesce(sum(capacity) OVER pre, 0) AS cap_prev,
               coalesce(sum(weight) OVER pre, 0) AS w_prev
        FROM g CROSS JOIN t
        WINDOW pre AS (ORDER BY capacity / weight, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s AS (
        SELECT *,
               (total_cap <= b
                OR capacity * (total_w - w_prev) <= weight * (b - cap_prev))
               AS saturated
        FROM f
    ),
    l AS (
        SELECT sum(CASE WHEN saturated THEN capacity ELSE 0 END) AS sat_cap,
               sum(CASE WHEN saturated THEN weight ELSE 0 END) AS sat_w
        FROM s
    )
    SELECT lang, capacity::BIGINT AS capacity, round(weight, 6) AS weight, saturated,
           round(CASE WHEN saturated THEN capacity
                      ELSE least(capacity,
                                 CASE WHEN total_w - sat_w > 0
                                      THEN (b - sat_cap) / (total_w - sat_w)
                                      ELSE 0 END * weight) END, 4) AS allocation,
           round(CASE WHEN saturated THEN capacity
                      ELSE least(capacity,
                                 CASE WHEN total_w - sat_w > 0
                                      THEN (b - sat_cap) / (total_w - sat_w)
                                      ELSE 0 END * weight) END / capacity, 6) AS fill_rate
    FROM s CROSS JOIN l
    """,
    doc="Budget-constrained water-filling allocation (operators/curation.py::"
    "waterfill_budgets): split a budget of 85% of corpus tokens over "
    "languages proportionally to sqrt(n_docs) temperature weights, capped "
    "at each language's token capacity, capped surplus redistributed among "
    "the uncapped — exact closed form via one c/w-sorted window pass (the "
    "saturated set is a prefix of that order), no iteration. en is the "
    "heavy unsaturated tail at every SF; the four small languages saturate. "
    "The corpus collapses to n_langs rows in the first bounded-key groupBy; "
    "all allocation algebra runs on the tiny aggregate.",
    tags=("curation", "mixing", "llm-pipeline"),
)
def v56_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.waterfill_budgets(
        docs,
        "lang",
        budget_frac=0.85,
        capacity=F.size(D.words(F.col("text"))),
    )


@query(
    "v57_epoch_interleave",
    f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5('ep:' || doc_id::VARCHAR), doc_id) AS domain_rank,
               count(*) OVER (PARTITION BY source) AS domain_n
        FROM documents
    ),
    f AS (
        SELECT *, (domain_rank - 0.5) / domain_n AS stride_frac FROM ranked
    )
    SELECT row_number() OVER (ORDER BY stride_frac, source, doc_id) AS position,
           doc_id, source, domain_rank, domain_n,
           round(stride_frac, 6) AS stride_frac
    FROM f
    """,
    doc="Deterministic domain-interleaved epoch order (operators/curation.py::"
    "epoch_interleave): stride scheduling lands within-domain hash-rank r "
    "of n at fraction (r-0.5)/n; the global sort on that fraction spreads "
    "every domain uniformly through the epoch, so any contiguous slice a "
    "sequential trainer reads samples the mixture in proportion. Global "
    "positions come from the two-phase rank (range sort + partition-offset "
    "join) — no single-partition window over the data.",
    tags=("curation", "mixing", "llm-pipeline"),
)
def v57_epoch_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return C.epoch_interleave(docs, "doc_id", "source", salt="ep")


def _containment_lsh_oracle(threshold: float, ratio: float) -> str:
    """DuckDB SQL replaying containment_lsh_pairs(num_hashes=32,
    seed=42): single-hash-band MinHash candidates (the
    _minhash_oracle at bands=num_hashes and threshold 0 is exactly the
    r=1 candidate set), the default degenerate-bucket cap (buckets over
    256 members dropped before pairing — deterministic, replayed
    value-for-value like q46's), exact shingle-count containment
    verify, size-ratio scope filter."""
    from .dedup import _minhash_oracle

    cand_sql = _minhash_oracle(
        num_hashes=32, bands=32, threshold=0.0, seed=42, max_bucket_size=256
    )
    return f"""
    WITH {_SH_CTE},
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    cand AS (SELECT id_a, id_b FROM ({cand_sql})),
    hv2 AS (
        SELECT DISTINCT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        FROM sh
    ),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM hv2 a JOIN hv2 b ON a.h = b.h AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT c.id_a, c.id_b, c.n_common::BIGINT AS n_common,
           round(c.n_common / least(sa.n, sb.n), 6) AS containment
    FROM common c
    JOIN cand USING (id_a, id_b)
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE greatest(sa.n, sb.n) <= {ratio} * least(sa.n, sb.n)
      AND c.n_common / least(sa.n, sb.n) >= {threshold}
    """


@query(
    "v51_containment_lsh",
    _containment_lsh_oracle(0.5, 4.0),
    doc="Sketch-accelerated containment (operators/dedup.py::"
    "containment_lsh_pairs, LSH-Ensemble style): candidates from single-"
    "hash MinHash bands tuned for the containment->Jaccard bound "
    "J >= t/(1+R-t) (0.111 at t=0.5, R=4; miss prob (1-J)^32 = 0.9% at "
    "the bound), the default degenerate-bucket cap (256, replayed in "
    "the oracle — r=1 bands make oversized buckets the norm on a "
    "saturated shingle space, and a true pair's ~3.6 expected colliding "
    "bands survive the drop; drops logged eagerly), exact array-"
    "intersect verify on candidates only, declared size-ratio scope "
    "R=4. Scores are EXACT — the sketch only gates which pairs get "
    "verified; never all-pairs at any scale.",
    tags=("dedup", "containment", "lsh", "llm-pipeline"),
)
def v51_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.containment_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_size_ratio=4.0,
        num_hashes=32, seed=42,
    )


@query(
    "v52_containment_recall",
    f"""
    WITH sketch AS ({_containment_lsh_oracle(0.5, 4.0)}),
    {_SH_CTE},
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    exact AS (
        SELECT id_a, id_b,
               greatest(sa.n, sb.n) <= 4.0 * least(sa.n, sb.n) AS in_scope
        FROM common c
        JOIN sizes sa ON sa.id = c.id_a
        JOIN sizes sb ON sb.id = c.id_b
        WHERE c.n_common / least(sa.n, sb.n) >= 0.5
    ),
    j AS (
        SELECT coalesce(e.in_scope, true) AS in_scope,
               (e.id_a IS NOT NULL) AS is_exact,
               (s.id_a IS NOT NULL) AS is_sketch
        FROM exact e FULL OUTER JOIN sketch s USING (id_a, id_b)
    )
    SELECT sum(CASE WHEN is_exact AND in_scope THEN 1 ELSE 0 END)::BIGINT AS n_exact_scoped,
           sum(CASE WHEN is_exact AND NOT in_scope THEN 1 ELSE 0 END)::BIGINT AS n_beyond_ratio,
           sum(CASE WHEN is_sketch THEN 1 ELSE 0 END)::BIGINT AS n_sketch,
           sum(CASE WHEN is_sketch AND is_exact THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           round(sum(CASE WHEN is_sketch AND is_exact THEN 1 ELSE 0 END)
                 / greatest(sum(CASE WHEN is_exact AND in_scope THEN 1 ELSE 0 END), 1), 6) AS recall
    FROM j
    """,
    doc="In-engine recall evaluation of the containment sketch path "
    "against exact containment_pairs at the same threshold (q37's "
    "LSH-vs-exact pattern for the containment family): one tagged "
    "full-outer join counts exact-in-scope, beyond-ratio (the declared "
    "out-of-scope set), sketch, and hit pairs in a single pass. "
    "Precision is 1 by construction (the sketch path verifies exactly); "
    "recall measures candidate-generation misses honestly. Above "
    "10k docs the exact side is ANCHOR-SAMPLED (deterministic md5 "
    "fraction on the pair's smaller id, pruned BEFORE the exact "
    "self-join; the sketch side is restricted to the same stratum) — "
    "full ground-truth replay is super-linear and eval-only, so at "
    "scale the metric is an unbiased stratum estimate at bounded cost "
    "while the driver-SF oracle path below the threshold stays a full "
    "replay, value-identical to this SQL.",
    tags=("dedup", "containment", "evaluation", "llm-pipeline"),
)
def v52_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # FULL exact replay is quadratic-ish in corpus density and exists only
    # to grade the sketch; past the bound, ground-truth a hash-sampled
    # anchor stratum instead (exact target ~10k anchors) — the sample is
    # deterministic (portable md5), applied before the exact self-join,
    # and recall stays an unbiased estimate because numerator and
    # denominator are restricted to the same stratum.
    full_replay_max_docs = 10_000
    n_docs = docs.count()
    anchor = None
    if n_docs > full_replay_max_docs:
        p = full_replay_max_docs / n_docs

        def _sampled(col: str) -> "F.Column":
            return D.md5_fraction(F.col(col), salt="containment_recall:") < F.lit(p)

        anchor = _sampled("id")
    # tokenize ONCE: exact replay, size/scope lookup and the sketch path all
    # consume one materialized (id, __arr, __h) frame (operators/dedup.py::
    # containment_sketch_arrays) instead of three independently-built,
    # independently-tokenized copies of the shingle index
    arr = cache.tracked_local_checkpoint(
        D.containment_sketch_arrays(docs, "doc_id", "text", 3),
        eager=True,
    )
    exact = D.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, anchor_filter=anchor,
        shingle_arrays=arr,
    ).select("id_a", "id_b", "n_common")
    sizes_scope = arr.select("id", F.size("__arr").alias("n"))
    exact = (
        exact.join(sizes_scope.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes_scope.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.greatest("n_a", "n_b") <= F.lit(4.0) * F.least("n_a", "n_b")).alias("in_scope"),
        )
    )
    sketch = D.containment_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_size_ratio=4.0,
        num_hashes=32, seed=42, shingle_arrays=arr,
    ).select("id_a", "id_b", F.lit(True).alias("__s"))
    if anchor is not None:
        # same stratum on the sketch side (pairs are id_a < id_b on both
        # paths), so all four counters and the recall read consistently
        sketch = sketch.filter(_sampled("id_a"))
    j = exact.join(sketch, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_scope", F.lit(True)).alias("in_scope"),
        F.col("in_scope").isNotNull().alias("is_exact"),
        F.col("__s").isNotNull().alias("is_sketch"),
    )
    return j.agg(
        F.sum(F.when(F.col("is_exact") & F.col("in_scope"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_scoped"),
        F.sum(F.when(F.col("is_exact") & ~F.col("in_scope"), 1).otherwise(0))
        .cast("long")
        .alias("n_beyond_ratio"),
        F.sum(F.when(F.col("is_sketch"), 1).otherwise(0)).cast("long").alias("n_sketch"),
        F.sum(F.when(F.col("is_sketch") & F.col("is_exact"), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.sum(F.when(F.col("is_sketch") & F.col("is_exact"), 1).otherwise(0))
            / F.greatest(
                F.sum(F.when(F.col("is_exact") & F.col("in_scope"), 1).otherwise(0)),
                F.lit(1),
            ),
            6,
        ).alias("recall"),
    )
