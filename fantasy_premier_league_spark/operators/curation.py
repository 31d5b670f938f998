"""Corpus-curation operators a training-data pipeline runs after dedup.

These extend the reference's cleaning surface (quality filters and
drop-duplicates, etl/run_transform.py:366-370, additional_fifa.py:111-168)
with the corpus-level operations an LLM data pipeline needs at 100 TB:

- benchmark decontamination (n-gram overlap of every corpus doc against an
  eval-set shingle universe — the standard train/test contamination check),
- sequence packing (assign docs to fixed token-budget shards for training),
- domain-mix rebalancing (per-group sampling rates toward a target mix).

Every operator is pure DataFrame/Column (no Python UDFs); the only shuffles
are on the natural keys (shingle, pack partition, group key), each with
map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import doc_shingles, normalize_text, words


def decontaminate_overlap_split(
    docs: DataFrame,
    eval_pred: F.Column,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-document n-gram overlap with an evaluation set's shingle universe.

    The contamination check every training pipeline runs before a data
    release: a corpus document whose word n-grams substantially appear in
    the benchmark/eval set is flagged so it can be dropped from training.
    Corpus and eval set are a PREDICATE split of one table (holdout
    benchmarks carved from the same catalog), so the table is shingled once
    and the exploded postings are split; the split is exact — eval docs
    never reach the corpus side. ``eval_pred`` is evaluated on the
    POST-SHINGLE frame, whose id column is named ``id`` regardless of
    ``id_col`` (e.g. ``F.col("id") % 17 == 0``).

    Returns (id, n_shingles, n_hit, overlap, contaminated) for every corpus
    doc with >= 1 shingle (docs shorter than ``n`` words have no n-grams and
    are trivially clean; callers needing them re-attach with a left join).

    Scale shape: the eval universe is DISTINCT shingles only, so the probe
    is a shuffle (or, when genuinely tiny, AQE-promoted broadcast) hash join
    on the shingle key, never a cross product. No collect.
    """
    sh = doc_shingles(docs, id_col, text_col, n).withColumn(
        "__is_eval", eval_pred
    )
    eval_sh = (
        sh.filter(F.col("__is_eval"))
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_sh = sh.filter(~F.col("__is_eval")).select("id", "shingle")
    return (
        corpus_sh.join(eval_sh, "shingle", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
        .withColumn("overlap", F.round(F.col("n_hit") / F.col("n_shingles"), 6))
        .withColumn("contaminated", (F.col("overlap") >= F.lit(threshold)).cast("int"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    budget: int = 512,
    partition_col: str | None = None,
    sub_buckets: int = 1,
) -> DataFrame:
    """Assign documents to fixed token-budget training shards.

    Sequence packing for pretraining: within each pack partition, documents
    are laid end-to-end in a deterministic order (id) and cut into shards of
    ``budget`` tokens — shard k holds the docs whose running token total
    falls in (k*budget, (k+1)*budget]. A document straddling a boundary
    belongs to the shard its cumulative end lands in (greedy fill-forward;
    real packers then split the straddler — that is a tokenizer-side concern).

    Scale shape: ONE window (running sum) per pack partition. A raw
    per-source window would put a whole source on one task, so the pack key
    is (partition_col, id % sub_buckets): packing is embarrassingly parallel
    across sub-buckets — raise ``sub_buckets`` until each task's slice fits.
    Shard numbering is bucket-local, so parallelism never changes results.
    """
    n_tokens = F.size(words(F.col(text_col)))
    parts = [F.col(partition_col)] if partition_col else []
    bucket = F.pmod(F.col(id_col), F.lit(sub_buckets)).cast("long")
    w = W.partitionBy(*parts, bucket).orderBy(id_col)
    running = F.sum(n_tokens).over(w)
    out = [F.col(id_col)] + ([F.col(partition_col)] if partition_col else [])
    return df.select(
        *out,
        bucket.alias("pack_bucket"),
        n_tokens.cast("long").alias("n_tokens"),
        running.alias("running_tokens"),
        F.floor((running - 1) / F.lit(budget)).cast("long").alias("shard_id"),
    )


def gopher_quality_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 15,
    max_words: int = 10_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stop_hits: int = 2,
    min_alpha_ratio: float = 0.7,
    max_top_freq: float = 0.3,
) -> DataFrame:
    """Gopher-style per-document quality rules (Rae et al. 2021, §A1.1).

    Emits the raw statistics, one 0/1 flag per rule, and the conjunction:

    - word count within [min_words, max_words],
    - mean word length within [min_mean_len, max_mean_len],
    - at least ``min_stop_hits`` stop-word occurrences,
    - alphabetic-token ratio >= min_alpha_ratio (symbol-soup guard),
    - most-frequent-word share <= max_top_freq (repetition guard).

    Scale shape: every stat except the repetition share is a pure Column
    expression over the words array (scan-speed, whole-stage codegen). The
    top-word share needs per-(doc, word) counts: one explode with two-level
    partial aggregation keyed by doc_id — no window over the corpus, no
    collect. Both shuffles are on doc_id, so AQE coalesces them together.
    """
    from .textstats import STOPWORDS

    w = words(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_words = F.size(w)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.round(
            (F.length(normalize_text(F.col(text_col))) - (n_words - 1)) / n_words,
            6,
        ).alias("mean_word_len"),
        F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t))).cast("long").alias("stop_hits"),
        F.round(F.size(F.filter(w, lambda t: t.rlike("^[a-z]+$"))) / n_words, 6).alias("alpha_ratio"),
    )
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(w).alias("word"))
    top = (
        tok.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("doc_id")
        .agg(F.max("__n").alias("__top_n"))
    )
    scored = base.join(top, "doc_id").withColumn(
        "top_word_ratio", F.round(F.col("__top_n") / F.col("n_words"), 6)
    )
    r_count = ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).cast("int")
    r_mean = (
        (F.col("mean_word_len") >= min_mean_len) & (F.col("mean_word_len") <= max_mean_len)
    ).cast("int")
    r_stop = (F.col("stop_hits") >= min_stop_hits).cast("int")
    r_alpha = (F.col("alpha_ratio") >= min_alpha_ratio).cast("int")
    r_rep = (F.col("top_word_ratio") <= max_top_freq).cast("int")
    return scored.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "alpha_ratio",
        "top_word_ratio",
        r_count.alias("r_word_count"),
        r_mean.alias("r_mean_len"),
        r_stop.alias("r_stopwords"),
        r_alpha.alias("r_alpha"),
        r_rep.alias("r_repetition"),
        (r_count * r_mean * r_stop * r_alpha * r_rep).alias("quality_pass"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    add_k: float = 0.5,
) -> DataFrame:
    """Bigram-LM cross-entropy per document, model trained on the corpus.

    The classic perplexity-style quality signal one LM up from q45's unigram
    scorer: P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V) with add-k
    smoothing, V = vocabulary size. Emits per-doc bigram count, mean log
    probability, and bits/bigram (cross-entropy).

    Scale shape: the model IS aggregation — bigram counts from one explode,
    prefix counts derived from the bigram table (no second corpus pass),
    vocab size a single-row broadcast. Scoring joins each doc's bigrams to
    the model on the bigram key: shuffle-on-key hash joins with partial
    aggregation everywhere, never a collect of the model to the driver.
    """
    w = words(F.col(text_col))
    bigrams = F.expr(
        "transform(sequence(1, size(__w) - 1), "
        "i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
    )
    bg = (
        df.select(F.col(id_col).alias("doc_id"), w.alias("__w"))
        .filter(F.size("__w") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("__c_bg"))
    pc = (
        bgc.withColumn("__prefix", F.split("bigram", " ").getItem(0))
        .groupBy("__prefix")
        .agg(F.sum("__c_bg").alias("__c_prefix"))
    )
    vocab = (
        df.select(F.explode(w).alias("word")).agg(F.countDistinct("word").alias("__v"))
    )
    logp = F.log(
        (F.col("__c_bg") + F.lit(add_k)) / (F.col("__c_prefix") + F.lit(add_k) * F.col("__v"))
    )
    return (
        bg.join(bgc, "bigram")
        .withColumn("__prefix", F.split("bigram", " ").getItem(0))
        .join(pc, "__prefix")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
            F.round(-F.avg(logp) / F.log(F.lit(2.0)), 6).alias("bits_per_bigram"),
        )
    )


def domain_mix_rates(
    df: DataFrame,
    group_cols: list[str],
    *,
    target_shares: dict[tuple, float] | None = None,
) -> DataFrame:
    """Per-group downsampling rates toward a target corpus mix.

    With no explicit target, the target is the uniform mix (every observed
    group gets total/n_groups docs). ``sample_rate`` = min(1, target_n / n):
    over-represented domains are downsampled, under-represented ones kept
    whole (rate 1 — upsampling is a repetition policy, not a filter).

    Scale shape: one groupBy on the (bounded-cardinality) domain key
    collapses 100 TB to n_groups rows; totals come from a single-row
    aggregate cross-joined back (broadcast of 1 row), not a window over the
    data. The emitted rates pair with the deterministic hash-sampler
    (queries/sampling_text.py) to materialize the rebalanced corpus.
    """
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("__total"), F.count(F.lit(1)).alias("__n_groups")
    )
    out = counts.crossJoin(F.broadcast(totals))
    if target_shares is None:
        target_n = F.col("__total") / F.col("__n_groups")
    else:  # explicit share lookup (small literal map)
        mapping = F.create_map(
            *[
                lit
                for key, share in target_shares.items()
                for lit in (F.lit("|".join(map(str, key))), F.lit(share))
            ]
        )
        target_n = mapping[F.concat_ws("|", *group_cols)] * F.col("__total")
    return out.select(
        *group_cols,
        "n_docs",
        F.round(target_n, 6).alias("target_n"),
        F.round(F.least(F.lit(1.0), target_n / F.col("n_docs")), 6).alias("sample_rate"),
        F.round(F.least(target_n, F.col("n_docs").cast("double")), 6).alias("expected_n"),
    )


def _words_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Lazily-materialized (id, __w words-array) frame — the tokenizer,
    the per-row-dominant stage of every span operator, runs exactly once;
    all shingling/slicing downstream works on the cached attribute
    (array-typed → RDD layer, blocks build inside the caller's first
    action — the dedup-family lazy-checkpoint pattern). The input is
    spread first: the tokenize pass profiled as ONE 0.7s task on a
    single-file local scan (no-op at real scale)."""
    from ..catalog import spread_partitions
    from .cache import tracked_local_checkpoint

    return tracked_local_checkpoint(
        spread_partitions(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", words(F.col(text_col)).alias("__w")),
        eager=False,
    )


def _duplicate_spans_from_words(base: DataFrame, k: int, min_occ: int) -> DataFrame:
    """(id, start, span, n_occ) for every length-``k`` SLIDING word window
    whose exact normalized text occurs at least ``min_occ`` times
    corpus-wide (Lee et al., ACL 2022: their suffix-array pass as the
    equivalent fixed-width rolling window). Unlike fixed-offset passages
    (q26), it catches a shared run of >= k words at any offset.
    ``min_occ`` counts all occurrences, so a span repeated within one
    document is duplicated too."""
    from .dedup import shingle_array_from_words

    spans = base.select(
        "id",
        F.posexplode(shingle_array_from_words(F.col("__w"), k)).alias("start", "span"),
    )
    # corpus-wide occurrence count as a WINDOW over the span key: the
    # historical groupBy+join-back shape evaluated the explode twice
    # (freq derived from spans, so exchange reuse could not fire) and
    # shuffled the span strings twice; the window evaluates it once and
    # shuffles once. Partitions are same-span groups — occurrence-count
    # sized, never corpus-sized. Same rows, same values (measured sf1:
    # q05 16.4-18.8 -> ~10s steady).
    return (
        spans.withColumn("n_occ", F.count(F.lit(1)).over(W.partitionBy("span")))
        .filter(F.col("n_occ") >= min_occ)
        .select("id", "start", "span", "n_occ")
    )


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    min_occ: int = 2,
) -> DataFrame:
    """Cut every token covered by a duplicated sliding span and rebuild the
    document — the destructive half of Lee et al.'s dedup: the corpus
    keeps ONE copy of nothing; all occurrences of a duplicated run are
    removed (their most aggressive variant, deterministic and
    engine-replayable).

    Returns one row per input doc: (id, n_words, n_dup_spans, n_covered,
    cleaned_text) — counts of duplicated window starts and covered token
    positions, plus the reconstructed text (normalized-token join; ''
    when the whole doc was covered). Docs shorter than ``k`` words have
    no windows and pass through untouched.

    Plan: the (small, duplicates-only) span table persists once and fans
    into the start-count and the covered-position blacklist; the
    blacklist anti-joins the positional token explode; reconstruction is
    one sorted collect_list per doc. Every shuffle is doc- or
    position-keyed; the only fan-out beyond tokenization is
    k x n_dup_spans blacklist rows.
    """
    from .cache import tracked_persist

    # ONE tokenization for the whole operator: the span-frequency pass,
    # the positional token explode, and the final per-doc join all read
    # the same cached words arrays
    wf = _words_frame(df, id_col, text_col)
    base = wf.select("id", "__w", F.size("__w").alias("n_words"))
    dup = tracked_persist(
        _duplicate_spans_from_words(wf, k, min_occ).select("id", "start")
    )
    cov = dup.select(
        "id", F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))).alias("pos")
    ).distinct()
    toks = base.select("id", F.posexplode("__w").alias("pos", "tok"))
    kept = toks.join(cov, ["id", "pos"], "left_anti")
    cleaned = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("cleaned_text")
    )
    n_dup = dup.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup_spans"))
    n_cov = cov.groupBy("id").agg(F.count(F.lit(1)).alias("n_covered"))
    return (
        base.select("id", "n_words")
        .join(n_dup, "id", "left")
        .join(n_cov, "id", "left")
        .join(cleaned, "id", "left")
        .select(
            "id",
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int = 64,
    stride_words: int | None = None,
) -> DataFrame:
    """Sliding-window token chunking: split every document into fixed-size
    word windows with optional overlap (``stride < chunk``), the sequence
    prep step that turns variable-length documents into model-ready
    contexts. Complements ``pack_sequences`` (which concatenates SHORT docs
    up to a budget; this splits LONG docs down to one).

    Emits one row per (doc, window): ``chunk_id`` (0-based), ``n_tokens``
    (window length — only the final window may be short), ``chunk_text``.
    A doc shorter than ``chunk_words`` yields exactly one chunk. Windows
    start at 0, stride, 2*stride, ... and the last start is the smallest
    one whose window reaches the end of the doc — no trailing windows that
    add no new tokens.

    Scale shape: narrow transform only — tokenize, compute the start list
    with ``sequence``, ``explode``, ``slice``. Zero shuffles and zero
    Python; output volume is input tokens x (chunk/stride) overlap factor,
    fanned out row-wise (never materialized per-doc on the driver). The
    explode keeps the document's partition, so downstream per-chunk ops
    (dedup, quality, embedding) start evenly distributed.
    """
    if chunk_words < 1:
        raise ValueError("chunk_words must be >= 1")
    stride = stride_words or chunk_words
    if not 1 <= stride <= chunk_words:
        raise ValueError("stride_words must be in [1, chunk_words]")
    w = words(F.col(text_col))
    n = F.size(w)
    # number of windows: 1 + ceil((n - chunk) / stride) for n > chunk
    extra = F.ceil((n - F.lit(chunk_words)).cast("double") / F.lit(stride)).cast("long")
    n_chunks = F.when(n <= chunk_words, F.lit(1).cast("long")).otherwise(extra + 1)
    return (
        df.select(
            F.col(id_col),
            w.alias("__w"),
            n.alias("__n"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), (n_chunks - 1) * F.lit(stride), F.lit(stride))
            ).alias("__start"),
        )
        .select(
            F.col(id_col),
            (F.col("__start") / F.lit(stride)).cast("long").alias("chunk_id"),
            F.slice(F.col("__w"), F.col("__start") + 1, F.lit(chunk_words)).alias("__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def temperature_mix_rates(
    df: DataFrame,
    group_cols: list[str],
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled corpus mixture: target share of group i is
    p_i^alpha / sum_j p_j^alpha where p_i is the observed share. The
    standard multinomial alpha-sampling used to rebalance multilingual /
    multi-source training corpora (alpha=1 keeps the natural mix, alpha=0
    is uniform, 0<alpha<1 flattens toward the tail without discarding the
    head's ordering).

    Same output contract as ``domain_mix_rates`` (n_docs, target_n,
    sample_rate, expected_n), so either feeds the deterministic hash
    sampler unchanged.

    Scale shape: one groupBy on the bounded-cardinality domain key, then
    arithmetic over n_groups rows with the two scalar totals broadcast as
    a 1-row cross join — the 100 TB input collapses before any math.
    """
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_docs"))
    powered = counts.withColumn(
        "__pw", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    totals = powered.agg(F.sum("n_docs").alias("__total"), F.sum("__pw").alias("__z"))
    target_n = F.col("__pw") / F.col("__z") * F.col("__total")
    return powered.crossJoin(F.broadcast(totals)).select(
        *group_cols,
        "n_docs",
        F.round(target_n, 6).alias("target_n"),
        F.round(F.least(F.lit(1.0), target_n / F.col("n_docs")), 6).alias("sample_rate"),
        F.round(F.least(target_n, F.col("n_docs").cast("double")), 6).alias("expected_n"),
    )


def compress_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    tiebreak_col: str,
) -> DataFrame:
    """Interval compaction (SCD Type 2 history build): collapse each key's
    time-ordered state stream into contiguous validity runs — one row per
    maximal run of an unchanged state, with ``valid_from`` / ``valid_to``
    (the next run's start, null while current) and the run's row count.

    This is how a warehouse turns append-only snapshots/events into a
    slowly-changing-dimension table (the reference's timestamped snapshot
    files, run_load.py:205-223, are the input shape). Gaps-and-islands:
    a lag() change flag, a running sum to number islands, one groupBy —
    all three share the same (key, ts) partitioning, so Catalyst plans
    exactly ONE shuffle.

    Scale: windows partition on the entity key (high cardinality —
    distributes at any scale); a single entity's history must fit a task,
    the standard keyed-window bound (operators/skew.py documents the
    salting escape hatch).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    order = W.partitionBy(key_col).orderBy(us, F.col(tiebreak_col))
    changed = (
        F.lag(state_col).over(order).isNull()
        | (F.lag(state_col).over(order) != F.col(state_col))
    ).cast("int")
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    islands = df.withColumn("__island", F.sum(changed).over(running))
    runs = islands.groupBy(key_col, "__island").agg(
        F.first(state_col).alias("state"),
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    nxt = W.partitionBy(key_col).orderBy("__island")
    return runs.select(
        F.col(key_col),
        (F.col("__island") - 1).cast("long").alias("run_seq"),
        "state",
        "valid_from",
        F.lead("valid_from").over(nxt).alias("valid_to"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    batch_size: int = 32,
) -> DataFrame:
    """Length-bucketed inference batching: rank documents by token count
    (descending, id tiebreak), cut the ranking into fixed-size batches,
    and account each batch's padding waste — the standard sorted-batching
    prep that minimizes pad tokens when serving variable-length sequences
    (padded cost = batch_max x batch_size; sorting makes neighbors
    similar-length, so waste collapses vs random batching).

    Returns one row per batch: n_seqs, max/sum tokens, padded token cost,
    padding_waste and efficiency (= sum/padded).

    Scale shape: the global ordering uses the two-phase rank
    (operators/rank.py::global_rank — one range sort, zero Python, no
    driver collect); batch stats are one groupBy on the dense batch id.
    """
    from .dedup import words
    from .rank import global_rank

    with_len = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    ranked = global_rank(
        with_len, [F.col("n_tokens").desc(), F.col("doc_id").asc()], out="__rank"
    )
    batched = ranked.withColumn(
        "batch_id", F.floor((F.col("__rank") - 1) / F.lit(int(batch_size))).cast("long")
    )
    return (
        batched.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_seqs",
            "max_tokens",
            "sum_tokens",
            (F.col("max_tokens") * F.col("n_seqs")).alias("padded_tokens"),
            (F.col("max_tokens") * F.col("n_seqs") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
            F.round(
                F.col("sum_tokens") / (F.col("max_tokens") * F.col("n_seqs")), 6
            ).alias("efficiency"),
        )
    )


def waterfill_budgets(
    df: DataFrame,
    group_col: str | list[str],
    *,
    total_budget: int | None = None,
    budget_frac: float | None = None,
    capacity: "F.Column",
    group_weight: "F.Column | None" = None,
) -> DataFrame:
    """Budget-constrained proportional allocation across domains
    (water-filling): split ``total_budget`` tokens over groups in
    proportion to ``weight``, capped at each group's ``capacity``, with
    every capped group's surplus redistributed proportionally among the
    uncapped — the step that turns a mixture spec ("weights w_i, budget
    B") into the per-domain budgets a sampler then enforces.

    Exact closed form, no iteration: allocation_i = min(c_i, lambda*w_i)
    where lambda makes the allocations sum to min(B, sum c). Sorting
    groups by c_i/w_i ascending makes the saturated set a PREFIX of the
    order: row j saturates iff c_j * Wrem_{j-1} <= w_j * (B - C_{j-1})
    (cumulative sums over prior rows only), and once a row fails every
    later row fails too — c/w is non-decreasing while the per-row water
    level (B - C)/Wrem only falls below the true lambda after the first
    failure. One pass of window algebra replaces the textbook iterative
    waterfall.

    Scale shape: one bounded-key groupBy collapses the corpus to
    n_groups rows; every window after that runs over the tiny aggregate
    (single-partition is fine at domain cardinality), and the two scalar
    totals broadcast back as 1-row cross joins. 100 TB of documents
    collapses before any of the allocation arithmetic runs.

    ``capacity`` is a per-row Column summed per group (e.g. a token
    count); ``group_weight`` is a Column over the AGGREGATED frame
    (columns ``capacity`` and ``n_docs`` are in scope) — default
    ``sqrt(n_docs)``, the temperature-0.5 mixture weight (sqrt, not
    pow, because IEEE-754 guarantees sqrt correctly rounded on every
    engine, keeping the oracle bit-exact). Weights must be strictly
    positive.
    """
    keys = [group_col] if isinstance(group_col, str) else list(group_col)
    if group_weight is None:
        group_weight = F.sqrt(F.col("n_docs").cast("double"))
    g = df.groupBy(*keys).agg(
        F.sum(capacity).cast("double").alias("capacity"),
        F.count(F.lit(1)).alias("n_docs"),
    ).withColumn("weight", group_weight)
    totals = g.agg(
        F.sum("capacity").alias("__total_cap"), F.sum("weight").alias("__total_w")
    )
    order = [(F.col("capacity") / F.col("weight")).asc(), *[F.col(k).asc() for k in keys]]
    prev = W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    if (total_budget is None) == (budget_frac is None):
        raise ValueError("pass exactly one of total_budget / budget_frac")
    # a non-positive budget would yield a negative water level and negative
    # allocations (min(c, lambda*w) with lambda < 0) instead of an error;
    # budget_frac > 1 would silently behave like the everything-fits case
    if total_budget is not None and total_budget <= 0:
        raise ValueError(f"total_budget must be positive, got {total_budget}")
    if budget_frac is not None and not (0.0 < budget_frac <= 1.0):
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    # budget_frac keys the budget to the corpus itself (scale-invariant
    # specs like "train on 85% of available tokens"); __total_cap is in
    # scope everywhere b is evaluated (both sides of the totals cross join)
    b = (
        F.lit(float(total_budget))
        if total_budget is not None
        else F.lit(float(budget_frac)) * F.col("__total_cap")
    )
    flagged = (
        g.crossJoin(F.broadcast(totals))
        .withColumn("__cap_prev", F.coalesce(F.sum("capacity").over(prev), F.lit(0.0)))
        .withColumn("__w_prev", F.coalesce(F.sum("weight").over(prev), F.lit(0.0)))
        .withColumn(
            "saturated",
            # whole-corpus-fits short-circuit: everyone saturates at c_i
            (F.col("__total_cap") <= b)
            | (
                F.col("capacity") * (F.col("__total_w") - F.col("__w_prev"))
                <= F.col("weight") * (b - F.col("__cap_prev"))
            ),
        )
    )
    sat = flagged.agg(
        F.sum(F.when(F.col("saturated"), F.col("capacity")).otherwise(F.lit(0.0))).alias("__sat_cap"),
        F.sum(F.when(F.col("saturated"), F.col("weight")).otherwise(F.lit(0.0))).alias("__sat_w"),
    )
    lam = F.when(
        F.col("__total_w") - F.col("__sat_w") > 0,
        (b - F.col("__sat_cap")) / (F.col("__total_w") - F.col("__sat_w")),
    ).otherwise(F.lit(0.0))
    alloc = F.when(F.col("saturated"), F.col("capacity")).otherwise(
        F.least(F.col("capacity"), lam * F.col("weight"))
    )
    return (
        flagged.crossJoin(F.broadcast(sat))
        .select(
            *keys,
            F.col("capacity").cast("long").alias("capacity"),
            F.round("weight", 6).alias("weight"),
            F.col("saturated"),
            F.round(alloc, 4).alias("allocation"),
            F.round(alloc / F.col("capacity"), 6).alias("fill_rate"),
        )
    )


def epoch_interleave(
    df: DataFrame,
    id_col: str,
    group_col: str,
    *,
    salt: str = "ep",
) -> DataFrame:
    """Deterministic shuffled, domain-interleaved global training order.

    A trainer reading a multi-domain corpus front-to-back wants every
    domain spread uniformly through the epoch, not concatenated blocks —
    otherwise the model sees 100% web for hours, then 100% code (the
    ordering half of mixture materialization; the mixture rates decide
    HOW MANY copies, this decides WHERE they land). Stride
    scheduling: within each domain, docs take seeded-hash order (uniform
    + reproducible across engines/runs); doc with within-domain rank r of
    n_g lands at fraction (r - 0.5) / n_g, and the global order sorts by
    that fraction. Any contiguous slice of the output then contains each
    domain in proportion to its size — the property that makes
    sequential-read training sample the mixture correctly.

    Scale shape: one per-group window (a single-shuffle rank) + the
    two-phase global rank from operators/rank (range sort +
    partition-offset join, no single-partition window over the data).
    """
    from .rank import global_rank

    n_w = W.partitionBy(group_col)
    order_key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    rk = W.partitionBy(group_col).orderBy(order_key, F.col(id_col))
    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.row_number().over(rk).cast("long").alias("domain_rank"),
        F.count(F.lit(1)).over(n_w).cast("long").alias("domain_n"),
    ).withColumn(
        "stride_frac",
        (F.col("domain_rank").cast("double") - F.lit(0.5)) / F.col("domain_n"),
    )
    out = global_rank(
        ranked,
        [F.col("stride_frac").asc(), F.col(group_col).asc(), F.col(id_col).asc()],
        out="position",
    )
    return out.select(
        "position",
        id_col,
        group_col,
        "domain_rank",
        "domain_n",
        F.round("stride_frac", 6).alias("stride_frac"),
    )
