"""Distributed BPE merge training (byte-pair encoding, fixed rounds).

Trains BPE the way the standard tokenizer libraries do — on the WORD
FREQUENCY table, not the raw token stream (Sennrich et al. 2016,
arXiv:1508.07909). That choice is what makes it distributable: after one
linear pass builds the vocab-sized ``(word, count)`` table, every merge
round touches only that table, so per-round state and shuffle keys are
vocabulary-sized no matter how large the corpus is.

Each word is encoded as a delimited symbol string — ``"low"`` →
``"(l)(o)(w)"`` — so a merge of the pair ``(a, b)`` is a plain
left-to-right non-overlapping string replace of ``"(a)(b)"`` with
``"(ab)"``. Because every symbol carries its own delimiters, adjacent
matches never share a boundary character and ``replace`` semantics are
identical in Spark and ANSI SQL — the oracle unrolls the rounds as CTEs
(the PageRank q48 pattern) and the whole training run is value-hash
checked against DuckDB.

Per round:
- adjacent pairs from the current symbolization, weighted by word count
  — one vocab-keyed groupBy with map-side partial agg;
- argmax pair with a deterministic tie-break (count desc, pair asc) — a
  ONE-ROW driver readback, the same bounded-scalar contract as the
  convergence probes in operators/dedup.py;
- the merge applied as a narrow projection (string replace) on the
  persisted vocab frame.

At 100 TB the corpus is read once; rounds cost vocab-sized work. The
driver only ever holds one (pair, count) row per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, IntegerType, StringType, StructField, StructType

from .cache import tracked_persist
from .dedup import words
from .local import local_frame

MERGE_SCHEMA = StructType(
    [
        StructField("merge_idx", IntegerType(), False),
        StructField("left_tok", StringType(), False),
        StructField("right_tok", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _adjacent_pairs(sym: F.Column) -> F.Column:
    """Adjacent symbol pairs of a ``"(a)(b)(c)"`` encoding as ``"a b"`` strings."""
    toks = F.regexp_extract_all(sym, F.lit(r"\(([^)]*)\)"), 1)
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))


def bpe_train_merges(
    df: DataFrame, id_col: str, text_col: str, *, n_merges: int = 3
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a document corpus.

    Returns the learned merge table (the tokenizer artifact)::

        merge_idx, left_tok, right_tok, merged, pair_count

    ``pair_count`` is the corpus-weighted frequency of the pair at the
    round it was chosen. Stops early (fewer rows) if the vocabulary runs
    out of adjacent pairs.
    """
    spark = df.sparkSession
    vocab = tracked_persist(
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("sym", F.regexp_replace(F.col("word"), "(.)", r"($1)"))
    )

    merges: list[tuple[int, str, str, str, int]] = []
    cur = vocab
    for i in range(1, n_merges + 1):
        top = (
            cur.select(F.explode(_adjacent_pairs(F.col("sym"))).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        left, right = pair.split(" ", 1)
        merged = left + right
        merges.append((i, left, right, merged, cnt))
        cur = cur.withColumn(
            "sym",
            F.replace(
                F.col("sym"), F.lit(f"({left})({right})"), F.lit(f"({merged})")
            ),
        )

    return local_frame(spark, merges, MERGE_SCHEMA)


def bpe_apply(df: DataFrame, text_col: str, merges: list[tuple[str, str]]) -> F.Column:
    """Column of per-document token counts AFTER applying learned merges.

    ``merges`` is the ordered [(left, right), ...] list from
    :func:`bpe_train_merges` (driver-side, tokenizer-artifact-sized).
    Counting is a pure narrow expression: encode each word, apply each
    merge as a string replace in learned order, count remaining symbols.

    The expression nests one ``replace`` per merge, so this inline form
    is for merge lists up to the low hundreds (codegen depth); a full
    32k-merge production vocabulary belongs in an Arrow-batched pandas
    UDF wrapping a real tokenizer, with this as its oracle-checkable
    reference semantics.
    """
    w = words(F.col(text_col))
    sym = lambda t: F.regexp_replace(t, "(.)", r"($1)")  # noqa: E731

    def merged_sym(t: F.Column) -> F.Column:
        s = sym(t)
        for left, right in merges:
            s = F.replace(s, F.lit(f"({left})({right})"), F.lit(f"({left}{right})"))
        return s

    per_word = F.transform(
        w, lambda t: F.size(F.regexp_extract_all(merged_sym(t), F.lit(r"\(([^)]*)\)"), 1))
    )
    return F.aggregate(per_word, F.lit(0), lambda acc, x: acc + x)
