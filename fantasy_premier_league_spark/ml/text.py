"""News-text ML features (SURVEY §2.10 M13; M1.ipynb § 23-29).

The reference cleans player news strings (lower, strip non-[a-z|\\s|\\d],
collapse whitespace), removes stopwords, vectorizes 1-3-grams with
CountVectorizer(max_df, max_features) and fits LDA topics. MLlib mapping:
regexp clean → Tokenizer-equivalent split → StopWordsRemover → NGram
stages unioned into one bag → CountVectorizer → LDA, one Pipeline.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.clustering import LDA
from pyspark.ml.feature import CountVectorizer, NGram, SQLTransformer, StopWordsRemover
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clean_text_column(df: DataFrame, *, text_col: str) -> DataFrame:
    """M1 § 24 normalization into ``text_clean``: lower, strip to
    [a-z 0-9 space], collapse."""
    c = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    c = F.regexp_replace(c, r"[^a-z\s\d]", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn("text_clean", c)


def build_topic_pipeline(
    *, n_topics: int = 5, vocab_size: int = 500, min_df: float = 1.0, max_ngram: int = 3,
    seed: int = 42, lda_max_iter: int = 20
) -> Pipeline:
    """M13: tokens → stopword removal → 1..max_ngram bag → counts → LDA."""
    stages = [
        SQLTransformer(statement="SELECT *, split(text_clean, ' ') AS __tok FROM __THIS__"),
        StopWordsRemover(inputCol="__tok", outputCol="__tok_clean"),
    ]
    gram_cols = ["__tok_clean"]
    for n in range(2, max_ngram + 1):
        stages.append(NGram(n=n, inputCol="__tok_clean", outputCol=f"__gram{n}"))
        gram_cols.append(f"__gram{n}")
    concat_expr = f"concat({', '.join(gram_cols)}) AS __bag"
    stages.append(SQLTransformer(statement=f"SELECT *, {concat_expr} FROM __THIS__"))
    stages.append(CountVectorizer(inputCol="__bag", outputCol="__counts", vocabSize=vocab_size, minDF=min_df))
    stages.append(LDA(k=n_topics, featuresCol="__counts", seed=seed, maxIter=lda_max_iter))
    return Pipeline(stages=stages)


def topic_features(df: DataFrame, *, text_col: str, n_topics: int = 5, **kwargs) -> tuple[PipelineModel, DataFrame]:
    """Fit topics over a text column; returns (model, frame + topicDistribution).

    Fits the stages manually instead of ``Pipeline.fit`` so the two
    expensive frames cache across consumers: the n-gram bag feeds the
    CountVectorizer fit AND its transform, and the VECTORIZED counts
    frame feeds every LDA iteration (the online optimizer samples a
    minibatch per round — uncached, each round re-runs the whole
    regexp/tokenize/ngram/vectorize chain over its sample). Both persists
    are tracked (released with the operator caches); the returned
    PipelineModel is the same stage list ``Pipeline.fit`` would produce.
    """
    from ..catalog import spread_partitions
    from ..operators.cache import tracked_persist

    # single-file corpora scan as 1-3 partitions and BOTH cached frames
    # inherit that: every LDA round's treeAggregate and the CountVectorizer
    # vocabulary flatMap then run on one core (profiled at sf0.1: eight
    # 1-task 28MB stages back to back). Spread BEFORE the cache so the
    # fits parallelize; no-op at real scale. Output-safe: the oracle'd
    # projection is per-row deterministic (vocab/topic tie-breaks stay
    # out of it by the v71 oracle contract).
    cleaned = spread_partitions(clean_text_column(df, text_col=text_col))
    stages = build_topic_pipeline(n_topics=n_topics, **kwargs).getStages()
    pre, cv, lda = stages[:-2], stages[-2], stages[-1]
    bag = cleaned
    for s in pre:  # all pure Transformers (SQL, stopwords, ngram, concat)
        bag = s.transform(bag)
    bag = tracked_persist(bag)
    cvm = cv.fit(bag)
    counts = tracked_persist(cvm.transform(bag))
    ldam = lda.fit(counts)
    model = PipelineModel(stages=list(pre) + [cvm, ldam])
    return model, ldam.transform(counts)
