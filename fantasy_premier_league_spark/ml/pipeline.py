"""MLlib pipeline construction (SURVEY §2.10 M1-M8, M11-M12).

Reference models: will-a-player-play (M1.ipynb) and will-they-score-4+
(M2.ipynb): StandardScaler → PCA(0.95 variance) → [SelectKBest] →
LogisticRegression/XGB/RandomForest with class_weight='balanced', GridSearch
over a grouped CV. The MLlib mapping:

- scaler/PCA/selector/classifiers → ml.feature / ml.classification stages
- ``PCA(n_components=0.95)`` has no MLlib equivalent → two-fit wrapper
  (:func:`choose_pca_k`): fit full-rank once, read the explained-variance
  cumsum, refit at k.
- ``class_weight='balanced'`` → explicit weightCol (:func:`add_balanced_weights`).
- grid search → ml.tuning.ParamGridBuilder + the group-aware CV in splits.py.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import GBTClassifier, LogisticRegression, RandomForestClassifier
from pyspark.ml.evaluation import BinaryClassificationEvaluator, MulticlassClassificationEvaluator
from pyspark.ml.feature import PCA, StandardScaler, UnivariateFeatureSelector, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the class-weight column :func:`add_balanced_weights` writes and every
#: classifier of :func:`make_classifier_pipeline` reads as its weightCol
WEIGHT_COL = "weight"


def add_balanced_weights(df: DataFrame, *, label: str) -> DataFrame:
    """M4: sklearn class_weight='balanced' ≙ w_c = n / (n_classes * n_c),
    written to ``WEIGHT_COL``.

    One action collects the k per-class counts (k rows, never the data
    rows); the weights go back as a literal ``CASE`` on the label, so later
    passes over the frame do not re-run the count. A null label is its own
    class in n and k but gets a null weight, as a join on the label would
    give it.
    """
    counts = df.groupBy(label).agg(F.count(F.lit(1)).alias("n_c")).collect()
    n, k = sum(r["n_c"] for r in counts), len(counts)
    weight = None
    for r in counts:
        if r[label] is None:
            continue
        hit, w = F.col(label) == F.lit(r[label]), F.lit(n / (k * r["n_c"]))
        weight = F.when(hit, w) if weight is None else weight.when(hit, w)
    return df.withColumn(WEIGHT_COL, F.lit(None).cast("double") if weight is None else weight)


def choose_pca_k(train: DataFrame, *, features_col: str, variance: float = 0.95) -> int:
    """M2: smallest k whose cumulative explained variance >= ``variance``.
    One full-rank fit, read the spectrum, caller refits at k."""
    dim = len(train.select(features_col).first()[0])
    probe = PCA(k=dim, inputCol=features_col, outputCol="__pca_probe").fit(train)
    cum = 0.0
    for i, v in enumerate(probe.explainedVariance):
        cum += float(v)
        if cum >= variance:
            return i + 1
    return dim


_CLASSIFIERS = {
    "lr": lambda label, feats, weight: LogisticRegression(
        labelCol=label, featuresCol=feats, weightCol=weight, maxIter=50
    ),
    "rf": lambda label, feats, weight: RandomForestClassifier(
        labelCol=label, featuresCol=feats, weightCol=weight, numTrees=50, seed=42
    ),
    "gbt": lambda label, feats, weight: GBTClassifier(
        labelCol=label, featuresCol=feats, weightCol=weight, maxIter=30, seed=42
    ),
}


def make_classifier_pipeline(
    *,
    feature_cols: list[str],
    label: str,
    classifier: str = "lr",
    standardize: bool = True,
    pca_k: int | None = None,
    select_top_k: int | None = None,
) -> Pipeline:
    """M7: assembler → [scaler] → [PCA(k)] → [ANOVA-F selector] → classifier.

    ``pca_k`` comes from :func:`choose_pca_k`; ``select_top_k`` maps
    SelectKBest(f_classif) onto UnivariateFeatureSelector (M3).
    """
    stages = [VectorAssembler(inputCols=list(feature_cols), outputCol="__raw", handleInvalid="keep")]
    feats = "__raw"
    if standardize:
        stages.append(StandardScaler(inputCol=feats, outputCol="__scaled", withMean=True))
        feats = "__scaled"
    if pca_k is not None:
        stages.append(PCA(k=pca_k, inputCol=feats, outputCol="__pca"))
        feats = "__pca"
    if select_top_k is not None:
        sel = UnivariateFeatureSelector(
            featuresCol=feats, outputCol="__sel", labelCol=label, selectionMode="numTopFeatures"
        )
        sel.setFeatureType("continuous").setLabelType("categorical").setSelectionThreshold(select_top_k)
        stages.append(sel)
        feats = "__sel"
    stages.append(_CLASSIFIERS[classifier](label, feats, WEIGHT_COL))
    return Pipeline(stages=stages)


def grid_search_grouped(
    df: DataFrame,
    *,
    pipeline: Pipeline,
    param_grid: list[dict],
    entity: str,
    k: int = 3,
    label: str,
    metric: str = "areaUnderROC",
    seed: int = 42,
) -> dict:
    """M8+M9: grid search over a group-aware k-fold (GridSearchCV with
    GroupKFold, M1.ipynb § 13-18). ``param_grid`` is ParamGridBuilder
    output. Returns {'best_params', 'best_score', 'scores'} with scores a
    list of (param_map, mean_metric). The grid x fold loop is driver-side
    orchestration; every fit/eval is a cluster job over the cached folds."""
    from .splits import with_group_fold

    evaluator = BinaryClassificationEvaluator(
        labelCol=label, rawPredictionCol="rawPrediction", metricName=metric
    )
    folded = with_group_fold(df, entity=entity, k=k, seed=seed).cache()
    try:
        scores = []
        for params in param_grid:
            fold_scores = []
            for fold in range(k):
                train = folded.filter(F.col("fold") != fold)
                test = folded.filter(F.col("fold") == fold)
                model = pipeline.copy(params).fit(train)
                fold_scores.append(evaluator.evaluate(model.transform(test)))
            scores.append((params, sum(fold_scores) / k))
        best_params, best_score = max(scores, key=lambda s: s[1])
        return {"best_params": best_params, "best_score": best_score, "scores": scores}
    finally:
        folded.unpersist()


def evaluate_binary(predictions: DataFrame, *, label: str) -> dict[str, float]:
    """M11: ROC AUC + accuracy on a transformed frame."""
    auc = BinaryClassificationEvaluator(
        labelCol=label, rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(predictions)
    acc = MulticlassClassificationEvaluator(
        labelCol=label, predictionCol="prediction", metricName="accuracy"
    ).evaluate(predictions)
    return {"roc_auc": float(auc), "accuracy": float(acc)}


def baseline_prediction(df: DataFrame, *, predictor: str, threshold: float, label: str) -> dict[str, float]:
    """M12: heuristic baseline (previous_minutes > 0 / previous_points >= 4,
    M1.ipynb § 6): accuracy of ``predictor >= threshold`` against ``label``."""
    row = df.select(
        F.avg((((F.col(predictor) >= threshold).cast("int")) == F.col(label)).cast("double")).alias("acc"),
        F.avg(F.col(label).cast("double")).alias("rate"),
    ).first()
    return {"accuracy": float(row["acc"]), "target_rate": float(row["rate"])}
