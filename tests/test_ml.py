"""ML-surface tests: group splits, balanced weights, PCA-by-variance,
end-to-end pipeline fit + eval."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.ml import pipeline as P
from fantasy_premier_league_spark.ml import splits as S


@pytest.fixture(scope="module")
def clf_data(spark):
    # 200 entities x 5 rows; label correlated with f1, noise in f2/f3
    rng = np.random.default_rng(42)
    rows = []
    for e in range(200):
        for _ in range(5):
            f1 = rng.standard_normal()
            f2 = rng.standard_normal()
            f3 = 0.95 * f1 + 0.05 * rng.standard_normal()  # near-duplicate of f1
            label = int(f1 + 0.3 * rng.standard_normal() > 0)
            rows.append((f"e{e}", float(f1), float(f2), float(f3), label))
    return spark.createDataFrame(rows, "entity string, f1 double, f2 double, f3 double, label int")


class TestSplits:
    def test_entity_split_no_leakage(self, clf_data):
        train, test = S.entity_train_test_split(clf_data, entity="entity", test_fraction=0.3)
        tr = {r["entity"] for r in train.select("entity").distinct().collect()}
        te = {r["entity"] for r in test.select("entity").distinct().collect()}
        assert tr and te and not (tr & te)
        frac = len(te) / (len(tr) + len(te))
        assert 0.2 < frac < 0.4

    def test_group_fold_constant_per_entity(self, clf_data):
        folded = S.with_group_fold(clf_data, entity="entity", k=4)
        per_entity = folded.groupBy("entity").agg(F.countDistinct("fold").alias("nf"))
        assert per_entity.filter(F.col("nf") > 1).count() == 0
        assert folded.select("fold").distinct().count() == 4

    def test_grouped_cv_runs_k_models(self, clf_data):
        def fit(train):
            return float(train.agg(F.avg("f1")).first()[0])

        def ev(model, test):
            return float(test.count())

        scores = S.cross_validate_grouped(clf_data, entity="entity", k=3, fit_fn=fit, eval_fn=ev)
        assert len(scores) == 3
        assert sum(scores) == clf_data.count()


class TestPipeline:
    def test_balanced_weights(self, spark):
        df = spark.createDataFrame([(1,)] * 30 + [(0,)] * 10, "label int")
        w = P.add_balanced_weights(df, label="label")
        got = {r["label"]: r["weight"] for r in w.select("label", "weight").distinct().collect()}
        assert got[1] == pytest.approx(40 / (2 * 30))
        assert got[0] == pytest.approx(40 / (2 * 10))

    def test_balanced_weights_match_join_formula_with_null_labels(self, spark):
        df = spark.createDataFrame(
            [(0,)] * 12 + [(1,)] * 5 + [(2,)] * 3 + [(None,)] * 4, "label int"
        )
        # the broadcast-join formula the literal CASE replaced
        counts = df.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
        totals = counts.agg(F.sum("n_c").alias("n"), F.count(F.lit(1)).alias("k"))
        joined = counts.crossJoin(totals).select("label", (F.col("n") / (F.col("k") * F.col("n_c"))).alias("w"))
        expect = {r["label"]: r["w"] for r in df.join(joined, "label", "left").distinct().collect()}
        got = {r["label"]: r["weight"] for r in P.add_balanced_weights(df, label="label").distinct().collect()}
        assert got == expect
        # n = 24 and k = 4 count the null-label rows; they get no weight
        assert got == {0: 24 / (4 * 12), 1: 24 / (4 * 5), 2: 24 / (4 * 3), None: None}

    def test_pca_by_variance_detects_redundancy(self, clf_data):
        from pyspark.ml.feature import VectorAssembler

        assembled = VectorAssembler(inputCols=["f1", "f2", "f3"], outputCol="feats").transform(clf_data)
        # f3 ~ f1 → 2 components carry >= 95% variance
        assert P.choose_pca_k(assembled, features_col="feats", variance=0.95) == 2
        assert P.choose_pca_k(assembled, features_col="feats", variance=0.9999) == 3

    def test_end_to_end_lr_beats_chance(self, clf_data):
        train, test = S.entity_train_test_split(clf_data, entity="entity", test_fraction=0.25)
        train = P.add_balanced_weights(train, label="label")
        test = test.withColumn("weight", F.lit(1.0))
        pipe = P.make_classifier_pipeline(feature_cols=["f1", "f2", "f3"], label="label")
        model = pipe.fit(train)
        metrics = P.evaluate_binary(model.transform(test), label="label")
        assert metrics["roc_auc"] > 0.85
        assert metrics["accuracy"] > 0.75

    def test_baseline_heuristic(self, clf_data):
        m = P.baseline_prediction(clf_data, predictor="f1", threshold=0.0, label="label")
        assert m["accuracy"] > 0.75  # f1>0 is a strong baseline by construction


@pytest.fixture(scope="module")
def fpl_season(spark):
    """A deterministic FPL-shaped season (M1.ipynb's will-a-player-play
    task): per-player nailedness classes (starter/rotation/fringe),
    injury spells announced via a news flag BEFORE the gameweek, minutes
    drawn only when fit and selected. The news flag is the information
    edge a trained model has over the reference's previous_minutes>0
    heuristic (M1.ipynb § 6)."""
    rng = np.random.default_rng(7)
    rows = []
    for pid in range(250):
        role = rng.choice([0.95, 0.6, 0.08], p=[0.5, 0.3, 0.2])
        strength = int(rng.integers(1, 6))
        injured_until = -1
        for gw in range(1, 15):
            news = 0
            if gw <= injured_until:
                news = 1
            elif rng.random() < 0.06:
                injured_until = gw + int(rng.integers(1, 4))
                news = 1
            plays = 0 if news else int(rng.random() < role)
            minutes = int(rng.integers(60, 91)) if plays else 0
            points = int(max(0, rng.poisson(3 if plays else 0)))
            rows.append((pid, gw, minutes, points, news, strength))
    return spark.createDataFrame(
        rows,
        "player_id long, gameweek int, minutes int, total_points int, "
        "news_flag int, team_strength int",
    )


class TestModelQualityParity:
    """M5 evidence: the reference trains XGBClassifier (M1.ipynb § 14); the
    engine maps it to GBTClassifier — same surface, different algorithm.
    This pins the MODEL-QUALITY side of that mapping: on the FPL-shaped
    season, the GBT mapping, LR, AND RandomForest (the reference's other
    production model, M2.ipynb § 13 — a direct Spark equivalent, not a
    mapping) must beat the reference's own baseline heuristic
    (previous_minutes>0, M1.ipynb § 6) on held-out players, with
    evaluator outputs pinned under fixed seeds."""

    FEATS = [
        "previous_minutes",
        "previous_total_points",
        "minutes_rolling",
        "news_flag",
        "team_strength",
    ]

    def _features(self, fpl_season):
        from fantasy_premier_league_spark.functions.features import add_lag_features
        from pyspark.sql import Window as W

        lagged = add_lag_features(
            fpl_season, entity="player_id", order="gameweek",
            cols=["minutes", "total_points"],
        )
        w5 = W.partitionBy("player_id").orderBy("gameweek").rowsBetween(-5, -1)
        return (
            lagged.withColumn("minutes_rolling", F.avg("minutes").over(w5))
            .withColumn("label", (F.col("minutes") > 0).cast("int"))
            .filter(F.col("gameweek") >= 2)
            .na.fill(0)
        )

    @pytest.mark.parametrize(
        "clf,pinned_auc,pinned_acc",
        [("lr", 0.877, 0.795), ("gbt", 0.867, 0.796), ("rf", 0.879, 0.797)],
    )
    def test_trained_model_beats_reference_baseline(
        self, fpl_season, clf, pinned_auc, pinned_acc
    ):
        feat = self._features(fpl_season)
        train, test = S.entity_train_test_split(
            feat, entity="player_id", test_fraction=0.3, seed=42
        )
        baseline = P.baseline_prediction(
            test, predictor="previous_minutes", threshold=1.0, label="label"
        )
        assert baseline["accuracy"] == pytest.approx(0.728, abs=0.02)
        train = P.add_balanced_weights(train, label="label")
        test = test.withColumn("weight", F.lit(1.0))
        pipe = P.make_classifier_pipeline(
            feature_cols=self.FEATS, label="label", classifier=clf
        )
        m = P.evaluate_binary(pipe.fit(train).transform(test), label="label")
        # pinned evaluator outputs (fixed data seed 7, split seed 42,
        # model seed 42; tolerance absorbs float-combine ordering only)
        assert m["roc_auc"] == pytest.approx(pinned_auc, abs=0.02)
        assert m["accuracy"] == pytest.approx(pinned_acc, abs=0.02)
        # the parity claim itself: trained model > reference heuristic
        assert m["accuracy"] > baseline["accuracy"] + 0.03
        assert m["roc_auc"] > 0.84
