"""PercentageCalc as a custom MLlib Estimator/Model pair (SURVEY M7).

Reference: modelling/helpers.py:7-70 — fit memorizes per-group totals of
the variables (sum / constant); transform divides each row's value by its
group total, 0-filling; groups unseen at fit time get totals computed from
the transform data itself (:57-64, the unseen-gameweek fallback).

Spark shape: totals are a small keyed DataFrame (one row per group) that
broadcast-joins onto any input — fit state lives in a DataFrame, not on
the driver, so the same code serves 38 gameweeks or 38 million groups.
"""

from __future__ import annotations

from pyspark.ml import Estimator, Model
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PercentageCalc(Estimator):
    def __init__(self, *, by_group: str, variables: list[str], constant: float = 15.0,
                 final_suffix: str = "_perc", drop_originals: bool = True):
        super().__init__()
        self.by_group = by_group
        self.variables = list(variables)
        self.constant = constant
        self.final_suffix = final_suffix
        self.drop_originals = drop_originals

    def _totals(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self.by_group).agg(
            *[(F.sum(v) / self.constant).alias(f"__tot_{v}") for v in self.variables]
        )

    def _fit(self, dataset: DataFrame) -> "PercentageCalcModel":
        return PercentageCalcModel(self, self._totals(dataset))


class PercentageCalcModel(Model):
    def __init__(self, est: PercentageCalc, totals: DataFrame):
        super().__init__()
        self._est = est
        self.totals = totals

    def _transform(self, dataset: DataFrame) -> DataFrame:
        e = self._est
        # unseen-group fallback: totals for groups absent at fit time are
        # computed from the transform data (helpers.py:57-64)
        unseen = dataset.join(self.totals.select(e.by_group), e.by_group, "left_anti")
        new_totals = e._totals(unseen)
        all_totals = self.totals.unionByName(new_totals)
        out = dataset.join(F.broadcast(all_totals), e.by_group, "left")
        for v in e.variables:
            # try_divide: zero/absent totals → null → 0-fill (helpers.py:47)
            ratio = F.try_divide(F.col(v), F.col(f"__tot_{v}"))
            out = out.withColumn(f"{v}{e.final_suffix}", F.coalesce(ratio, F.lit(0.0)))
        drop = [f"__tot_{v}" for v in e.variables]
        if e.drop_originals:
            drop += e.variables
        return out.drop(*drop)
