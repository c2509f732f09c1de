"""Detector protocol — the engine's user-facing extension point.

The reference's extension point is the ModelBasedPredictor Java class
hierarchy (/root/reference/src/main/java/org/beymani/predictor/
ModelBasedPredictor.java:32); ours is a small Python protocol over
DataFrames:

    class Detector(Protocol):
        def fit(self, df) -> DataFrame | Model  # the fitted model
        def score(self, df, model) -> DataFrame  # df + score + label

A model is a DataFrame, or for the isolation forest a
``multivariate.Model`` whose ``frame`` is that DataFrame. Persist the
DataFrame with ``.write.parquet`` and reload it for scoring — replacing
the reference's text side-files: every built-in ``score`` takes the
reloaded DataFrame as well as what ``fit`` returned. Each built-in
detector below wraps the functional operators; user detectors just
implement the same two methods.
"""
from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame

from ..operators import multivariate, profile, zscore


@runtime_checkable
class Detector(Protocol):
    def fit(self, df: DataFrame) -> DataFrame | multivariate.Model: ...

    def score(
        self, df: DataFrame, model: DataFrame | multivariate.Model
    ) -> DataFrame: ...


@dataclass
class ZScoreDetector:
    keys: Sequence[str]
    values: Sequence[str]
    threshold: float = 3.0
    exp_const: float = 0.0
    cycle: str | None = None
    ts: str | None = None
    weights: Sequence[float] | None = None
    strategy: str = "average"

    def fit(self, df: DataFrame) -> DataFrame:
        return profile.numerical_stats(df, self.keys, self.values, self.cycle, self.ts)

    def score(self, df: DataFrame, model: DataFrame) -> DataFrame:
        return zscore.zscore(
            df, model, self.keys, self.values, self.weights, self.strategy,
            self.threshold, self.exp_const, self.cycle, self.ts,
        )


@dataclass
class IsolationForestDetector:
    keys: Sequence[str]
    values: Sequence[str]
    num_trees: int = 100
    subsample: int = 256
    seed: int = 42
    threshold: float = 0.6

    def fit(self, df: DataFrame) -> multivariate.Model:
        return multivariate.isolation_forest_fit(
            df, self.keys, self.values, self.num_trees, self.subsample, self.seed
        )

    def score(
        self, df: DataFrame, model: DataFrame | multivariate.Model
    ) -> DataFrame:
        if not isinstance(model, multivariate.Model):  # a reloaded frame
            model = multivariate.materialize(model)
        return multivariate.isolation_forest_score(
            df, model, self.keys, self.values, self.threshold
        )


@dataclass
class MahalanobisDetector:
    keys: Sequence[str]
    values: Sequence[str]
    threshold: float = 9.0

    def fit(self, df: DataFrame) -> DataFrame:
        return multivariate.mahalanobis_model(df, self.keys, self.values)

    def score(self, df: DataFrame, model: DataFrame) -> DataFrame:
        return multivariate.mahalanobis_score(
            df, model, self.keys, self.values, self.threshold
        )
