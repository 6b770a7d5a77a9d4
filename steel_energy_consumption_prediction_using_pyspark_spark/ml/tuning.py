"""Tuning wrappers (reference M14-M16: ParamGridBuilder +
TrainValidationSplit(trainRatio=0.8, metric=r2) at SteelPred.py:318-319
and CrossValidator(numFolds=3) at SteelPred.py:464-473).

`parallelism` defaults to 4 here — the reference left it at 1
(serial grid evaluation); on a cluster raise it toward the number of
concurrently schedulable jobs.

Both wrappers call the estimator's ``fitMultiple`` once per split (per
fold for ``cv_fit``). Given the engine's ``ml.pipeline.Pipeline`` and
a grid over the last stage's params only (the reference grids tune the
regressor), the feature prefix is fitted once per split and shared by
every grid point's model; a grid that touches a feature stage fits
the whole pipeline per grid point, as stock Spark does. The best
model's refit on the full input fits everything once more.
"""

from __future__ import annotations

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.tuning import CrossValidator, TrainValidationSplit
from pyspark.sql import DataFrame


def _evaluator(metric: str = "r2", label_col: str = "Usage_kWh") -> RegressionEvaluator:
    return RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName=metric
    )


def tvs_fit(
    pipeline,
    grid: list,
    train: DataFrame,
    train_ratio: float = 0.8,
    metric: str = "r2",
    label_col: str = "Usage_kWh",
    parallelism: int = 4,
    seed: int = 42,
):
    tvs = TrainValidationSplit(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=_evaluator(metric, label_col),
        trainRatio=train_ratio,
        parallelism=parallelism,
        seed=seed,
    )
    return tvs.fit(train)


def cv_fit(
    pipeline,
    grid: list,
    train: DataFrame,
    num_folds: int = 3,
    metric: str = "r2",
    label_col: str = "Usage_kWh",
    parallelism: int = 4,
    seed: int = 42,
):
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=_evaluator(metric, label_col),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )
    return cv.fit(train)
