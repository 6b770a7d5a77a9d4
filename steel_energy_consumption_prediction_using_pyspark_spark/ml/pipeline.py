"""Feature pipeline (reference M1-M4, SteelPred.py:168-180).

Stage layout matches the persisted reference artifact
(`pipeline/metadata` + `pipeline/stages/{0..5}_*`): three
StringIndexers (frequencyDesc, the default — most frequent label → 0)
→ VectorAssembler over the 6 numeric + 3 indexed columns with
handleInvalid="skip" (the reference's implicit null filter, P7) →
StandardScaler (withStd, no mean — the reference defaults).

One deliberate divergence (reference quirk Q1, SURVEY.md §2.13): the
reference saves the UNFITTED Pipeline (class
org.apache.spark.ml.Pipeline in pipeline/metadata/part-*.txt:1); this
engine persists the fitted PipelineModel, which is what serving needs.

:class:`Pipeline` is ``pyspark.ml.Pipeline`` with two job-count cuts
that leave every fitted value, uid and saved param unchanged:

- ``_fit`` fits the leading run of one-column StringIndexers with ONE
  multi-column aggregation (stock Spark runs one job per indexer) and
  splits its ``labelsArray`` into per-column models, each built with
  its estimator's uid and ``_copyValues`` — what Scala's
  ``copyValues(new StringIndexerModel(uid, labels))`` returns — so the
  persisted 6-stage layout is the stock one;
- ``fitMultiple`` (the tuning entry, ml/tuning.py) fits everything
  before the last stage once per dataset when every grid param
  belongs to the last stage, instead of once per grid point.
"""

from __future__ import annotations

from pyspark.ml import Estimator, PipelineModel
from pyspark.ml import Pipeline as _SparkPipeline
from pyspark.ml.base import _FitMultipleIterator
from pyspark.ml.feature import (
    StandardScaler,
    StringIndexer,
    StringIndexerModel,
    VectorAssembler,
)
from pyspark.sql import DataFrame

# Reference feature sets (SteelPred.py:168-172).
CATEGORICAL_COLS = ["Day_of_week", "Load_Type", "WeekStatus"]
NUMERIC_COLS = [
    "Lagging_Current_Reactive_Power_kVarh",
    "Leading_Current_Reactive_Power_kVarh",
    "CO2",
    "Lagging_Current_Power_Factor",
    "Leading_Current_Power_Factor",
    "NSM",
]
LABEL_COL = "Usage_kWh"


def feature_stages(
    categorical: list[str] | None = None,
    numeric: list[str] | None = None,
    scaled_col: str = "scaledFeatures",
) -> list:
    categorical = CATEGORICAL_COLS if categorical is None else categorical
    numeric = NUMERIC_COLS if numeric is None else numeric
    indexers = [
        StringIndexer(inputCol=c, outputCol=f"{c}_index") for c in categorical
    ]
    assembler = VectorAssembler(
        inputCols=numeric + [f"{c}_index" for c in categorical],
        outputCol="features",
        handleInvalid="skip",
    )
    scaler = StandardScaler(inputCol="features", outputCol=scaled_col)
    return [*indexers, assembler, scaler]


def _leading_indexers(stages: list) -> int:
    """Length of the leading run of one-column StringIndexers that one
    multi-column fit can replace: same stringOrderType, and no indexer
    reads a column an earlier one of the run writes."""
    n, written = 0, set()
    for st in stages:
        if (
            type(st) is not StringIndexer
            or not st.isDefined(st.inputCol)
            or st.isSet(st.inputCols)
            or st.getInputCol() in written
            or st.getStringOrderType() != stages[0].getStringOrderType()
        ):
            break
        written.add(st.getOutputCol())
        n += 1
    return n


def _fit_indexers(indexers: list, dataset: DataFrame) -> list:
    """Fit one-column StringIndexers with one aggregation: a
    multi-column StringIndexer computes every column's labels in one
    job, with the same per-column counting and tie order as a
    one-column fit; its labelsArray is then split into per-column
    models carrying each estimator's uid and params."""
    from pyspark import SparkContext

    fused = StringIndexer(
        inputCols=[st.getInputCol() for st in indexers],
        outputCols=[st.getOutputCol() for st in indexers],
        stringOrderType=indexers[0].getStringOrderType(),
    ).fit(dataset)
    jstring = SparkContext._gateway.jvm.java.lang.String
    models = []
    for st, labels in zip(indexers, fused.labelsArray):
        jmodel = StringIndexerModel._new_java_obj(
            "org.apache.spark.ml.feature.StringIndexerModel",
            st.uid,
            StringIndexerModel._new_java_array(list(labels), jstring),
        )
        models.append(st._copyValues(StringIndexerModel(jmodel)))
    return models


class Pipeline(_SparkPipeline):
    """``pyspark.ml.Pipeline`` that fits the leading StringIndexers in
    one pass and, under tuning, fits the feature prefix once per
    dataset (module docstring). Fitted models are stock
    ``PipelineModel``s."""

    def _fit(self, dataset: DataFrame) -> PipelineModel:
        stages = self.getStages()
        n = _leading_indexers(stages)
        if n < 2:
            return super()._fit(dataset)
        models = _fit_indexers(stages[:n], dataset)
        for m in models:
            dataset = m.transform(dataset)
        rest = _SparkPipeline(stages=stages[n:])._fit(dataset)
        return PipelineModel([*models, *rest.stages])

    def fitMultiple(self, dataset: DataFrame, paramMaps):
        stages = self.getStages()
        last = stages[-1] if stages else None
        if not isinstance(last, Estimator) or any(
            p.parent != last.uid for pm in paramMaps for p in pm
        ):
            return super().fitMultiple(dataset, paramMaps)
        prefix = Pipeline(stages=stages[:-1]).fit(dataset)
        features = prefix.transform(dataset)

        def fit_one(i: int) -> PipelineModel:
            return PipelineModel([*prefix.stages, last.fit(features, paramMaps[i])])

        return _FitMultipleIterator(fit_one, len(paramMaps))


def build_pipeline(regressor, **kwargs) -> Pipeline:
    """6-stage pipeline: features + regressor (reference
    SteelPred.py:178-180)."""
    return Pipeline(stages=[*feature_stages(**kwargs), regressor])


def save_fitted(model: PipelineModel, path: str) -> None:
    model.write().overwrite().save(path)


def load_fitted(path: str) -> PipelineModel:
    return PipelineModel.load(path)
