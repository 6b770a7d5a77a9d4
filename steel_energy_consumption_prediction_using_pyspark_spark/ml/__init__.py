from steel_energy_consumption_prediction_using_pyspark_spark.ml.pipeline import (
    CATEGORICAL_COLS,
    NUMERIC_COLS,
    Pipeline,
    build_pipeline,
    feature_stages,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.models import (
    baseline_regressors,
    param_grids,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.evaluate import (
    METRICS,
    comparison_table,
    evaluate_predictions,
)

__all__ = [
    "CATEGORICAL_COLS",
    "NUMERIC_COLS",
    "METRICS",
    "Pipeline",
    "baseline_regressors",
    "build_pipeline",
    "comparison_table",
    "evaluate_predictions",
    "feature_stages",
    "param_grids",
]
