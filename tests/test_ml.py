"""ML surface tests (SURVEY.md §5 strategy: golden-replica EDA pins +
metamorphic model invariants — RNG-bearing fits can't be value-golden).

Mirrors the reference workload end-to-end on the synthetic steel
fixture: EDA aggregates → split → feature pipeline → regressors →
evaluator → tuning → persistence.
"""

import math

import pytest
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.ml.evaluate import (
    evaluate_predictions,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.models import (
    baseline_regressors,
    param_grids,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.pipeline import (
    Pipeline,
    build_pipeline,
    feature_stages,
    load_fitted,
    save_fitted,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.tuning import (
    cv_fit,
    tvs_fit,
)
from steel_energy_consumption_prediction_using_pyspark_spark.sources.steel import (
    steel_energy,
)


@pytest.fixture(scope="module")
def steel(spark):
    # ~3 months of intervals: enough signal for R2 pins, fast to fit.
    df = steel_energy(spark, 96 * 90).coalesce(4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def split(steel):
    train, test = steel.randomSplit([0.75, 0.25], seed=64)
    return train.cache(), test.cache()


# --- golden-replica EDA (reference cells 8-17, BASELINE.md) -----------------

def test_load_type_frequency_order(steel):
    """Light > Medium > Maximum — the frequency order that pins the
    StringIndexer goldens (reference cell 8)."""
    counts = {r.Load_Type: r["count"] for r in steel.groupBy("Load_Type").count().collect()}
    assert counts["Light_Load"] > counts["Medium_Load"] > counts["Maximum_Load"]


def test_weekstatus_counts_consistent(steel):
    counts = {r.WeekStatus: r["count"] for r in steel.groupBy("WeekStatus").count().collect()}
    assert counts["Weekday"] > counts["Weekend"]
    assert counts["Weekday"] + counts["Weekend"] == steel.count()


def test_avg_usage_ranking(steel):
    """Reference EDA ranking: Maximum > Medium > Light (cells 13-14)
    and Weekday > Weekend (cell 16)."""
    by_load = {
        r.Load_Type: r.avg for r in
        steel.groupBy("Load_Type").agg(F.avg("Usage_kWh").alias("avg")).collect()
    }
    assert by_load["Maximum_Load"] > by_load["Medium_Load"] > by_load["Light_Load"]
    by_ws = {
        r.WeekStatus: r.avg for r in
        steel.groupBy("WeekStatus").agg(F.avg("Usage_kWh").alias("avg")).collect()
    }
    assert by_ws["Weekday"] > by_ws["Weekend"]


def test_co2_usage_correlation(steel):
    """corr(CO2, Usage_kWh) > 0.95 (reference: 0.98818,
    SteelPred.ipynb:132859)."""
    c = steel.select(F.corr("CO2", "Usage_kWh")).collect()[0][0]
    assert c > 0.95


def test_nsm_shape(steel):
    mn, mx, nd = steel.select(
        F.min("NSM"), F.max("NSM"), F.countDistinct("NSM")
    ).collect()[0]
    assert (mn, mx, nd) == (0, 85500, 96)


# --- feature pipeline (M1-M3) ----------------------------------------------

def test_string_indexer_frequency_desc(spark, steel):
    """frequencyDesc default: most frequent label (Light_Load) → 0.0
    (pins the persisted reference param
    pipeline/stages/0_StringIndexer_*/metadata: stringOrderType)."""
    from pyspark.ml import Pipeline

    model = Pipeline(stages=feature_stages()).fit(steel)
    out = model.transform(steel)
    idx = {
        r.Load_Type: r.ix
        for r in out.select(
            "Load_Type", F.col("Load_Type_index").alias("ix")
        ).distinct().collect()
    }
    assert idx["Light_Load"] == 0.0
    assert set(idx.values()) == {0.0, 1.0, 2.0}


def test_scaler_unit_variance(spark, steel):
    """StandardScaler(withStd=true, withMean=false): each scaled
    feature has stddev ≈ 1."""
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import vector_to_array

    model = Pipeline(stages=feature_stages()).fit(steel)
    out = model.transform(steel).select(
        vector_to_array("scaledFeatures").alias("v")
    )
    dim = len(out.first().v)
    stats = out.select(
        *[F.stddev(F.col("v")[i]).alias(f"s{i}") for i in range(dim)]
    ).collect()[0]
    for i in range(dim):
        assert abs(stats[f"s{i}"] - 1.0) < 0.05


def test_assembler_skips_invalid_rows(spark):
    """handleInvalid='skip' (the reference's only row filter, P7):
    null numeric rows drop during transform."""
    from pyspark.ml import Pipeline
    from pyspark.sql import Row

    rows = [
        Row(a=1.0, b=2.0, k="x"),
        Row(a=None, b=3.0, k="y"),
        Row(a=4.0, b=5.0, k="x"),
    ]
    df = spark.createDataFrame(rows)
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="k", outputCol="k_ix"),
            VectorAssembler(
                inputCols=["a", "b", "k_ix"], outputCol="features",
                handleInvalid="skip",
            ),
        ]
    )
    out = pipe.fit(df).transform(df)
    assert out.count() == 2


# --- regressors + evaluator (M5-M13) ---------------------------------------

def test_decision_tree_quality(spark, split):
    """DecisionTree R2 on steel-shaped data ≥ 0.9 (reference baseline
    band: DT 0.9877, BASELINE.md)."""
    train, test = split
    models = baseline_regressors()
    fitted = build_pipeline(models["DecisionTreeRegressor"]).fit(train)
    m = evaluate_predictions(fitted.transform(test))
    assert m["r2"] > 0.9
    assert m["rmse"] == pytest.approx(math.sqrt(m["mse"]), rel=1e-9)
    assert m["mae"] > 0


def test_linear_regression_quality(spark, split):
    train, test = split
    models = baseline_regressors()
    fitted = build_pipeline(models["LinearRegression"]).fit(train)
    m = evaluate_predictions(fitted.transform(test))
    assert m["r2"] > 0.8  # linear baseline: strong but below trees


def test_all_eight_regressors_fit(spark, split):
    """Every reference model family (M5-M12) fits and predicts finite
    values on a small slice — the full quality matrix is the driver's
    bench concern, not a unit test."""
    train, test = split
    small_train = train.limit(1200).cache()
    small_test = test.limit(300).cache()
    for name, reg in baseline_regressors().items():
        fitted = build_pipeline(reg).fit(small_train)
        m = evaluate_predictions(fitted.transform(small_test))
        assert math.isfinite(m["r2"]), name
        assert m["rmse"] >= 0, name


def test_param_grids_shapes():
    """Grid cardinalities match the reference's ParamGridBuilder calls
    (SteelPred.py:341-417)."""
    models = baseline_regressors()
    g = param_grids(models)
    sizes = {k: len(v) for k, v in g.items()}
    assert sizes == {
        "LinearRegression": 18,
        "DecisionTreeRegressor": 9,
        "RandomForestRegressor": 15,
        "GBTRegressor": 4,
        "FMRegressor": 9,
        "GLR_poisson": 6,
        "GLR_tweedie": 12,
        "IsotonicRegression": 2,
    }


def test_create_dataframe_drops_unknown_dict_keys(spark):
    """Reference quirk Q3 (SteelPred.py:284-291): the comparison-table
    dicts carry a 'Pipeline' key absent from the declared schema; Spark
    silently drops unknown keys. Pin the permissive behavior the
    reference relies on."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("Model", StringType(), True),
            StructField("R2", DoubleType(), True),
        ]
    )
    rows = [{"Model": "LR", "R2": 0.9, "Pipeline": object()}]
    df = spark.createDataFrame(rows, schema)
    assert df.columns == ["Model", "R2"]
    assert df.collect()[0].Model == "LR"


# --- tuning (M15-M16) -------------------------------------------------------

def test_tvs_picks_at_least_default_quality(spark, split):
    train, test = split
    models = baseline_regressors()
    dt = models["DecisionTreeRegressor"]
    pipe = build_pipeline(dt)
    from pyspark.ml.tuning import ParamGridBuilder

    grid = (
        ParamGridBuilder()
        .addGrid(dt.maxDepth, [2, 5, 10])
        .build()
    )
    tuned = tvs_fit(pipe, grid, train)
    m = evaluate_predictions(tuned.transform(test))
    assert m["r2"] > 0.9
    assert len(tuned.validationMetrics) == 3


def test_cv_three_folds(spark, split):
    train, _ = split
    models = baseline_regressors()
    lr = models["LinearRegression"]
    pipe = build_pipeline(lr)
    from pyspark.ml.tuning import ParamGridBuilder

    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.5]).build()
    cvm = cv_fit(pipe, grid, train.limit(2000), num_folds=3)
    assert len(cvm.avgMetrics) == 2
    assert max(cvm.avgMetrics) > 0.7


# --- persistence (S7, fixing quirk Q1) --------------------------------------

def test_pipeline_save_load_roundtrip(spark, split, tmp_path):
    """Persist the FITTED PipelineModel (not the unfitted Pipeline the
    reference saved — quirk Q1) and verify identical predictions after
    reload."""
    train, test = split
    models = baseline_regressors()
    fitted = build_pipeline(models["DecisionTreeRegressor"]).fit(train)
    path = str(tmp_path / "steel_pipeline")
    save_fitted(fitted, path)
    reloaded = load_fitted(path)
    a = fitted.transform(test).select("prediction").collect()
    b = reloaded.transform(test).select("prediction").collect()
    assert [r.prediction for r in a] == [r.prediction for r in b]
    # stage params survive: assembler still skips invalid
    assembler = reloaded.stages[3]
    assert assembler.getHandleInvalid() == "skip"


def test_dt_pinned_structure_matches_live(spark):
    """Drift check for the ml_regression oracle's literal CASE tree
    (VERDICT r4 #4): refit the deterministic single-partition
    DecisionTree exactly as q_ml_regression does and assert the fitted
    structure equals workload/ml.py::_DT_PINNED node for node. If the
    fixture, the pipeline, the split, or the Spark version changes the
    tree, this fails with instructions instead of the driver's hash
    gate failing opaquely. Regenerate with tools/pin_dt_tree.py."""
    from steel_energy_consumption_prediction_using_pyspark_spark.ml.models import (
        baseline_regressors,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.ml.pipeline import (
        build_pipeline,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.sources.steel import (
        steel_energy,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.ml import (
        QUERY_ROWS,
        _DT_PINNED,
        _portable_split,
    )
    from tools.pin_dt_tree import parse_debug_string

    train, _ = _portable_split(steel_energy(spark, QUERY_ROWS))
    fitted = build_pipeline(baseline_regressors()["DecisionTreeRegressor"]).fit(
        train.coalesce(1)
    )
    live = parse_debug_string(fitted.stages[-1].toDebugString)
    assert live == _DT_PINNED, (
        "single-partition DT fit drifted from _DT_PINNED — rerun "
        "tools/pin_dt_tree.py and update workload/ml.py"
    )


def test_fm_poisson_replica_gap_adjudication(spark, split):
    """Pinned adjudication of the two BASELINE_REPLICA residuals
    (round 9, VERDICT r8 #6): FMRegressor reads ~0.71 vs the
    reference's 0.89 and GLR-poisson ~0.90 vs 0.94 on the synthetic
    fixture, and the gap is an OPTIMIZER-BUDGET artifact, not missing
    signal: the identical pipeline with only the iteration budget
    raised (maxIter 100→400, every other hyperparameter default)
    clears the reference's FM number — so the fixture carries
    reference-grade FM signal, and AdamW@stepSize-1.0 simply hasn't
    converged within the default 100 iterations on THIS loss surface
    (measured: default 0.71, maxIter400 0.92, stepSize0.5 0.93).
    Parity protocol fits default hyperparameters, and data-space
    tuning toward FM convergence risks the pinned tree band /
    LR-ceiling invariants (a smooth NSM×weekend interaction variant
    moved FM by -0.003), so the residuals are accepted and pinned
    here instead."""
    from pyspark.ml.regression import FMRegressor

    train, test = split
    models = baseline_regressors()

    fm_default = build_pipeline(models["FMRegressor"]).fit(train)
    r2_default = evaluate_predictions(fm_default.transform(test))["r2"]
    assert 0.55 < r2_default < 0.85, r2_default  # the documented undershoot

    fm_long = build_pipeline(
        FMRegressor(
            seed=42,
            featuresCol="scaledFeatures",
            labelCol="Usage_kWh",
            maxIter=400,
        )
    ).fit(train)
    r2_long = evaluate_predictions(fm_long.transform(test))["r2"]
    assert r2_long >= 0.88, r2_long           # signal is reference-grade
    assert r2_long >= r2_default + 0.1        # gap closes with budget alone

    poisson = build_pipeline(models["GLR_poisson"]).fit(train)
    r2_poisson = evaluate_predictions(poisson.transform(test))["r2"]
    assert 0.85 < r2_poisson < 0.94, r2_poisson  # documented mild undershoot


# --- fused indexer fit vs stock pyspark.ml.Pipeline -------------------------


def _stock_pipeline(stages):
    from pyspark.ml import Pipeline as StockPipeline

    return StockPipeline(stages=stages)


def test_fused_indexers_match_stock_with_nulls_and_ties(spark):
    """One multi-column aggregation yields the labels three one-column
    fits yield: nulls are skipped, and frequency ties break
    alphabetically, per column."""
    from pyspark.ml.feature import StringIndexer

    rows = [
        (
            None if i % 5 == 0 else "abc"[i % 3],
            "qprs"[i % 4],  # four-way tie
            "yx"[i % 2] if i % 7 else None,
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "a string, b string, c string")
    stages = [StringIndexer(inputCol=c, outputCol=f"{c}_i") for c in "abc"]
    ours = Pipeline(stages=stages).fit(df)
    stock = _stock_pipeline(stages).fit(df)
    assert [m.labels for m in ours.stages] == [m.labels for m in stock.stages]
    assert ours.stages[1].labels == ["p", "q", "r", "s"]
    assert [m.uid for m in ours.stages] == [s.uid for s in stages]


def test_fused_pipeline_matches_stock_model(spark, split, tmp_path):
    """Same coefficients and predictions as a stock Pipeline; saved
    stages named {i}_StringIndexer_<estimator uid> with the stock
    paramMap/defaultParamMap JSON; load_fitted round-trips."""
    import glob
    import json
    import os

    train, test = split
    lr = baseline_regressors()["LinearRegression"]
    stages = [*feature_stages(), lr]
    ours = Pipeline(stages=stages).fit(train)
    stock = _stock_pipeline(stages).fit(train)
    assert ours.stages[-1].coefficients == stock.stages[-1].coefficients
    assert ours.stages[-1].intercept == stock.stages[-1].intercept
    pred = lambda m: [r.prediction for r in m.transform(test).orderBy("date").collect()]
    assert pred(ours) == pred(stock)

    a, b = str(tmp_path / "ours"), str(tmp_path / "stock")
    save_fitted(ours, a)
    save_fitted(stock, b)
    dirs = sorted(os.listdir(os.path.join(a, "stages")))
    assert dirs == sorted(os.listdir(os.path.join(b, "stages")))
    # {i}_<uid>, and an indexer's uid is StringIndexer_<hex>.
    assert dirs[:3] == [f"{i}_{stages[i].uid}" for i in range(3)]
    assert all(s.uid.startswith("StringIndexer_") for s in stages[:3])

    def meta(root, d):
        (f,) = glob.glob(os.path.join(root, "stages", d, "metadata", "part-*"))
        with open(f) as fh:
            m = json.loads(fh.read())
        return m["class"], m["uid"], m["paramMap"], m["defaultParamMap"]

    for d in dirs:
        assert meta(a, d) == meta(b, d)

    reloaded = load_fitted(a)
    assert [s.uid for s in reloaded.stages] == [s.uid for s in ours.stages]
    assert [m.labels for m in reloaded.stages[:3]] == [m.labels for m in stock.stages[:3]]
    assert pred(reloaded) == pred(stock)


def test_fit_multiple_prefix_once_matches_stock(spark, split):
    """A grid over last-stage params shares one fitted prefix across
    grid points; a grid touching a prefix param (StandardScaler
    withMean) takes pyspark's Pipeline.fitMultiple. Both yield the
    stock models."""
    from pyspark.ml.tuning import ParamGridBuilder

    train, _ = split
    train = train.limit(2000)

    def fit_all(pipe, grid):
        return dict(pipe.fitMultiple(train, grid))

    def summary(m):
        scaler, lrm = m.stages[4], m.stages[-1]
        return scaler.mean, scaler.std, lrm.coefficients, lrm.intercept

    lr = baseline_regressors()["LinearRegression"]
    stages = [*feature_stages(), lr]
    scaler = stages[4]
    for grid, shared in (
        (ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.5]).build(), True),
        (ParamGridBuilder().addGrid(scaler.withMean, [False, True]).build(), False),
    ):
        ours = fit_all(Pipeline(stages=stages), grid)
        stock = fit_all(_stock_pipeline(stages), grid)
        assert [summary(ours[i]) for i in range(2)] == [
            summary(stock[i]) for i in range(2)
        ]
        assert (ours[0].stages[0] is ours[1].stages[0]) is shared
