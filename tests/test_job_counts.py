"""Job-count pins: Spark jobs a session operation runs, read the way
perfbench/spans.py reads them (the DAG scheduler's next job id before
and after the call). Each pin names work the engine does once per
session or once per fit instead of once per call."""

import os

import pytest

from steel_energy_consumption_prediction_using_pyspark_spark.ml import pipeline as P
from steel_energy_consumption_prediction_using_pyspark_spark.ml.models import (
    baseline_regressors,
)
from steel_energy_consumption_prediction_using_pyspark_spark.ml.tuning import tvs_fit
from steel_energy_consumption_prediction_using_pyspark_spark.sources.readers import (
    read_parquet,
)
from steel_energy_consumption_prediction_using_pyspark_spark.sources.steel import (
    steel_energy,
)


def jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - lo


@pytest.fixture(scope="module")
def steel(spark):
    df = steel_energy(spark, 1000).cache()
    df.count()
    return df


def _stock(stages):
    from pyspark.ml import Pipeline

    return Pipeline(stages=stages)


def test_steel_fit_runs_one_indexer_aggregation(spark, steel):
    """The 6-stage fit runs the jobs of ONE StringIndexer fit for its
    three indexers: stock Spark runs three."""
    from pyspark.ml.feature import StringIndexer

    _, one = jobs(
        spark, lambda: StringIndexer(inputCol="Load_Type", outputCol="i").fit(steel)
    )
    lr = baseline_regressors()["LinearRegression"]
    stages = [*P.feature_stages(), lr]
    _, stock = jobs(spark, lambda: _stock(stages).fit(steel))
    _, engine = jobs(spark, lambda: P.Pipeline(stages=stages).fit(steel))
    assert one > 0
    assert engine == stock - 2 * one


def test_tvs_fits_prefix_once_per_split(spark, steel):
    """tvs_fit over a 2-point grid on the last stage fits the feature
    prefix once on the split (plus once in the best model's refit),
    where stock Spark fits it per grid point."""
    from pyspark.ml.tuning import ParamGridBuilder

    _, prefix_stock = jobs(spark, lambda: _stock(P.feature_stages()).fit(steel))
    _, prefix = jobs(spark, lambda: P.Pipeline(stages=P.feature_stages()).fit(steel))

    def run(make):
        lr = baseline_regressors()["LinearRegression"]
        grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.1]).build()
        return tvs_fit(make([*P.feature_stages(), lr]), grid, steel, parallelism=1)

    stock_model, stock = jobs(spark, lambda: run(_stock))
    model, engine = jobs(spark, lambda: run(lambda st: P.Pipeline(stages=st)))
    # Stock: 2 grid points + refit = 3 prefix fits; engine: split + refit.
    assert engine == stock - 3 * prefix_stock + 2 * prefix
    assert model.validationMetrics == stock_model.validationMetrics


def test_read_parquet_memoizes_schema(spark, tmp_path):
    """A second read of an unchanged path runs no job; a file
    rewritten in place with a new column is re-inferred."""
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "id * 2 AS x").write.parquet(path)
    first, n_first = jobs(spark, lambda: read_parquet(spark, path))
    again, n_again = jobs(spark, lambda: read_parquet(spark, path))
    assert n_first > 0 and n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    spark.range(5).selectExpr("id", "id * 2 AS x", "'n' AS y").write.mode(
        "overwrite"
    ).parquet(path)
    rewritten = read_parquet(spark, path)
    assert rewritten.columns == ["id", "x", "y"]
    assert rewritten.count() == 5


def test_read_parquet_memo_is_per_file_stamp(spark, tmp_path):
    """A single parquet FILE (not a directory) is stamped by its size
    and mtime: replacing it re-infers too."""
    import shutil

    d = str(tmp_path / "d")
    spark.range(3).selectExpr("id").coalesce(1).write.parquet(d)
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    path = str(tmp_path / "one.parquet")
    shutil.copy(os.path.join(d, part), path)
    assert read_parquet(spark, path).columns == ["id"]
    d2 = str(tmp_path / "d2")
    spark.range(3).selectExpr("id", "id AS z").coalesce(1).write.parquet(d2)
    part2 = next(f for f in os.listdir(d2) if f.endswith(".parquet"))
    shutil.copy(os.path.join(d2, part2), path)
    assert read_parquet(spark, path).columns == ["id", "z"]


def test_persisted_probe_hit_runs_no_setup_jobs(spark, sf_dir):
    """Once the persisted index is loaded, building a probe's plan runs
    no job: no schema inference, no head() of the PQ meta, no
    collect() of the codebooks."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        vector,
    )

    first = vector.q_pq_probe_materialized(spark, sf_dir).collect()
    df, n = jobs(spark, lambda: vector.q_pq_probe_materialized(spark, sf_dir))
    assert n == 0
    assert df.collect() == first
