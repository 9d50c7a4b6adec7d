from __future__ import annotations

import os

import pytest

from pyspark_retention_pipeline_spark.pins import pins
from pyspark_retention_pipeline_spark.session import get_spark

# Small scale factor by default for fast tests; parity at sf0.01 is run via
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 (mirrors the driver gate).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round-16 verdict item 1): the default `pytest tests/`
    must complete inside the driver's timeout (the round-15 full suite grew
    to ~34 min and the driver's run was cut off with no verdict), so tests
    marked ``slow`` — the full oracle-parity mirror, the randomized
    multi-SF sweeps, the heavyweight end-to-end paths — are skipped unless
    opted in via RUN_SLOW=1 or an explicit `-m` expression naming the
    marker. The slow tier still runs per round via `make test-all` /
    `make test-gate`; nothing is lost, only re-tiered."""
    if os.environ.get("RUN_SLOW") == "1":
        return
    if "slow" in (config.getoption("-m") or ""):
        return
    skip = pytest.mark.skip(
        reason="slow tier: opt in with RUN_SLOW=1 or -m slow (make test-all)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pyspark_retention_pipeline_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sparse_churn_model(spark, sf_dir):
    """An L1-regularized churn model fitted with a constant feature, and the
    frame it was fitted on: most coefficients are exactly 0 (Spark stores
    them as a sparse vector) and one scaler std is 0. Its last stage is the
    reference's LBFGS ``LogisticRegression`` (``build_churn_pipeline``), as
    in a CV model or an artifact saved before the churn fit moved to IRLS."""
    from pyspark.ml.linalg import SparseVector
    from pyspark.sql import functions as F

    from pyspark_retention_pipeline_spark import ml
    from pyspark_retention_pipeline_spark.operators.retention import churn_feature_frame

    features = churn_feature_frame(spark, sf_dir).withColumn("recent90_orders", F.lit(2.0))
    pipeline = ml.build_churn_pipeline()
    pipeline.getStages()[-1].setRegParam(0.02).setElasticNetParam(1.0)
    model = pipeline.fit(ml.add_class_weight(ml.cast_features(features, ml.FEATURE_COLS)))
    assert type(model.stages[-1]).__name__ == "LogisticRegressionModel"
    coefficients = model.stages[-1].coefficients
    assert isinstance(coefficients, SparseVector) and 0 < coefficients.numNonzeros() < 8
    assert 0.0 in model.stages[2].std.toArray()
    return model, features


@pytest.fixture(scope="module", autouse=True)
def module_pins():
    """The pins a module's fixtures make are released after its last test."""
    with pins():
        yield


@pytest.fixture(autouse=True)
def function_pins():
    """The pins a test makes are released when it ends."""
    with pins():
        yield


@pytest.fixture
def persistent_rdds(spark):
    """A callable returning the ids of the RDDs persisted now. A leak check
    around some code asserts that the ids afterwards equal the ids before:
    it left nothing persisted and released nothing it did not make. The
    code's own pins must go with a ``pins()`` scope that ends before the
    second call."""
    sc = spark.sparkContext
    return lambda: set(sc._jsc.getPersistentRDDs().keySet())
