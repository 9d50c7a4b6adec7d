"""Churn-model pipeline (SURVEY.md §2.11 M1-M11, reference parity for
``pipeline/train.py`` / ``eval.py`` / ``serve_api.py``) built Spark-first.

Stages mirror the reference exactly — Imputer(mean) → VectorAssembler →
StandardScaler(withMean, withStd) → weighted LogisticRegression(maxIter=80) —
with one scale-relevant difference: class weights are derived *inside the
plan* (broadcast scalar join) rather than collecting label counts to the
driver (reference ``train.py:40-55``). Threshold selection over these scores
lives in ml/workflow.py.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import DEFAULT_THRESHOLD

# The 8 engineered features of the reference model (FIXTURES.md §1.2; feature
# selection rule = all columns except the key and the label, train.py:35-37).
FEATURE_COLS = [
    "total_orders",
    "total_qty",
    "avg_order_amount",
    "distinct_products",
    "recent90_orders",
    "recency_days",
    "total_amount_log",
    "recent90_amount_log",
]


def add_class_weight(features: DataFrame, label_col: str = "label") -> DataFrame:
    """Attach ``class_weight`` = N_neg/N_pos for positives, 1.0 for negatives
    (reference M6) without any driver round-trip: the two counts are a 1-row
    aggregate broadcast back onto the feature rows."""
    counts = features.agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0)).alias("n_neg"),
    )
    weight = F.when(
        F.col(label_col) == 1, F.col("n_neg") / F.greatest(F.col("n_pos"), F.lit(1))
    ).otherwise(F.lit(1.0))
    return (
        features.crossJoin(F.broadcast(counts))
        .withColumn("class_weight", weight.cast("double"))
        .drop("n_pos", "n_neg")
    )


def build_churn_pipeline(feature_cols: list[str] | None = None) -> Pipeline:
    """Imputer → VectorAssembler → StandardScaler → weighted LR
    (reference ``pipeline/train.py:154-158``)."""
    cols = list(feature_cols or FEATURE_COLS)
    imputed = [f"{c}_imp" for c in cols]
    return Pipeline(
        stages=[
            Imputer(strategy="mean", inputCols=cols, outputCols=imputed),
            VectorAssembler(inputCols=imputed, outputCol="features"),
            StandardScaler(
                inputCol="features", outputCol="features_scaled", withMean=True, withStd=True
            ),
            LogisticRegression(
                featuresCol="features_scaled",
                labelCol="label",
                weightCol="class_weight",
                maxIter=80,
            ),
        ]
    )


def cast_features(frame: DataFrame, cols: list[str]) -> DataFrame:
    """``frame`` with ``cols`` cast to double, other columns untouched."""
    # ONE select, not a withColumn-per-feature loop: each withColumn nests
    # a fresh Project, and analysis cost grows quadratically in the column
    # count — harmless at the churn tier's 8 features, a multi-second
    # plan-build cliff at the quality classifier's 256 (round 13).
    fc = set(cols)
    missing = fc - set(frame.columns)
    if missing:
        # Fail fast on a typoed feature name (round-13 ADVICE: the old
        # withColumn loop raised immediately; the select silently skipped,
        # deferring to a less clear Imputer missing-column error).
        raise ValueError(f"feature columns not in frame: {sorted(missing)}")
    return frame.select(
        *[F.col(c).cast("double").alias(c) if c in fc else F.col(c) for c in frame.columns]
    )


def _prepare(features: DataFrame, feature_cols: list[str]) -> DataFrame:
    return add_class_weight(cast_features(features, feature_cols))


# Reference CV search space (``pipeline/train.py:160-172``): 3-fold CV over
# the 3×3 regParam × elasticNetParam grid, selected on areaUnderPR.
CV_REG_PARAMS = [0.0, 0.01, 0.1]
CV_ELASTIC_PARAMS = [0.0, 0.5, 1.0]
CV_NUM_FOLDS = 3


def train_churn_model(
    features: DataFrame,
    feature_cols: list[str] | None = None,
    cross_validate: bool = False,
    seed: int = 42,
    cv_reg_params: list[float] | None = None,
    cv_elastic_params: list[float] | None = None,
    cv_num_folds: int | None = None,
    cv_metric: str = "aucpr",
) -> PipelineModel:
    """Fit the churn pipeline; with ``cross_validate`` runs the reference's
    3-fold CV over the 3×3 regParam × elasticNetParam grid selected on
    areaUnderPR (``pipeline/train.py:160-172``). The grid/folds are
    overridable so a cheap configuration (e.g. 2×2 grid, 2 folds at sf0.001)
    can exercise the CV path in every default test run while the full
    reference configuration remains the default. ``cv_metric`` mirrors the
    reference CLI's ``--metric aucroc|aucpr`` choice (``train.py:141,167``),
    default aucpr as there."""
    cols = list(feature_cols or FEATURE_COLS)
    estimator = build_churn_pipeline(cols)
    if cross_validate:
        lr = estimator.getStages()[-1]
        grid = (
            ParamGridBuilder()
            .addGrid(lr.regParam, list(cv_reg_params or CV_REG_PARAMS))
            .addGrid(lr.elasticNetParam, list(cv_elastic_params or CV_ELASTIC_PARAMS))
            .build()
        )
        metric_name = "areaUnderROC" if cv_metric == "aucroc" else "areaUnderPR"
        evaluator = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="rawPrediction", metricName=metric_name
        )
        estimator = CrossValidator(
            estimator=estimator,
            estimatorParamMaps=grid,
            evaluator=evaluator,
            numFolds=cv_num_folds or CV_NUM_FOLDS,
            parallelism=4,
            seed=seed,
        )
    prepared = _prepare(features, cols).cache()
    try:
        fitted = estimator.fit(prepared)
    finally:
        prepared.unpersist()
    return fitted.bestModel if cross_validate else fitted


def _churn_scores(
    model: PipelineModel, frame: DataFrame, threshold: float, keep: list[str]
) -> DataFrame:
    """``keep`` columns plus P(churn) and the thresholded prediction."""
    p1 = vector_to_array(F.col("probability")).getItem(1)
    return model.transform(frame).select(
        *keep,
        p1.alias("p_churn"),
        (p1 >= F.lit(threshold)).cast("double").alias("prediction"),
    )


def score_frame(
    model: PipelineModel, features: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """Batch inference: transform → P(churn) → thresholded prediction
    (reference ``eval.py:50-55``; p1 extraction via vector_to_array)."""
    keep = [c for c in ("custkey", "label") if c in features.columns]
    return _churn_scores(model, cast_features(features, FEATURE_COLS), threshold, keep)


def evaluate_model(model: PipelineModel, features: DataFrame) -> dict[str, float]:
    """AUC-ROC / AUC-PR on a labeled split (reference ``eval.py:58-61``)."""
    scored = model.transform(_prepare(features, FEATURE_COLS)).cache()
    out = {}
    try:
        for metric in ("areaUnderROC", "areaUnderPR"):
            ev = BinaryClassificationEvaluator(
                labelCol="label", rawPredictionCol="rawPrediction", metricName=metric
            )
            out[metric] = float(ev.evaluate(scored))
    finally:
        scored.unpersist()
    return out


def coefficients_frame(spark: SparkSession, model: PipelineModel) -> DataFrame:
    """Signed coefficients ranked by |β| (reference ``train.py:110-122``
    coefficient export)."""
    lr_model = model.stages[-1]
    assembler = next(s for s in model.stages if isinstance(s, VectorAssembler))
    names = [c.removesuffix("_imp") for c in assembler.getInputCols()]
    rows = [
        (name, float(coef)) for name, coef in zip(names, lr_model.coefficients.toArray())
    ]
    schema = T.StructType(
        [
            T.StructField("feature", T.StringType()),
            T.StructField("coefficient", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy(F.abs(F.col("coefficient")).desc())


def score_records(
    spark: SparkSession,
    model: PipelineModel,
    records: list[dict],
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Serving-path inference (reference ``serve_api.py:113-160``): missing
    features imputed as 0.0, unknown keys dropped, un-floatable values
    coerced to 0.0 (``serve_api.py:122-130``'s try/float/except rule),
    everything double by an explicit schema at createDataFrame time."""

    def _coerce(v) -> float:
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0.0

    schema = T.StructType([T.StructField(c, T.DoubleType()) for c in FEATURE_COLS])
    cleaned = [{c: _coerce(r.get(c, 0.0)) for c in FEATURE_COLS} for r in records]
    return _churn_scores(model, spark.createDataFrame(cleaned, schema), threshold, [])
