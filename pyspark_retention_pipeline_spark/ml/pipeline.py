"""Churn-model pipeline (SURVEY.md §2.11 M1-M11, reference parity for
``pipeline/train.py`` / ``eval.py`` / ``serve_api.py``) built Spark-first.

The feature stages mirror the reference exactly — Imputer(mean) →
VectorAssembler → StandardScaler(withMean, withStd) — and class weights are
derived *inside the plan* (broadcast scalar join) rather than collecting label
counts to the driver (reference ``train.py:40-55``). The reference's last stage
is a weighted LBFGS ``LogisticRegression`` (:func:`weighted_lr`); the churn
model fits the same weighted logistic likelihood as a binomial/logit
``GeneralizedLinearRegression`` by IRLS (:func:`weighted_glr`), a handful of
Newton iterations where LBFGS ran dozens, each one a Spark job. The CV path and
the quality classifier keep the LBFGS stage. Threshold selection over these
scores lives in ml/workflow.py.

:func:`fit_pipeline` is the one fit routine of the churn model and the quality
classifier of ``operators/mlops.py``, with the last stage as an argument. It
stages the fit over a materialized frame sized to its bytes, so each iteration
launches as few tasks as the data needs.

The churn model has one scoring definition, the :class:`LinearChurnModel`
that :func:`compile_churn_model` reads from the fitted stages (either last
stage): :func:`_scores` projects it over a DataFrame as one ``selectExpr`` of
SQL text, and :func:`score_records` is its numpy form, which scores payloads
on the driver with no Spark job. Both AUCs of a scored split are one
``operators.threshold.auc_metrics`` query over its margins, in place of two
``BinaryClassificationEvaluator`` passes.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.ml import Estimator, Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler
from pyspark.ml.linalg import SparseVector
from pyspark.ml.regression import GeneralizedLinearRegression, GeneralizedLinearRegressionModel
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..constants import DEFAULT_THRESHOLD
from ..exprs import sql_double, sql_name
from ..operators.threshold import auc_metrics
from ..pins import pin, pins

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


def _feature_stages(cols: list[str]) -> list:
    """Imputer → VectorAssembler → StandardScaler over ``cols``, into
    ``features_scaled``."""
    imputed = [f"{c}_imp" for c in cols]
    return [
        Imputer(strategy="mean", inputCols=cols, outputCols=imputed),
        VectorAssembler(inputCols=imputed, outputCol="features"),
        StandardScaler(
            inputCol="features", outputCol="features_scaled", withMean=True, withStd=True
        ),
    ]


def weighted_lr() -> LogisticRegression:
    """The reference's last stage: class-weighted LR fitted by LBFGS
    (``pipeline/train.py:154-158``)."""
    return LogisticRegression(
        featuresCol="features_scaled", labelCol="label", weightCol="class_weight", maxIter=80
    )


def weighted_glr() -> GeneralizedLinearRegression:
    """The churn model's last stage: the same class-weighted logistic
    likelihood as :func:`weighted_lr`, fitted by IRLS (MLlib*, ICDE 2019:
    GLM training on Spark is bound by the scheduling per iteration). Newton
    steps converge in a few iterations where LBFGS runs dozens, one Spark job
    each. It takes no ``elasticNetParam`` and needs an unregularized MLE to
    exist, so separable data does not converge."""
    return GeneralizedLinearRegression(
        family="binomial",
        link="logit",
        featuresCol="features_scaled",
        labelCol="label",
        weightCol="class_weight",
    )


def build_churn_pipeline(feature_cols: list[str] | None = None) -> Pipeline:
    """Imputer → VectorAssembler → StandardScaler → weighted LR
    (reference ``pipeline/train.py:154-158``), the CV path's estimator."""
    return Pipeline(stages=_feature_stages(list(feature_cols or FEATURE_COLS)) + [weighted_lr()])


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


def fit_partitions(rows: int, n_features: int, task_bytes: int) -> int:
    """Partitions for a fit over ``rows`` rows of ``n_features`` doubles plus
    label and weight: one per ``task_bytes`` of those 8-byte values, at least
    one."""
    return max(1, math.ceil(rows * (n_features + 2) * 8 / task_bytes))


@contextmanager
def cached(frame: DataFrame) -> Iterator[DataFrame]:
    """``frame`` cached for the block and released after it, unless its plan
    is cached already: Spark keeps one cache entry per plan, so releasing
    that entry would drop another caller's cache."""
    mine = frame.storageLevel == StorageLevel.NONE
    if mine:
        frame.cache()
    try:
        yield frame
    finally:
        if mine:
            frame.unpersist()


@contextmanager
def _sized(frame: DataFrame, n_features: int) -> Iterator[DataFrame]:
    """``frame`` cached, counted, and coalesced to :func:`fit_partitions`
    partitions of Spark's own ``spark.sql.files.openCostInBytes`` (4 MB by
    default: the bytes Spark reckons a task scans in the time a fixed
    per-file cost takes), under :func:`cached`.

    An iterative fit pays a task launch per partition per job, and LBFGS and
    IRLS run a job per iteration, so a few hundred rows spread over one
    partition per input file cost more in scheduling than in compute. A partition is kept
    only when it carries at least that fixed cost's worth of bytes: on a
    4-core host one task beat four up to ~100k churn rows (8 MB) and lost
    beyond (docs/SCALE.md, "ML tier"). The count comes before the coalesce:
    coalescing the lazy plan would fold its upstream work into the few
    coalesced tasks. Coalescing only merges: a frame already at k
    partitions or fewer keeps its own."""
    with cached(frame) as rows:
        n = rows.count()
        conf = frame.sparkSession._jsparkSession.sessionState().conf()
        yield rows.coalesce(fit_partitions(n, n_features, conf.filesOpenCostInBytes()))


@contextmanager
def job_description(spark: SparkSession, description: str) -> Iterator[None]:
    """Spark jobs of this thread carry ``description`` for the block; the
    previous description (a job group's, say) comes back on exit. The job
    group itself is left as it is."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


def fit_pipeline(prepared: DataFrame, cols: list[str], final: Estimator) -> PipelineModel:
    """Fit the feature stages over ``cols`` and then ``final``
    (:func:`weighted_glr` for the churn model, :func:`weighted_lr` for the
    quality classifier) on ``prepared``, a frame already cast
    (:func:`cast_features`) and class-weighted (:func:`add_class_weight`).
    Its jobs carry the description ``ml.fit``.

    The frame is materialized and sized (:func:`_sized`), the Imputer and
    StandardScaler are fitted on it, and ``final`` fits on the 3-column frame
    (``features_scaled``, ``label``, ``class_weight``) pinned eagerly
    (``pins.pin``) in a scope of its own, so the job per iteration reads
    materialized rows instead of re-running the featurization plan. At the
    quality classifier's 256 hashed features the per-job codegen of that
    plan dominated: 315 s at sf0.001 through ``Pipeline.fit`` against ~25 s
    staged over a materialized LR input. A checkpoint's rows also read
    faster than a cached frame's columnar batches: on a 4-core host the
    LBFGS quality classifier fitted in 5.5 s against 8.5 s cached (256-wide
    vectors), the LBFGS churn model in 1.7 s against 2.1 s. The math is
    ``Pipeline.fit``'s; only the summation order over partitions can differ
    (|Δcoef| ≤ 1e-8). Nothing persisted here outlives the call.

    The last stage keeps its training summary, but the summary's dataset is
    that pin, released on return. Its iteration counts (GLR's
    ``numIterations``, LR's ``totalIterations``) and LR's
    ``objectiveHistory`` still read; the fields computed from the rows (GLR's
    ``aic``, ``deviance``, ``degreesOfFreedom``; LR's ``areaUnderROC``,
    ``accuracy``; the rows of ``predictions``) raise
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    with job_description(prepared.sparkSession, "ml.fit"), _sized(prepared, len(cols)) as sized:
        prefix = Pipeline(stages=_feature_stages(cols)).fit(sized)
        last_input = prefix.transform(sized).select("features_scaled", "label", "class_weight")
        with pins():
            last = final.fit(pin(last_input, eager=True))
    return PipelineModel(prefix.stages + [last])


# Reference CV search space (``pipeline/train.py:160-172``): 3-fold CV over
# the 3×3 regParam × elasticNetParam grid, selected on areaUnderPR.
CV_REG_PARAMS = [0.0, 0.01, 0.1]
CV_ELASTIC_PARAMS = [0.0, 0.5, 1.0]
CV_NUM_FOLDS = 3


def _cv_fold(seed: int, n_folds: int) -> Column:
    """The fold CrossValidator's own seeded split draws for a row: validation
    fold i holds the rows whose ``rand(seed)`` lies in [i·h, (i+1)·h), h = 1/n
    (``pyspark.ml.tuning.CrossValidator._kFold``, same bounds arithmetic)."""
    r = F.rand(seed)
    h = 1.0 / n_folds
    return sum((r >= i * h).cast("int") for i in range(1, n_folds))


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
    default aucpr as there.

    Without CV the last stage is :func:`weighted_glr`; the CV grid's
    ``elasticNetParam`` needs :func:`weighted_lr`, which GLR does not take.
    Without CV only the last stage summary's iteration count reads
    (:func:`fit_pipeline`); its ``aic`` and ``deviance`` raise."""
    cols = list(feature_cols or FEATURE_COLS)
    prepared = add_class_weight(cast_features(features, cols))
    if not cross_validate:
        return fit_pipeline(prepared, cols, weighted_glr())
    estimator = build_churn_pipeline(cols)
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
    n_folds = cv_num_folds or CV_NUM_FOLDS
    cv = CrossValidator(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=n_folds,
        parallelism=4,
        foldCol="cv_fold",
    )
    # The folds are drawn on ``prepared`` before sizing: rand's stream depends
    # on the partition, so drawing them after the coalesce would move rows
    # between folds and could change the selected model.
    folded = prepared.withColumn("cv_fold", _cv_fold(seed, n_folds))
    with job_description(features.sparkSession, "ml.fit"), _sized(folded, len(cols)) as sized:
        return cv.fit(sized).bestModel


def _scores(
    linear: LinearChurnModel, features: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """``custkey`` and ``label`` when present, then ``margin``, ``p_churn`` and
    ``prediction``, in the fitted stages' order of operations: a null or NaN
    feature takes its surrogate, then ``(x − mean)·scale``, a left-to-right sum
    over the ``active`` coefficients and the intercept, so ``margin`` is the last
    stage's ``rawPrediction[1]`` (LR) or link prediction (GLR) bit for bit.
    p1 = 1 − 1/(1 + e^margin) as in LR; SQL's ``exp`` (``StrictMath``) can be
    an ulp off MLlib's ``Math.exp``, and GLR's logit unlink 1/(1 + e^−margin)
    a rounding or two off this form.

    The projection is one ``selectExpr`` of SQL text, every double written
    exactly (:func:`~pyspark_retention_pipeline_spark.exprs.sql_double`): one
    parse on the JVM where building the same tree as Columns took about 150
    py4j calls."""
    keep = [sql_name(c) for c in ("custkey", "label") if c in features.columns]
    z = []
    for c, s, m, k in zip(linear.feature_cols, linear.surrogates, linear.mean, linear.scale):
        x = f"CAST({sql_name(c)} AS DOUBLE)"
        z.append(
            f"(CASE WHEN isnull({x}) OR isnan({x}) THEN {sql_double(s)} ELSE {x} END"
            f" - {sql_double(m)}) * {sql_double(k)}"
        )
    terms = [f"({z[j]}) * {sql_double(w)}" for j, w in zip(linear.active, linear.coefficients)]
    margin = " + ".join([sql_double(0.0), *terms, sql_double(linear.intercept)])
    one = sql_double(1.0)
    return features.selectExpr(
        *keep,
        f"{margin} AS margin",
        f"{one} - {one} / ({one} + exp(margin)) AS p_churn",
        f"CAST(p_churn >= {sql_double(threshold)} AS DOUBLE) AS prediction",
    )


def score_frame(
    model: PipelineModel, features: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> DataFrame:
    """Batch inference: P(churn) → thresholded prediction (reference
    ``eval.py:50-55``), :func:`_scores` without the margin."""
    return _scores(compile_churn_model(model), features, threshold).drop("margin")


@contextmanager
def evaluated(
    model: PipelineModel, features: DataFrame, threshold: float = DEFAULT_THRESHOLD
) -> Iterator[tuple[DataFrame, dict[str, float]]]:
    """A labeled split scored once into a cached :func:`_scores` projection,
    for a caller that reads it again, with the AUC-ROC and AUC-PR of its
    margin (reference ``eval.py:58-61``; :func:`auc_metrics`). Jobs in the
    block, the caller's too, carry the description ``ml.evaluate``."""
    scores = _scores(compile_churn_model(model), features, threshold)
    with job_description(features.sparkSession, "ml.evaluate"), cached(scores) as scored:
        yield scored, _aucs(scored)


def evaluate_model(model: PipelineModel, features: DataFrame) -> dict[str, float]:
    """AUC-ROC / AUC-PR on a labeled split: one :func:`auc_metrics` query over
    the :func:`_scores` projection, nothing cached. Its jobs carry the
    description ``ml.evaluate``."""
    with job_description(features.sparkSession, "ml.evaluate"):
        return _aucs(_scores(compile_churn_model(model), features))


def _aucs(scored: DataFrame) -> dict[str, float]:
    """The AUCs of a :func:`_scores` projection, ranked on ``margin``:
    saturated margins tie in probability, not in margin."""
    return auc_metrics(scored.selectExpr("label", "margin AS score")).collect()[0].asDict()


def coefficients_frame(spark: SparkSession, model: PipelineModel) -> DataFrame:
    """Signed coefficients ranked by |β| (reference ``train.py:110-122``
    coefficient export); a coefficient a sparse vector does not store is 0."""
    linear = compile_churn_model(model)
    coefficients = np.zeros(len(linear.feature_cols))
    coefficients[linear.active] = linear.coefficients
    rows = list(zip(linear.feature_cols, coefficients.tolist()))
    return spark.createDataFrame(rows, "feature string, coefficient double").orderBy(
        F.abs(F.col("coefficient")).desc()
    )


_FEATURE_STAGES = ("ImputerModel", "VectorAssembler", "StandardScalerModel")
_LAST_STAGES = ("LogisticRegressionModel", "GeneralizedLinearRegressionModel")


@dataclass(frozen=True)
class LinearChurnModel:
    """The fitted churn pipeline as plain arrays, the one definition of its scores.

    ``surrogates``, ``mean`` and ``scale`` are indexed like ``feature_cols``;
    ``coefficients`` covers only the ``active`` feature indices, the entries
    Spark's dot product reads (a compressed sparse coefficient vector skips
    its zeros, so ``inf * 0`` never turns the margin into NaN there)."""

    feature_cols: tuple[str, ...]
    surrogates: np.ndarray
    mean: np.ndarray
    scale: np.ndarray
    active: np.ndarray
    coefficients: np.ndarray
    intercept: float


def compile_churn_model(model: PipelineModel) -> LinearChurnModel:
    """Read the four fitted churn stages into a :class:`LinearChurnModel`, from
    which every churn score is computed. Collecting the Imputer surrogates is
    its only Spark work (a local relation in a fitted or loaded model: no job
    on Spark 4.1). Raises ``ValueError`` for any stage list other than Imputer
    (NaN missing) → VectorAssembler → StandardScaler(withMean, withStd) → a
    binary LR or a binomial/logit GLR without offset: both are the same
    logistic model, read from the same ``coefficients`` and ``intercept``."""
    names = tuple(type(s).__name__ for s in model.stages)
    if names[:-1] != _FEATURE_STAGES or names[-1] not in _LAST_STAGES:
        raise ValueError(
            f"not a churn pipeline: stages {list(names)}, expected {list(_FEATURE_STAGES)}"
            f" and then one of {list(_LAST_STAGES)}"
        )
    imputer, assembler, scaler, last = model.stages
    if not math.isnan(imputer.getMissingValue()):
        raise ValueError("churn pipeline Imputer must treat NaN (the default) as missing")
    if not (scaler.getWithMean() and scaler.getWithStd()):
        raise ValueError("churn pipeline StandardScaler must have withMean and withStd set")
    if isinstance(last, GeneralizedLinearRegressionModel):
        # An unset link is the family's canonical one, logit for the binomial.
        link = last.getLink() if last.isDefined(last.link) else "logit"
        if (last.getFamily().lower(), link.lower()) != ("binomial", "logit") or last.isDefined(
            last.offsetCol
        ):
            raise ValueError("churn pipeline GLR must be binomial with the logit link, no offset")
    raw_of = dict(zip(imputer.getOutputCols(), imputer.getInputCols()))
    cols = tuple(raw_of[c] for c in assembler.getInputCols())
    surrogate_row = imputer.surrogateDF.collect()[0]
    std = scaler.std.toArray()
    w = last.coefficients
    active = w.indices if isinstance(w, SparseVector) else np.arange(len(w))
    return LinearChurnModel(
        feature_cols=cols,
        surrogates=np.array([float(surrogate_row[c]) for c in cols]),
        mean=scaler.mean.toArray(),
        scale=np.divide(1.0, std, out=np.zeros_like(std), where=std != 0),
        active=np.asarray(active, dtype=np.int64),
        coefficients=np.asarray(w.values, dtype=float),
        intercept=float(last.intercept),
    )


def _coerce(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def score_records(
    linear: LinearChurnModel, records: list[dict], threshold: float = DEFAULT_THRESHOLD
) -> list[dict]:
    """Serving-path inference on the driver, no Spark job (reference
    ``serve_api.py:113-160``): one ``{"p_churn", "prediction"}`` dict per
    record, equal to :func:`score_frame` on the same values.

    Payload rule: a missing, ``None`` or un-floatable feature is 0.0, unknown
    keys are dropped, ``"nan"``/NaN takes the Imputer surrogate and ±inf is
    kept. A NaN probability (from inputs with opposite infinities) predicts
    1.0, because Spark orders NaN above every double."""
    cols = linear.feature_cols
    x = np.array([[_coerce(r.get(c, 0.0)) for c in cols] for r in records], dtype=float)
    x = x.reshape(len(records), len(cols))
    x = np.where(np.isnan(x), linear.surrogates, x)
    with np.errstate(invalid="ignore"):
        z = (x - linear.mean) * linear.scale
        # Spark's left-to-right dot product, so margins match it bit for bit.
        dot = np.zeros(len(records))
        for j, w in zip(linear.active, linear.coefficients):
            dot = dot + z[:, j] * w
    ps = [_p_churn(m) for m in (dot + linear.intercept).tolist()]
    return [{"p_churn": p, "prediction": 1.0 if p != p or p >= threshold else 0.0} for p in ps]


def _p_churn(margin: float) -> float:
    """Spark's binary LR probability, p1 = 1 - 1/(1 + e^margin), with libm's
    ``exp`` (numpy's vectorized one can be an ulp off Spark's)."""
    try:
        e = math.exp(margin)
    except OverflowError:
        e = math.inf
    return 1.0 - 1.0 / (1.0 + e)
