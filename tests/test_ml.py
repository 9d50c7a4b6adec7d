"""ML tier — pipeline parity with the reference (stage shapes, class
weighting, serving-path coercion) plus seeded sanity bands."""

from __future__ import annotations

import pytest

from pyspark_retention_pipeline_spark.ml import (
    FEATURE_COLS,
    add_class_weight,
    build_churn_pipeline,
    cast_features,
    coefficients_frame,
    compile_churn_model,
    evaluate_model,
    fit_pipeline,
    score_frame,
    score_records,
    train_churn_model,
    weighted_glr,
    weighted_lr,
)
from pyspark_retention_pipeline_spark.ml.pipeline import fit_partitions
from pyspark_retention_pipeline_spark.operators.retention import churn_feature_frame


@pytest.fixture(scope="module")
def features(spark, sf_dir):
    frame = churn_feature_frame(spark, sf_dir).cache()
    yield frame
    frame.unpersist()


@pytest.fixture(scope="module")
def model(features):
    return train_churn_model(features)


def test_class_weight_balances(features):
    w = add_class_weight(features)
    rows = {r["label"]: r for r in w.groupBy("label").avg("class_weight").collect()}
    assert rows[0.0]["avg(class_weight)"] == 1.0
    counts = {r["label"]: r["count"] for r in features.groupBy("label").count().collect()}
    expected = counts[0.0] / counts[1.0]
    assert abs(rows[1.0]["avg(class_weight)"] - expected) < 1e-9


def test_model_scores_are_probabilities(model, features):
    scored = score_frame(model, features)
    stats = scored.selectExpr(
        "min(p_churn) AS lo", "max(p_churn) AS hi", "count(*) AS n"
    ).collect()[0]
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0
    assert stats["n"] == features.count()


def test_model_beats_random(model, features):
    # The engineered features genuinely predict the seeded churn pattern.
    metrics = evaluate_model(model, features)
    assert metrics["areaUnderROC"] > 0.55, metrics


def test_coefficients_one_per_feature(spark, model):
    coefs = coefficients_frame(spark, model).collect()
    assert len(coefs) == len(FEATURE_COLS)
    assert {r["feature"] for r in coefs} == set(FEATURE_COLS)


def test_serving_coercion(model):
    # Missing features -> 0.0; unknown keys dropped (reference serve_api.py).
    out = score_records(
        compile_churn_model(model),
        [
            {"total_orders": 5, "recency_days": 10, "unknown_key": 123},
            {c: 1.0 for c in FEATURE_COLS},
        ],
    )
    assert len(out) == 2
    for r in out:
        assert 0.0 <= r["p_churn"] <= 1.0
        assert r["prediction"] in (0.0, 1.0)


def _prepared(features, cols=FEATURE_COLS):
    return add_class_weight(cast_features(features, list(cols)))


def test_fit_partitions_rule():
    # rows × (features + label + weight) × 8 bytes per task_bytes
    assert fit_partitions(539, 8, 4 << 20) == 1
    assert fit_partitions(0, 8, 4 << 20) == 1
    assert fit_partitions(100_000, 8, 4 << 20) == 2  # 8 MB
    assert fit_partitions(150, 8, 4096) == 3  # 12000 bytes
    assert fit_partitions(100, 3, 4000) == 1  # exactly one partition's bytes
    assert fit_partitions(100, 3, 3999) == 2


def _iterations(stage) -> int:
    summary = stage.summary
    return summary.numIterations if hasattr(summary, "numIterations") else summary.totalIterations


def test_fit_pipeline_matches_pipeline_fit(features):
    """The staged, sized fit is ``Pipeline.fit``'s math with the same last
    stage, IRLS or LBFGS: only the summation order over partitions differs."""
    import numpy as np
    from pyspark.ml import Pipeline

    for final in (weighted_glr, weighted_lr):
        staged = fit_pipeline(_prepared(features), FEATURE_COLS, final())
        feature_stages = build_churn_pipeline(FEATURE_COLS).getStages()[:-1]
        prepared = _prepared(features).cache()
        try:
            plain = Pipeline(stages=feature_stages + [final()]).fit(prepared)
        finally:
            prepared.unpersist()
        a, b = staged.stages[-1], plain.stages[-1]
        assert type(a) is type(b)
        assert _iterations(a) == _iterations(b)
        assert np.max(np.abs(a.coefficients.toArray() - b.coefficients.toArray())) <= 1e-8
        assert abs(a.intercept - b.intercept) <= 1e-8
        auc_a = evaluate_model(staged, features)["areaUnderROC"]
        auc_b = evaluate_model(plain, features)["areaUnderROC"]
        assert abs(auc_a - auc_b) <= 1e-9


@pytest.mark.parametrize("constant", [False, True])
def test_irls_fit_agrees_with_lbfgs(features, constant):
    """The churn model's IRLS fit converges before its iteration cap and
    lands on the reference's LBFGS fit (``build_churn_pipeline``): on the
    workflow's train split, coefficients within 1e-4 and test AUC within
    1e-3, also with a constant feature (scaler std 0, a zero column)."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_retention_pipeline_spark.ml.workflow import SEED, SPLIT_WEIGHTS

    frame = features.withColumn("recent90_orders", F.lit(2.0)) if constant else features
    train, _, test = frame.randomSplit(SPLIT_WEIGHTS, seed=SEED)
    irls = train_churn_model(train)
    glr = irls.stages[-1]
    assert type(glr).__name__ == "GeneralizedLinearRegressionModel"
    iterations = glr.summary.numIterations
    assert iterations < glr.getMaxIter()
    prepared = _prepared(train).cache()
    try:
        lbfgs = build_churn_pipeline(FEATURE_COLS).fit(prepared)
    finally:
        prepared.unpersist()
    lr = lbfgs.stages[-1]
    assert np.max(np.abs(glr.coefficients.toArray() - lr.coefficients.toArray())) <= 1e-4
    assert abs(glr.intercept - lr.intercept) <= 1e-4
    auc_irls = evaluate_model(irls, test)["areaUnderROC"]
    auc_lbfgs = evaluate_model(lbfgs, test)["areaUnderROC"]
    assert abs(auc_irls - auc_lbfgs) <= 1e-3


def test_glr_other_than_binomial_logit_is_rejected(model):
    """A GLR last stage compiles only as the logistic model."""
    from pyspark.ml import PipelineModel

    glr = model.stages[-1]
    for extra in ({glr.family: "poisson"}, {glr.link: "probit"}, {glr.offsetCol: "offset"}):
        other = PipelineModel(model.stages[:-1] + [glr.copy(extra)])
        with pytest.raises(ValueError, match="binomial with the logit link"):
            compile_churn_model(other)


@pytest.mark.parametrize("source", ["churn", "quality"])
def test_fit_pipeline_releases_its_caches(spark, sf_dir, features, persistent_rdds, source):
    """``fit_pipeline`` caches the sized input and checkpoints the LR input,
    and releases both, on the 8-feature churn frame and on the 256-feature
    quality frame."""
    from pyspark_retention_pipeline_spark.operators import mlops

    if source == "churn":
        frame, cols, final = features, FEATURE_COLS, weighted_glr()
    else:
        frame = mlops.quality_feature_frame(spark, sf_dir).cache()
        cols = [f"f{b}" for b in range(mlops.QC_BUCKETS)]
        final = weighted_lr()
    frame.count()
    try:
        persisted = persistent_rdds()
        model = fit_pipeline(_prepared(frame, cols), cols, final)
        assert persistent_rdds() == persisted
        assert len(model.stages[-1].coefficients) == len(cols)
        # The summary's iteration count still reads once the fit's pin is
        # released (its row-backed fields do not: fit_pipeline's docstring).
        summary = model.stages[-1].summary
        assert (summary.numIterations if source == "churn" else summary.totalIterations) >= 1
    finally:
        if source == "quality":
            frame.unpersist()


def _stages_run(spark, fn) -> list[list]:
    """Run ``fn`` under a fresh job group; for each of its jobs in order, the
    status-tracker infos of the stages that ran (skipped stages excluded)."""
    import uuid

    sc = spark.sparkContext
    group = f"ml-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ml test")
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        infos = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
        out.append([i for i in infos if i is not None and i.numCompletedTasks > 0])
    return out


def _fit_churn(features, fitted: list):
    fitted.append(fit_pipeline(_prepared(features), FEATURE_COLS, weighted_glr()))


def test_fit_pipeline_runs_one_task_per_stage(spark, features):
    """At the default ``spark.sql.files.openCostInBytes`` the fixture (8
    partitions) fits in one partition: every stage after the cache-and-count
    jobs runs a single task, IRLS iterations included."""
    assert features.rdd.getNumPartitions() > 1

    def count_once():
        cached = _prepared(features).cache()
        cached.count()
        cached.unpersist()

    n_count_jobs = len(_stages_run(spark, count_once))
    fitted = []
    jobs = _stages_run(spark, lambda: _fit_churn(features, fitted))
    assert any(s.numTasks > 1 for job in jobs[:n_count_jobs] for s in job)
    after = [s for job in jobs[n_count_jobs:] for s in job]
    # a least-squares solve for the initial model and one per IRLS iteration,
    # after the Imputer, scaler and checkpoint stages
    iterations = fitted[0].stages[-1].summary.numIterations
    solves = [s for s in after if s.name.startswith("treeAggregate")]
    assert len(solves) == 1 + iterations
    assert len(after) > len(solves)
    assert {s.numTasks for s in after} == {1}


def test_fit_pipeline_sizes_lr_input_to_open_cost_in_bytes(spark, features):
    """With a small ``spark.sql.files.openCostInBytes`` the IRLS passes read
    the computed k > 1 partitions: the first stage of every ``treeAggregate``
    job, one least-squares solve for the initial model and one per iteration,
    runs k tasks (its final-aggregate stage runs one)."""
    key = "spark.sql.files.openCostInBytes"
    rows = features.count()
    original = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        k = fit_partitions(rows, len(FEATURE_COLS), 4 << 10)  # Spark reads "4k" as 4096
        assert 1 < k < features.rdd.getNumPartitions()
        fitted = []
        jobs = _stages_run(spark, lambda: _fit_churn(features, fitted))
    finally:
        spark.conf.set(key, original)
    passes = [
        min(job, key=lambda s: s.stageId)
        for job in jobs
        if any(s.name.startswith("treeAggregate") for s in job)
    ]
    iterations = fitted[0].stages[-1].summary.numIterations
    assert len(passes) == 1 + iterations
    assert {s.numTasks for s in passes} == {k}


def test_fit_jobs_carry_the_ml_fit_description(spark, features):
    """Every job of a fit carries the description ``ml.fit``; the job group
    and its description are the caller's again afterwards."""
    import uuid

    sc = spark.sparkContext
    group = f"ml-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ml test")
    _fit_churn(features, [])
    assert sc.getLocalProperty("spark.job.description") == "ml test"
    assert sc.getLocalProperty("spark.jobGroup.id") == group
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs
    assert {store.job(j).description().get() for j in jobs} == {"ml.fit"}


@pytest.fixture(scope="module")
def cv_churn_model(features):
    """The best model of a small CV search (2×1 grid, 2 folds), and its frame."""
    model = train_churn_model(
        features,
        cross_validate=True,
        cv_reg_params=[0.0, 0.02],
        cv_elastic_params=[1.0],
        cv_num_folds=2,
    )
    return model, features


def _mllib_scores(fitted, frame):
    """MLlib's ``transform`` of ``frame`` with its margin as ``mllib_margin``
    and P(churn) as ``mllib_p``: ``rawPrediction[1]`` and ``probability[1]``
    of an LR stage, the link prediction and ``prediction`` of a GLR stage."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    last = fitted.stages[-1]
    if type(last).__name__ == "GeneralizedLinearRegressionModel":
        linked = last.copy({last.linkPredictionCol: "mllib_margin"})
        out = PipelineModel(fitted.stages[:-1] + [linked]).transform(frame)
        return out.withColumn("mllib_p", F.col("prediction"))
    return fitted.transform(frame).select(
        "*",
        vector_to_array("rawPrediction")[1].alias("mllib_margin"),
        vector_to_array("probability")[1].alias("mllib_p"),
    )


@pytest.mark.parametrize("which", ["fit", "sparse", "cv"])
def test_compiled_scores_match_mllib(request, model, features, which):
    """The compiled projection against MLlib's ``transform``, which stays the
    reference, for the IRLS churn fit (a GLR stage) and two LR stages:
    ``margin`` is MLlib's margin exactly, the AUCs are the evaluator's on it
    within 1e-12 (their trapezoids summed in another order), ``p_churn`` is
    within 4.5e-16 of MLlib's P(churn) (SQL's ``exp``
    against ``Math.exp``; GLR's unlink 1/(1 + e^−m) against 1 − 1/(1 + e^m)),
    and no prediction flips at any of the sweep's 101 thresholds."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from pyspark_retention_pipeline_spark.ml.pipeline import _scores

    if which == "fit":
        fitted, frame = model, features
        assert type(fitted.stages[-1]).__name__ == "GeneralizedLinearRegressionModel"
    else:
        fitted, frame = request.getfixturevalue(f"{which}_churn_model")
        assert type(fitted.stages[-1]).__name__ == "LogisticRegressionModel"
    reference = _mllib_scores(fitted, cast_features(frame, FEATURE_COLS))
    ev = BinaryClassificationEvaluator(rawPredictionCol="mllib_margin")
    want = {m: ev.setMetricName(m).evaluate(reference) for m in ("areaUnderROC", "areaUnderPR")}
    got = evaluate_model(fitted, frame)
    assert got.keys() == want.keys()
    assert all(abs(got[m] - want[m]) <= 1e-12 for m in want), (got, want)
    mllib = reference.select("custkey", "mllib_margin", "mllib_p")
    ref = {r.custkey: (r.mllib_margin, r.mllib_p) for r in mllib.collect()}
    scored = _scores(compile_churn_model(fitted), frame)
    got = {r.custkey: (r.margin, r.p_churn) for r in scored.collect()}
    assert got.keys() == ref.keys() and len(got) == frame.count()
    thresholds = [i / 100 for i in range(101)]
    for key, (margin, p) in got.items():
        ref_margin, ref_p = ref[key]
        assert margin == ref_margin, key
        assert abs(p - ref_p) <= 4.5e-16, key
        assert [p >= t for t in thresholds] == [ref_p >= t for t in thresholds], key


def test_evaluate_model_scores_the_cast_frame(spark, model, features):
    """``evaluate_model`` scores the cast split without ``class_weight``,
    which neither AUC reads: its AUCs equal the evaluator's on the
    class-weighted frame within 1e-12, from one ``auc_metrics`` query of at
    most 3 jobs (both evaluators ran 10; scoring the weighted frame 12)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    weighted = _mllib_scores(model, _prepared(features))
    ev = BinaryClassificationEvaluator(rawPredictionCol="mllib_margin")
    want = {m: ev.setMetricName(m).evaluate(weighted) for m in ("areaUnderROC", "areaUnderPR")}
    got = {}
    jobs = _stages_run(spark, lambda: got.update(evaluate_model(model, features)))
    assert got.keys() == want.keys()
    assert all(abs(got[m] - want[m]) <= 1e-12 for m in want), (got, want)
    assert len(jobs) <= 3


def test_sweep_best_threshold_runs_two_jobs(spark, model, features):
    """The 101-threshold sweep and its pick run at most 2 jobs: the
    aggregation's shuffle stage and the result."""
    from pyspark_retention_pipeline_spark.ml.workflow import _sweep_best_threshold

    best = {}
    jobs = _stages_run(
        spark, lambda: best.update(_sweep_best_threshold(score_frame(model, features)))
    )
    assert 0.0 <= best["best_threshold"] <= 1.0
    assert len(jobs) <= 2


def test_session_cache_builds_once_and_evicts_other_apps():
    """The ML registry queries' session cache builds once per
    (applicationId, sf_dir) and drops entries of other applications."""
    from types import SimpleNamespace

    from pyspark_retention_pipeline_spark.operators.mlops import _session_cached

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    cache, builds = {}, []

    def build():
        builds.append(1)
        return len(builds)

    assert _session_cached(cache, session("a"), "sf", build) == 1
    assert _session_cached(cache, session("a"), "sf", build) == 1
    assert _session_cached(cache, session("a"), "sf2", build) == 2
    assert _session_cached(cache, session("b"), "sf", build) == 3
    assert set(cache) == {("b", "sf")}


def test_cv_folds_are_crossvalidators_own_split(features):
    """The CV path draws its folds before sizing, and they are the rows
    CrossValidator's seeded split puts in each validation fold of the
    unsized frame: the coalesce cannot move a row to another fold."""
    from pyspark.ml.tuning import CrossValidator
    from pyspark.sql import functions as F

    from pyspark_retention_pipeline_spark.ml.pipeline import _cv_fold, _sized

    def keys(frame):
        return {r.custkey for r in frame.select("custkey").collect()}

    prepared = _prepared(features)
    for seed, n_folds in ((42, 3), (7, 2)):
        split = CrossValidator(numFolds=n_folds, seed=seed)._kFold(prepared)
        own = [keys(validation) for _, validation in split]
        folded = prepared.withColumn("cv_fold", _cv_fold(seed, n_folds))
        with _sized(folded, len(FEATURE_COLS)) as sized:
            assert sized.rdd.getNumPartitions() < prepared.rdd.getNumPartitions()
            drawn = [keys(sized.filter(F.col("cv_fold") == i)) for i in range(n_folds)]
        assert drawn == own
        assert all(own)


def test_golden_auc_and_threshold_on_reference_shaped_split(spark):
    """Golden-number regression against the reference's published metric
    semantics (/root/reference/data/models/latest_model/metrics.json:
    val_auc_roc 0.7602, val_auc_pr 0.6778, best_threshold.value == f1).
    The reference's exact numbers are tied to its private retail CSV, so the
    check here is on a seeded synthetic split with a KNOWN generative model:
    the trained pipeline's AUC must land within a tolerance band of the
    Bayes-optimal AUC (computed from the true scores), in the same magnitude
    range the reference publishes, and the single-pass sweep's argmax-F1
    threshold must agree exactly with a driver-side recomputation using the
    reference tie-break (lowest t among F1 ties)."""
    import numpy as np

    from pyspark.sql import functions as F

    from pyspark_retention_pipeline_spark.operators.threshold import (
        sweep_scores,
        with_metrics,
    )

    rng = np.random.default_rng(42)
    n = 3000
    X = rng.normal(size=(n, len(FEATURE_COLS)))
    w = np.array([0.9, -0.7, 0.5, 0.4, -0.3, 0.6, -0.5, 0.2])
    true_score = X @ (w * 1.3 / np.linalg.norm(w))
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-true_score))).astype(float)

    def rank_auc(scores: np.ndarray, labels: np.ndarray) -> float:
        order = np.argsort(scores)
        ranks = np.empty(len(scores))
        ranks[order] = np.arange(1, len(scores) + 1)
        pos = labels == 1
        n_pos, n_neg = pos.sum(), (~pos).sum()
        return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))

    bayes_auc = rank_auc(true_score, y)

    schema = "label double, " + ", ".join(f"{c} double" for c in FEATURE_COLS)
    rows = [(float(y[i]), *[float(v) for v in X[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, schema)
    persisted_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    model = train_churn_model(df)
    metrics = evaluate_model(model, df)
    # training and evaluation release every frame they cache
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted_before

    assert abs(metrics["areaUnderROC"] - bayes_auc) < 0.05, (metrics, bayes_auc)
    assert 0.6 < metrics["areaUnderROC"] < 0.95
    assert 0.0 < metrics["areaUnderPR"] <= 1.0

    scored = score_frame(model, df).select("label", F.col("p_churn").alias("score"))
    best = (
        with_metrics(sweep_scores(scored))
        .orderBy(F.col("f1").desc(), F.col("t").asc())
        .limit(1)
        .collect()[0]
    )
    data = scored.collect()
    sc = np.array([r["score"] for r in data])
    yy = np.array([r["label"] for r in data])
    best_f1, best_t = -1.0, None
    for i in range(101):
        t = i / 100.0
        tp = int(((sc >= t) & (yy == 1)).sum())
        fp = int(((sc >= t) & (yy == 0)).sum())
        fn = int(((sc < t) & (yy == 1)).sum())
        prec = tp / max(tp + fp, 1)
        rec = tp / max(tp + fn, 1)
        f1 = 2 * prec * rec / (prec + rec + 1e-9)
        if f1 > best_f1:  # strict > keeps the LOWEST t among ties
            best_f1, best_t = f1, t
    assert best["t"] == pytest.approx(best_t, abs=1e-12)
    assert best["f1"] == pytest.approx(best_f1, abs=1e-9)


@pytest.mark.slow
def test_quality_classifier_planted_separability(spark, monkeypatch):
    """fastText-shape quality classifier on a planted bimodal corpus:
    'fluent' docs reuse a tiny frequent vocabulary (high unigram-LM score),
    'gibberish' docs are corpus-wide hapax storms (very negative score) —
    the hashed-n-gram LR must separate them near-perfectly and rank every
    fluent doc above every gibberish doc."""
    import pyspark_retention_pipeline_spark.operators.mlops as mo
    import pyspark_retention_pipeline_spark.operators.text_quality as tq

    good = [
        (i, " ".join(["the cat sat on the mat and the dog ran"] * 2))
        for i in range(30)
    ]
    bad = [
        (100 + i, " ".join(f"zz{i}x{j}" for j in range(20)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(good + bad, "doc_id long, text string")
    monkeypatch.setattr(mo, "load_table", lambda *_, **__: docs)
    monkeypatch.setattr(tq, "load_table", lambda *_, **__: docs)
    mo._QC_CACHE.clear()
    out = mo.quality_classifier_scores(spark, "planted-qc").toPandas()
    mo._QC_CACHE.clear()
    assert len(out) == 60
    acc = (out.label == out.pred).mean()
    assert acc >= 0.95, f"planted separability acc {acc}"
    good_scores = out[out.doc_id < 100].qc_score
    bad_scores = out[out.doc_id >= 100].qc_score
    assert good_scores.min() > bad_scores.max()


@pytest.mark.slow
def test_quality_classifier_build_releases_its_pins(spark, sf_dir):
    """The session cache builds the quality classifier in a pins scope of
    its own: after the first build no local checkpoint stays persisted (its
    feature frame's pins went with the build), and the scores, which read
    the cached feature frame, still return every document."""
    import pyspark_retention_pipeline_spark.operators.mlops as mo

    for _, cached_features in mo._QC_CACHE.values():
        cached_features.unpersist()
    mo._QC_CACHE.clear()
    _, features = mo._train_quality(spark, sf_dir)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    assert not [i for i in rdds.keySet() if rdds.get(i).rdd().isLocallyCheckpointed()]
    assert mo.quality_classifier_scores(spark, sf_dir).count() == features.count() > 0


@pytest.mark.slow
def test_quality_classifier_agrees_with_unigram_lm(spark, sf_dir):
    """The distillation target check (round-12 verdict item 4): on the real
    corpus the learned scores must track the unigram-LM signal they distill
    — high label accuracy and strongly positive rank correlation with
    avg_logprob (measured 1.00 / 0.86 at sf0.001; bands leave noise room)."""
    import pyspark_retention_pipeline_spark.operators.mlops as mo
    from pyspark_retention_pipeline_spark.operators.text_quality import (
        unigram_logprob_score,
    )

    out = mo.quality_classifier_scores(spark, sf_dir).toPandas()
    acc = (out.label == out.pred).mean()
    assert acc >= 0.9, f"label accuracy {acc}"
    lm = unigram_logprob_score(spark, sf_dir).toPandas()
    merged = out.merge(lm, on="doc_id")
    rho = merged[["qc_score", "avg_logprob"]].corr(method="spearman").iloc[0, 1]
    assert rho >= 0.6, f"spearman vs distillation signal {rho}"
    # scores are probabilities
    assert out.qc_score.between(0.0, 1.0).all()
