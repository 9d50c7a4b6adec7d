"""End-to-end lifecycle: ETL → splits → train → eval → artifacts (the
reference's make etl/train/eval flow on the star-schema testdata)."""

from __future__ import annotations

import json
import os

from pyspark_retention_pipeline_spark.ml.workflow import (
    run_eval,
    run_feature_etl,
    run_training,
)


def test_full_lifecycle(spark, sf_dir, tmp_path, persistent_rdds):
    out = str(tmp_path / "artifacts")
    # Every frame the lifecycle caches is released by the step that cached
    # it, and it releases no cache it did not make (see ``persistent_rdds``).
    held = spark.range(3).cache()  # a cache the lifecycle must not release
    held.count()
    persisted_before = persistent_rdds()

    counts = run_feature_etl(spark, sf_dir, out)
    assert set(counts) == {"train", "val", "test"}
    assert all(n > 0 for n in counts.values())
    for artifact in ("features", "train", "val", "test"):
        assert os.path.isdir(os.path.join(out, artifact))

    metrics = run_training(spark, out)
    assert 0.0 <= metrics["areaUnderROC"] <= 1.0
    assert 0.0 <= metrics["best_threshold"] <= 1.0
    assert os.path.isfile(os.path.join(out, "metrics.json"))
    assert os.path.isfile(os.path.join(out, "coefficients.csv"))
    assert os.path.isdir(os.path.join(out, "model"))
    with open(os.path.join(out, "metrics.json")) as f:
        persisted = json.load(f)
    assert persisted["best_threshold"] == metrics["best_threshold"]

    test_metrics = run_eval(spark, out)
    n_test = counts["test"]
    assert test_metrics["tp"] + test_metrics["fp"] + test_metrics["fn"] + test_metrics["tn"] == n_test
    assert test_metrics["threshold"] == metrics["best_threshold"]

    # The eval's confusion cells are the sweep's row at t = threshold on the
    # same split: both count with one predicate.
    from pyspark.ml import PipelineModel
    from pyspark.sql import functions as F

    from pyspark_retention_pipeline_spark.ml import score_frame
    from pyspark_retention_pipeline_spark.operators.threshold import sweep_scores

    model = PipelineModel.load(os.path.join(out, "model"))
    scored = score_frame(model, spark.read.parquet(os.path.join(out, "test")))
    sweep_row = (
        sweep_scores(scored.select("label", F.col("p_churn").alias("score")))
        .where(F.col("t") == test_metrics["threshold"])
        .collect()
    )
    assert len(sweep_row) == 1
    for cell in ("tp", "fp", "fn", "tn"):
        assert test_metrics[cell] == sweep_row[0][cell], cell

    # Plot stage (reference plot_threshold.py / plot_feature_importance.py):
    # curve CSV with 101 rows + two decodable PNG artifacts.
    from pyspark_retention_pipeline_spark.ml.workflow import run_plots
    from pyspark_retention_pipeline_spark.raster import decode_png

    paths = run_plots(spark, out)
    lines = open(paths["curve_csv"]).read().strip().splitlines()
    assert lines[0] == "threshold,precision,recall,f1"
    assert len(lines) == 102  # header + 101 thresholds
    for key in ("curve_png", "importance_png"):
        img = decode_png(open(paths[key], "rb").read())
        assert img.shape == (500, 700, 3)

    assert persistent_rdds() == persisted_before
    held.unpersist()


def test_lifecycle_keeps_a_callers_cache(spark, sf_dir, tmp_path, persistent_rdds):
    """Spark keeps one cache entry per plan, so a step that cached and then
    released the caller's plan would drop the caller's cache. The caller's
    caches of the feature frame and of the fit's input survive
    ``run_feature_etl`` and ``train_churn_model`` on the same plans."""
    from pyspark.storagelevel import StorageLevel

    from pyspark_retention_pipeline_spark.ml import (
        FEATURE_COLS,
        add_class_weight,
        cast_features,
        train_churn_model,
    )
    from pyspark_retention_pipeline_spark.operators.retention import churn_feature_frame

    held = churn_feature_frame(spark, sf_dir).cache()
    prepared = add_class_weight(cast_features(held, FEATURE_COLS)).cache()
    prepared.count()
    try:
        persisted_before = persistent_rdds()
        run_feature_etl(spark, sf_dir, str(tmp_path / "artifacts"))
        train_churn_model(churn_feature_frame(spark, sf_dir))
        assert persistent_rdds() == persisted_before
        assert StorageLevel.NONE not in (held.storageLevel, prepared.storageLevel)
    finally:
        prepared.unpersist()
        held.unpersist()


def test_split_determinism(spark, sf_dir, tmp_path):
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    c1 = run_feature_etl(spark, sf_dir, out1)
    c2 = run_feature_etl(spark, sf_dir, out2)
    # Seeded randomSplit: same sizes on re-run (SURVEY §7: assert sizes and
    # disjointness, not exact membership).
    assert c1 == c2
    train = spark.read.parquet(os.path.join(out1, "train")).select("custkey")
    val = spark.read.parquet(os.path.join(out1, "val")).select("custkey")
    assert train.intersect(val).count() == 0


def test_thr_metric_knob_matches_reference_semantics(spark, sf_dir, tmp_path):
    """--thr_metric recall|precision parity (reference train.py:58-102):
    maximizing recall favors LOW thresholds, precision HIGH ones, and both
    use the lowest-t tie-break."""
    import pyspark.sql.functions as F

    from pyspark_retention_pipeline_spark.ml.workflow import _sweep_best_threshold

    rows = [(1.0, 0.9), (1.0, 0.7), (0.0, 0.4), (0.0, 0.2), (1.0, 0.3)]
    scored = spark.createDataFrame(rows, "label double, p_churn double")
    by_recall = _sweep_best_threshold(scored, thr_metric="recall")
    by_precision = _sweep_best_threshold(scored, thr_metric="precision")
    by_f1 = _sweep_best_threshold(scored, thr_metric="f1")
    # recall is maximal (=1) at t=0 and the tie-break keeps the lowest t
    assert by_recall["best_threshold"] == 0.0
    # precision hits 1.0 once the lone negative above 0.4 is excluded;
    # lowest such t is 0.41
    assert by_precision["best_threshold"] == 0.41
    assert by_f1["best_threshold"] <= by_precision["best_threshold"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _sweep_best_threshold(scored, thr_metric="accuracy")
