"""End-to-end workflow parity: feature ETL → splits → train → eval → artifacts
(the reference's ``make etl`` / ``make train`` / ``make eval`` lifecycle,
SURVEY.md §3).

Scale fixes over the reference flagged in SURVEY §4:
  * the feature DAG is cached once before the four writes (the reference
    recomputes the whole DAG per write, ``etl.py:147-151``);
  * the threshold search calls the single-pass sweep operator
    (operators/threshold.py), not 303 jobs;
  * evaluation's confusion matrix is one conditional aggregation over the
    sweep's confusion cells, not 4 filter+count actions (``eval.py:74-82``);
  * each split is scored once into a cached projection
    (``ml.pipeline.evaluated``) that both AUCs, one window query
    (``operators.threshold.auc_metrics``), and the sweep or the confusion
    cells read.

Every frame a step caches is released before the step returns, and no other.
"""

from __future__ import annotations

import json
import os

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.retention import churn_feature_frame
from ..operators.threshold import confusion_cells, pick_best, score_curve
from .pipeline import (
    cached,
    coefficients_frame,
    evaluated,
    job_description,
    score_frame,
    train_churn_model,
)

SPLIT_WEIGHTS = [0.7, 0.15, 0.15]
SEED = 42


def run_feature_etl(
    spark: SparkSession, sf_dir: str, out_dir: str, validate: bool = True
) -> dict[str, int]:
    """Build the churn feature table and persist features + train/val/test
    splits (reference ``etl.py:145-151``: randomSplit([0.7,0.15,0.15], 42)).

    With ``validate`` the feature frame must pass its data-quality contract
    (one fused aggregation pass) before anything is written — corrupt
    features fail the job instead of poisoning the model downstream.
    """
    from ..quality import run_checks

    checks = [
        ("custkey_not_null", F.col("custkey").isNull()),
        ("label_binary", ~F.col("label").isin(0.0, 1.0)),
        ("orders_positive", F.col("total_orders") <= 0),
        ("recency_not_null", F.col("recency_days").isNull()),
    ]
    with cached(churn_feature_frame(spark, sf_dir)) as features:
        if validate:
            failed = [r for r in run_checks(features, checks) if not r.passed]
            if failed:
                raise ValueError(f"feature quality contract violated: {failed}")
        features.write.mode("overwrite").parquet(os.path.join(out_dir, "features"))
        splits = features.randomSplit(SPLIT_WEIGHTS, seed=SEED)
        counts = {}
        for name, df in zip(("train", "val", "test"), splits):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
            counts[name] = df.count()
    return counts


def _sweep_best_threshold(
    scored: DataFrame, thr_metric: str = "f1"
) -> dict[str, float]:
    """Single-pass 101-threshold sweep over real scores; ``thr_metric``
    mirrors the reference CLI's ``--thr_metric f1|recall|precision``
    (``train.py:58-102``) with its tie-break: strict ``>`` while iterating
    ascending thresholds keeps the LOWEST t at the max metric value."""
    if thr_metric not in ("f1", "recall", "precision"):
        raise ValueError(f"unknown thr_metric {thr_metric!r}")
    best = pick_best(score_curve(scored), thr_metric).collect()[0]
    return {
        "best_threshold": best["t"],
        "best_f1": best["f1"],
        "precision_at_best": best["precision"],
        "recall_at_best": best["recall"],
    }


def run_training(
    spark: SparkSession,
    out_dir: str,
    cross_validate: bool = False,
    cv_metric: str = "aucpr",
    thr_metric: str = "f1",
) -> dict[str, float]:
    """Train on the persisted train split, select threshold on val, persist
    model + metrics.json + coefficients.csv (reference ``train.py:137-192``).
    ``cv_metric``/``thr_metric`` mirror the reference CLI knobs
    (``--metric``, ``--thr_metric``) with the same defaults."""
    train = spark.read.parquet(os.path.join(out_dir, "train"))
    model = train_churn_model(
        train, cross_validate=cross_validate, seed=SEED, cv_metric=cv_metric
    )
    model.write().overwrite().save(os.path.join(out_dir, "model"))

    val = spark.read.parquet(os.path.join(out_dir, "val"))
    with evaluated(model, val) as (scored, metrics):
        metrics.update(_sweep_best_threshold(scored, thr_metric=thr_metric))

    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    coefficients_frame(spark, model).toPandas().to_csv(
        os.path.join(out_dir, "coefficients.csv"), index=False
    )
    return metrics


def run_plots(
    spark: SparkSession, out_dir: str, split: str = "val", plot_dir: str | None = None
) -> dict[str, str]:
    """Plot-artifact stage (reference ``plot_threshold.py:33-88`` and
    ``plot_feature_importance.py:63-71`` mains): load the persisted model
    and a split, sweep the REAL model scores with the single-pass operator
    (the reference loops 101 pandas passes driver-side,
    ``plot_threshold.py:16-30``), and write ``threshold_curve.csv`` +
    ``threshold_curve.png`` + ``feature_importance.png``. PNGs render
    through the built-in raster encoder (:mod:`..raster`). Only the
    101-row curve and per-feature coefficients are collected — bounded
    artifact sinks."""
    from ..viz import render_feature_importance, render_threshold_curve

    plot_dir = plot_dir or os.path.join(out_dir, "plots")
    os.makedirs(plot_dir, exist_ok=True)
    model = PipelineModel.load(os.path.join(out_dir, "model"))
    sdf = spark.read.parquet(os.path.join(out_dir, split))
    curve = (
        score_curve(score_frame(model, sdf))
        .select("t", "precision", "recall", "f1")
        .orderBy("t")
    )
    with job_description(spark, "ml.score"):
        rows = [r.asDict() for r in curve.collect()]

    csv_path = os.path.join(plot_dir, "threshold_curve.csv")
    with open(csv_path, "w") as f:
        f.write("threshold,precision,recall,f1\n")
        for r in rows:
            f.write(f"{r['t']},{r['precision']},{r['recall']},{r['f1']}\n")

    best = None
    metrics_path = os.path.join(out_dir, "metrics.json")
    if os.path.exists(metrics_path):
        with open(metrics_path) as f:
            best = json.load(f).get("best_threshold")

    curve_png = render_threshold_curve(
        rows, os.path.join(plot_dir, "threshold_curve.png"), best_threshold=best
    )
    coef_rows = [r.asDict() for r in coefficients_frame(spark, model).collect()]
    fi_png = render_feature_importance(
        coef_rows, os.path.join(plot_dir, "feature_importance.png")
    )
    return {"curve_csv": csv_path, "curve_png": curve_png, "importance_png": fi_png}


def run_eval(spark: SparkSession, out_dir: str) -> dict[str, float]:
    """Held-out evaluation: AUCs + confusion matrix at the persisted best
    threshold, confusion cells in ONE conditional aggregation."""
    model = PipelineModel.load(os.path.join(out_dir, "model"))
    with open(os.path.join(out_dir, "metrics.json")) as f:
        threshold = json.load(f)["best_threshold"]

    test = spark.read.parquet(os.path.join(out_dir, "test"))
    with evaluated(model, test, threshold) as (scored, metrics):
        cm = scored.agg(*confusion_cells("prediction = 1.0", "label = 1")).collect()[0]
    metrics.update({k: int(cm[k]) for k in ("tp", "fp", "fn", "tn")})
    metrics["threshold"] = threshold
    return metrics
