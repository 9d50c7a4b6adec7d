"""MLlib tier — churn pipeline builder, training, evaluation, scoring."""

from .pipeline import (
    FEATURE_COLS,
    LinearChurnModel,
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

__all__ = [
    "FEATURE_COLS",
    "LinearChurnModel",
    "add_class_weight",
    "build_churn_pipeline",
    "cast_features",
    "coefficients_frame",
    "compile_churn_model",
    "evaluate_model",
    "fit_pipeline",
    "score_frame",
    "score_records",
    "train_churn_model",
    "weighted_glr",
    "weighted_lr",
]
