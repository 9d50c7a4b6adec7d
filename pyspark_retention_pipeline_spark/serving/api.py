"""Online inference (reference ``pipeline/serve_api.py`` parity, SURVEY.md §3.3).

Library-first: :class:`ChurnScorer` is the engine artifact — model loading,
schema authority (the persisted VectorAssembler input columns, mirroring
``serve_api.py:87-89`` where the model artifact defines the feature schema),
payload coercion, thresholded prediction. The scorer compiles the fitted
stages once into the model's one scoring definition
(:func:`ml.compile_churn_model`, which :func:`ml.score_frame` projects over
DataFrames) and scores every request on the driver with its numpy form
(:func:`ml.score_records`): a request launches no Spark job. It is
safe to share between threads and counts its requests, records and errors in
:meth:`ChurnScorer.health`. The HTTP layer is a thin optional wrapper: FastAPI
is not in this container, so :func:`create_app` import-gates it (SURVEY §7
phase 3 — the API is glue, not engine).
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.ml import PipelineModel
from pyspark.sql import SparkSession

from .. import ml
from ..constants import DEFAULT_THRESHOLD


class ChurnScorer:
    """Loaded churn model + schema + threshold, exposing dict-in/dict-out
    prediction (the engine side of POST /predict)."""

    def __init__(
        self, spark: SparkSession, model: PipelineModel, threshold: float = DEFAULT_THRESHOLD
    ):
        self.spark = spark
        self.model = model
        self.threshold = float(threshold)
        self.linear = ml.compile_churn_model(model)
        # The model artifact is the schema authority (serve_api.py:87-98).
        self.feature_cols = list(self.linear.feature_cols)
        self._lock = threading.Lock()
        self._counts = {"requests": 0, "records": 0, "errors": 0}

    @classmethod
    def load(cls, spark: SparkSession, artifacts_dir: str) -> "ChurnScorer":
        """Load from a workflow artifacts directory (model/ + metrics.json)."""
        model = PipelineModel.load(os.path.join(artifacts_dir, "model"))
        threshold = DEFAULT_THRESHOLD
        metrics_path = os.path.join(artifacts_dir, "metrics.json")
        if os.path.exists(metrics_path):
            with open(metrics_path) as f:
                threshold = json.load(f).get("best_threshold", DEFAULT_THRESHOLD)
        return cls(spark, model, threshold)

    def schema(self) -> dict:
        # ``required_features`` is the reference's response contract
        # (serve_api.py:190); ``features``/``threshold`` are kept alongside
        # for callers of the richer engine-native shape (ADVICE r7).
        return {
            "required_features": self.feature_cols,
            "features": self.feature_cols,
            "threshold": self.threshold,
        }

    def health(self) -> dict:
        # Reference /health returns the schema inline (serve_api.py:180-184).
        with self._lock:
            counts = dict(self._counts)
        return {
            "status": "ok",
            "n_features": len(self.feature_cols),
            "features": self.feature_cols,
            "threshold": self.threshold,
            **counts,
        }

    def predict(self, records: list[dict]) -> list[dict]:
        """Score a batch of feature dicts (missing, None or non-numeric → 0.0,
        "nan" → the training mean, unknown keys dropped)."""
        try:
            # Looked up on the package at call time, so a wrapper installed
            # there sees every serving call.
            rows = ml.score_records(self.linear, records, threshold=self.threshold)
        except Exception:
            self._count(requests=1, errors=1)
            raise
        self._count(requests=1, records=len(rows))
        return [{"probability": r["p_churn"], "prediction": r["prediction"]} for r in rows]

    def _count(self, **deltas: int) -> None:
        with self._lock:
            for k, v in deltas.items():
                self._counts[k] += v


def create_app(scorer: ChurnScorer):
    """FastAPI wrapper over a :class:`ChurnScorer` — /health, /schema,
    /predict, /predict_batch (reference ``serve_api.py:177-221``). Payloads
    validate through pydantic models exactly like the reference's
    ``PredictItem`` / ``PredictBatch`` (a request without ``features`` is a
    422, not a silent empty-record score); an empty batch short-circuits to
    ``n=0`` (``serve_api.py:214-216``). Raises ImportError where FastAPI
    isn't installed (this container; tests exercise the routes with
    TestClient when it is)."""
    try:
        from fastapi import FastAPI
        from pydantic import BaseModel
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            "fastapi is not installed; use ChurnScorer directly or install "
            "fastapi+uvicorn for the HTTP layer"
        ) from e

    class PredictItem(BaseModel):
        features: dict

    class PredictBatch(BaseModel):
        items: list[PredictItem]

    app = FastAPI(title="churn-scorer")

    @app.get("/health")
    def health():
        return scorer.health()

    @app.get("/schema")
    def schema():
        return scorer.schema()

    @app.post("/predict")
    def predict(payload: PredictItem):
        out = scorer.predict([payload.features])
        return {"n": 1, "threshold": scorer.threshold, "results": out}

    @app.post("/predict_batch")
    def predict_batch(payload: PredictBatch):
        if not payload.items:
            return {"n": 0, "threshold": scorer.threshold, "results": []}
        out = scorer.predict([i.features for i in payload.items])
        return {"n": len(out), "threshold": scorer.threshold, "results": out}

    return app
