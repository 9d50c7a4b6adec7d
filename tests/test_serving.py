"""Serving tier (reference serve_api parity): model-as-schema-authority,
payload coercion, thresholded output, optional HTTP wrapper gating."""

from __future__ import annotations

import json
import math
import threading
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.ml import PipelineModel
from pyspark.sql import types as T

from pyspark_retention_pipeline_spark import ml
from pyspark_retention_pipeline_spark.ml import FEATURE_COLS, train_churn_model
from pyspark_retention_pipeline_spark.operators.retention import churn_feature_frame
from pyspark_retention_pipeline_spark.serving import ChurnScorer, create_app


@pytest.fixture(scope="module")
def scorer(spark, sf_dir):
    model = train_churn_model(churn_feature_frame(spark, sf_dir))
    return ChurnScorer(spark, model, threshold=0.46)


def test_schema_comes_from_model(scorer):
    # required_features is the reference response contract (serve_api.py:190);
    # asserting it here keeps the key pinned even where fastapi is absent
    # and the route-level test skips.
    assert scorer.schema()["required_features"] == FEATURE_COLS
    assert scorer.schema()["features"] == FEATURE_COLS
    assert scorer.schema()["threshold"] == 0.46
    assert scorer.health()["status"] == "ok"


def test_predict_single_and_batch(scorer):
    out = scorer.predict([{"total_orders": 3.0, "recency_days": 200.0}])
    assert len(out) == 1
    assert 0.0 <= out[0]["probability"] <= 1.0
    assert out[0]["prediction"] in (0.0, 1.0)

    batch = scorer.predict(
        [{c: 1.0 for c in FEATURE_COLS}, {"unknown_key": 9.9}, {}]
    )
    assert len(batch) == 3


def test_threshold_applies(scorer):
    out = scorer.predict([{c: 0.0 for c in FEATURE_COLS}])
    p = out[0]["probability"]
    assert out[0]["prediction"] == (1.0 if p >= 0.46 else 0.0)


def test_http_wrapper_gated(scorer):
    # FastAPI is absent in this container: the wrapper must fail loudly and
    # name the fix, leaving the library path usable.
    try:
        import fastapi  # noqa: F401

        app = create_app(scorer)
        assert app is not None
    except ImportError:
        with pytest.raises(ImportError, match="fastapi"):
            create_app(scorer)


def test_coercion_rules_pinned(scorer):
    """Reference serve_api.py:122-130: missing feature -> 0.0, unknown key
    dropped, un-floatable value -> 0.0. Pinned by score equivalence: all four
    payloads must produce the IDENTICAL probability."""
    explicit_zero = {c: 0.0 for c in FEATURE_COLS}
    payloads = [
        explicit_zero,                                  # baseline
        {},                                             # all missing -> 0.0
        {"definitely_unknown_key": 123.4},              # unknown dropped
        {FEATURE_COLS[0]: "not-a-number"},              # un-floatable -> 0.0
        {FEATURE_COLS[0]: None},                        # null -> 0.0
    ]
    out = scorer.predict(payloads)
    probs = {round(r["probability"], 12) for r in out}
    assert len(probs) == 1, f"coercion rules diverged: {probs}"
    # And a string that IS floatable must coerce to its numeric value.
    as_str = scorer.predict([{c: "1.0" for c in FEATURE_COLS}])
    as_num = scorer.predict([{c: 1.0 for c in FEATURE_COLS}])
    assert round(as_str[0]["probability"], 12) == round(as_num[0]["probability"], 12)
    # "nan" takes the feature's Imputer surrogate (its training mean), and
    # "inf" is kept as infinity.
    surrogates = scorer.model.stages[0].surrogateDF.collect()[0]
    for c in FEATURE_COLS:
        as_nan, as_mean = scorer.predict([{c: "nan"}, {c: surrogates[c]}])
        assert as_nan == as_mean, c
        as_inf_str, as_inf = scorer.predict([{c: "inf"}, {c: float("inf")}])
        assert as_inf_str == as_inf, c


# --- Driver-side scoring: parity with ml.score_frame, no Spark jobs --------


@pytest.fixture(scope="module")
def sparse_scorer(spark, sparse_churn_model):
    return ChurnScorer(spark, sparse_churn_model[0], threshold=0.5)


def _num(v) -> float:
    """The serving payload rule, written out independently of the package."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _reference(spark, scorer, records: list[dict]) -> list:
    """``ml.score_frame`` rows for ``records``, in record order."""
    schema = T.StructType(
        [T.StructField("custkey", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in scorer.feature_cols]
    )
    rows = [(i, *[_num(r.get(c)) for c in scorer.feature_cols]) for i, r in enumerate(records)]
    scored = ml.score_frame(scorer.model, spark.createDataFrame(rows, schema), scorer.threshold)
    return sorted(scored.collect(), key=lambda r: r["custkey"])


VALUES = st.one_of(
    st.sampled_from(
        [None, "n/a", "nan", float("nan"), float("inf"), float("-inf"), "inf", "-inf", "3.5"]
    ),
    st.floats(min_value=-1e4, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e4, max_value=1e6, allow_nan=False).map(str),
)
PAYLOAD = st.dictionaries(st.sampled_from(FEATURE_COLS + ["unknown_key"]), VALUES)


@pytest.mark.parametrize("which", ["scorer", "sparse_scorer"])
@given(records=st.lists(PAYLOAD, min_size=1, max_size=64))
@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
def test_predict_matches_score_frame(spark, request, which, records):
    scorer = request.getfixturevalue(which)
    got = scorer.predict(records)
    want = _reference(spark, scorer, records)
    assert len(got) == len(want)
    for rec, g, w in zip(records, got, want):
        p, ref = g["probability"], w["p_churn"]
        assert math.isnan(p) == math.isnan(ref), (rec, g, ref)
        if not math.isnan(ref):
            assert abs(p - ref) <= 1e-12, (rec, g, ref)
        assert g["prediction"] == w["prediction"], (rec, g, w)


def test_opposite_infinities_predict_churn(scorer):
    # inf in a positive- and a negative-coefficient feature: the margin and
    # p are NaN, and Spark's NaN-above-everything ordering predicts 1.0.
    coefs = dict(zip(FEATURE_COLS, scorer.model.stages[-1].coefficients.toArray()))
    up = next(c for c, w in coefs.items() if w > 0)
    down = next(c for c, w in coefs.items() if w < 0)
    (out,) = scorer.predict([{up: "inf", down: float("inf")}])
    assert math.isnan(out["probability"]) and out["prediction"] == 1.0


def test_requests_run_no_spark_jobs(spark, scorer):
    sc = spark.sparkContext
    payloads = [{c: float(i % 7) for c in FEATURE_COLS} for i in range(256)]

    def jobs_in_group(fn) -> int:
        group = f"serving-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "serving test")
        fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    assert jobs_in_group(lambda: scorer.predict(payloads[:1])) == 0
    assert jobs_in_group(lambda: scorer.predict(payloads)) == 0
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted
    # The counting itself works: the DataFrame path does launch jobs.
    assert jobs_in_group(lambda: _reference(spark, scorer, payloads[:1])) >= 1


def test_loaded_scorer_matches_in_memory(spark, scorer, tmp_path):
    scorer.model.write().save(str(tmp_path / "model"))
    (tmp_path / "metrics.json").write_text(json.dumps({"best_threshold": scorer.threshold}))
    loaded = ChurnScorer.load(spark, str(tmp_path))
    payloads = [{}, {c: float(i + 1) for i, c in enumerate(FEATURE_COLS)}, {"total_qty": "nan"}]
    assert loaded.threshold == scorer.threshold
    assert loaded.feature_cols == scorer.feature_cols
    assert loaded.predict(payloads) == scorer.predict(payloads)


def test_loaded_lr_artifact_predicts_as_before(spark, sparse_scorer, tmp_path):
    """A saved pipeline whose last stage is an LBFGS LR, as every artifact
    fitted before the churn fit moved to IRLS, loads and predicts exactly as
    the in-memory model does."""
    sparse_scorer.model.write().save(str(tmp_path / "model"))
    loaded = ChurnScorer.load(spark, str(tmp_path))
    assert type(loaded.model.stages[-1]).__name__ == "LogisticRegressionModel"
    payloads = [{}, {c: float(i + 1) for i, c in enumerate(FEATURE_COLS)}, {"total_qty": "nan"}]
    assert loaded.predict(payloads) == sparse_scorer.predict(payloads)


def test_non_churn_pipeline_is_rejected(scorer):
    tail = PipelineModel(stages=scorer.model.stages[1:])
    with pytest.raises(ValueError, match="VectorAssembler.*StandardScalerModel"):
        ml.compile_churn_model(tail)
    with pytest.raises(ValueError, match="LogisticRegressionModel"):
        ChurnScorer(scorer.spark, tail)


def test_concurrent_predict_matches_serial_and_counts(spark, scorer):
    import sys

    fresh = ChurnScorer(spark, scorer.model, scorer.threshold)
    batches = [
        [{c: float((i * 13 + j) % 97) for c in FEATURE_COLS[: 1 + i % 8]} for j in range(1 + i % 5)]
        for i in range(80)
    ]
    serial = [scorer.predict(b) for b in batches]
    n_clients = 8  # more clients than cores
    results: dict[int, list] = {}
    errors: list[Exception] = []

    def client(k: int) -> None:
        for i in range(k, len(batches), n_clients):
            results[i] = fresh.predict(batches[i])
        try:
            fresh.predict([None])  # not a dict: one failed request per client
        except AttributeError as e:
            errors.append(e)

    threads = [threading.Thread(target=client, args=(k,)) for k in range(n_clients)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, so lost updates would show
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert [results[i] for i in range(len(batches))] == serial
    health = fresh.health()
    assert len(errors) == n_clients
    assert health["requests"] == len(batches) + n_clients
    assert health["records"] == sum(len(b) for b in batches)
    assert health["errors"] == n_clients


# --- HTTP route layer (reference serve_api.py:177-221) --------------------
# Exercised with TestClient when FastAPI is importable; the fixture skips
# just the route tests cleanly in this container (importorskip at module
# level would skip the scorer-level tests above too).


@pytest.fixture(scope="module")
def client(scorer):
    pytest.importorskip("fastapi", reason="fastapi not in this container")
    from fastapi.testclient import TestClient

    return TestClient(create_app(scorer))


def test_route_health_and_schema(client, scorer):
    h = client.get("/health").json()
    assert h["status"] == "ok" and h["features"] == FEATURE_COLS
    s = client.get("/schema").json()
    # required_features is the reference contract (serve_api.py:190).
    assert s["required_features"] == FEATURE_COLS
    assert s["features"] == FEATURE_COLS and s["threshold"] == scorer.threshold


def test_route_predict_single(client):
    r = client.post("/predict", json={"features": {"total_orders": 3.0}})
    assert r.status_code == 200
    body = r.json()
    assert body["n"] == 1 and len(body["results"]) == 1
    assert 0.0 <= body["results"][0]["probability"] <= 1.0


def test_route_predict_batch_and_empty(client):
    r = client.post(
        "/predict_batch",
        json={"items": [{"features": {}}, {"features": {"recency_days": 9.0}}]},
    )
    assert r.status_code == 200 and r.json()["n"] == 2
    empty = client.post("/predict_batch", json={"items": []})
    assert empty.status_code == 200 and empty.json()["n"] == 0


def test_route_missing_features_is_422(client):
    # Reference parity: pydantic-validated payloads — no silent defaults.
    assert client.post("/predict", json={}).status_code == 422
    assert client.post("/predict_batch", json={"items": [{}]}).status_code == 422
