"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench -q

Runs every workload for a couple of seconds on tiny inputs and checks that
each metric named in BENCHMARK.json prints with its unit, and that the
benchmark's correctness checks reject corrupted outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, root: str = ROOT):
    return subprocess.run(
        [
            sys.executable,
            os.path.join(root, "perfbench", "run.py"),
            "--workload", workload,
            "--seed", "3",
            "--seconds", "2",
            "--trace", str(trace),
            "--scale", "tiny",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


DETAIL = {
    "churn_lifecycle": [
        "lifecycle_s.p50 = ", "lifecycle_auc_roc = ", "predict_ms.p50 = ", "predict_ms.p95 = ",
        "predict_batch_ms.p50 = ", "scoring_rps = ",
    ],
    "catalog_mix": ["catalog_pass_s.p50 = ", "catalog_query_s.geomean = "],
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_print_with_units(workload):
    proc = _run(workload, trace=0)
    out = _result(proc)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    for line in DETAIL[workload] + ["setup_s = ", "peak_rss_mb = ", "error_rate = "]:
        assert line in proc.stdout, line


LAYER_DETAIL = {
    "churn_lifecycle": [
        "ml.train_s = ", "ml.train.jobs = ", "sinks.bytes_written = ",
        "serving.predict.self_ms = ", "ml.score_records_ms = ", "serving.jobs_per_request = ",
    ],
    "catalog_mix": ["tables.warm_s = ", "registry.build_s = ", "catalog.sessionize.jobs = "],
}
LAYER_SPANS = {
    "churn_lifecycle": {"ml.train", "serving.predict", "ml.score_records"},
    "catalog_mix": {"registry.build", "operators.exec"},
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_per_layer_metrics(workload):
    proc = _run(workload, trace=1)
    out = _result(proc)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["spark.jobs_per_op"]["value"] >= 1
    for line in LAYER_DETAIL[workload]:
        assert line in proc.stdout, line
    trace_file = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed3.json")
    with open(trace_file) as f:
        spans = json.load(f)["spans"]
    assert LAYER_SPANS[workload] <= {s["name"] for s in spans}


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("catalog_mix", trace=0, cwd=str(tmp_path), root=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_perturbed_scorer_threshold_fails_the_check():
    ref = {0: 0.30, 1: 0.55, 2: 0.70}

    def respond(threshold):
        return [{"probability": p, "prediction": float(p >= threshold)} for p in ref.values()]

    served = [([0, 1, 2], respond(0.5))]
    assert workloads.check_responses(served, lambda idx: ref, 0.5) == []
    assert workloads.check_responses([([0, 1, 2], respond(0.6))], lambda idx: ref, 0.5)
    off = [([0], [{"probability": 0.30 + 1e-9, "prediction": 0.0}])]
    assert workloads.check_responses(off, lambda idx: ref, 0.5)


def test_dropped_query_row_fails_the_check(tmp_path):
    from pyspark_retention_pipeline_spark.registry import all_oracle_sql
    from pyspark_retention_pipeline_spark.testing import duckdb_connection

    datagen.write_catalog(str(tmp_path), 0.001, seed=3)
    sql = all_oracle_sql()["pricing_summary"]
    con = duckdb_connection(str(tmp_path))
    expected = con.execute(sql).df()

    class Frame:  # what the check reads of a Spark DataFrame
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    assert workloads.parity_error("pricing_summary", Frame(expected), con, sql) is None
    dropped = Frame(expected.iloc[1:])
    assert "row count mismatch" in workloads.parity_error("pricing_summary", dropped, con, sql)


def test_lifecycle_outcomes_must_agree():
    o = {"splits": {"train": 7, "val": 2, "test": 1}, "features": 10, "threshold": 0.4, "auc": 0.8}
    assert workloads.check_outcomes([o, dict(o)]) == []
    assert workloads.check_outcomes([o, dict(o, auc=0.81)])
    assert workloads.check_outcomes([o, dict(o, splits={"train": 6, "val": 3, "test": 1})])
    assert workloads.check_outcomes([dict(o, features=11)])
