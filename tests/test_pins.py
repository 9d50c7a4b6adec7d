"""``pins.pin`` and the ``pins()`` scope: a scope releases exactly the pins
made on its thread while it was the innermost one, and a registry query
built and forced inside a scope leaves no persisted RDD behind."""

from __future__ import annotations

import threading

import pytest

from pyspark_retention_pipeline_spark.pins import pin, pins
from pyspark_retention_pipeline_spark.registry import all_queries, get

QUERIES = all_queries()

# The registry queries of perfbench's ``catalog_mix`` workload.
CATALOG_MIX = (
    "churn_features",
    "pricing_summary",
    "top_parts_per_segment",
    "large_volume_customers",
    "threshold_curve",
    "sessionize",
    "cohort_retention",
    "stickiness_ratio",
    "curate_corpus",
    "minhash_candidates",
    "neardup_edit_verify",
    "knn_bruteforce",
    "ivf_knn",
    "rrf_fusion",
)


def _frame(spark):
    return spark.range(40).selectExpr("id % 7 AS k").groupBy("k").count()


def _rdd_id(frame) -> int:
    return frame._jdf.queryExecution().analyzed().rdd().id()


def test_nested_scopes_release_only_their_own_pins(spark, persistent_rdds):
    before = persistent_rdds()
    with pins():
        outer = pin(_frame(spark))
        with pins():
            inner = pin(_frame(spark))
            assert inner.count() == 7
            assert persistent_rdds() == before | {_rdd_id(outer), _rdd_id(inner)}
        assert persistent_rdds() == before | {_rdd_id(outer)}
        assert outer.count() == 7
    assert persistent_rdds() == before


def test_a_scope_releases_its_pins_when_the_block_raises(spark, persistent_rdds):
    before = persistent_rdds()
    with pytest.raises(RuntimeError, match="boom"):
        with pins():
            pinned = pin(_frame(spark))
            assert pinned.count() == 7
            assert _rdd_id(pinned) in persistent_rdds()
            raise RuntimeError("boom")
    assert persistent_rdds() == before


def test_an_eager_pin_is_recorded_and_released(spark, persistent_rdds):
    before = persistent_rdds()
    with pins():
        pinned = pin(_frame(spark), eager=True)
        rdd = pinned._jdf.queryExecution().analyzed().rdd()
        assert rdd.isLocallyCheckpointed()
        assert persistent_rdds() == before | {rdd.id()}
    assert persistent_rdds() == before


def test_a_pin_made_with_no_scope_open_stays_persisted(spark, persistent_rdds):
    """Scopes are per thread: a thread with none open pins as a bare lazy
    ``localCheckpoint``, and a scope of another thread does not take it."""
    made = []
    with pins():
        thread = threading.Thread(target=lambda: made.append(pin(_frame(spark))))
        thread.start()
        thread.join(timeout=120)
    assert not thread.is_alive()
    rdd = made[0]._jdf.queryExecution().analyzed().rdd()
    try:
        assert rdd.isLocallyCheckpointed()
        assert rdd.id() in persistent_rdds()
    finally:
        rdd.unpersist(False)


@pytest.mark.parametrize(
    "name",
    [
        n if n in CATALOG_MIX else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_releases_its_pins(name, spark, sf_dir, persistent_rdds):
    """Built and forced inside a scope, a query leaves the persisted RDDs as
    it found them. A session-cached model query is checked on its second
    call: its first caches the model's feature frame for the session."""
    if "ml" in get(name).tags:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    before = persistent_rdds()
    with pins():
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert persistent_rdds() == before
