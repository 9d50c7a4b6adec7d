"""The gate: every oracle-backed query must hash-match DuckDB (mirrors the
driver's CORRECTNESS check, stricter — cell-level equality)."""

from __future__ import annotations

import pytest

from pyspark_retention_pipeline_spark.registry import all_oracle_sql, all_queries
from pyspark_retention_pipeline_spark.testing import compare_query, duckdb_connection

ORACLES = all_oracle_sql()
QUERIES = all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


# Two-tier parametrization (round-16 verdict item 1): the default tier
# keeps a fixed canary of ~40 queries so `pytest tests/` still exercises
# the gate end-to-end; the full mirror is the slow tier (`make test-gate` /
# `make test-all` / RUN_SLOW=1), which still runs per round. The canary is
# a frozen list (the 1-in-7 stride over the sorted names as it stood before
# `auc_metrics` was registered, plus `auc_metrics`), not a live stride: a
# stride re-picks most of the sample whenever a query is added.
_SORTED_ORACLES = sorted(ORACLES)
_FAST_SAMPLE = frozenset(
    (
        "ab_conversion_ztest",
        "asof_last_purchase",
        "auc_metrics",
        "bootstrap_revenue_ci",
        "cast_projection",
        "class_weights",
        "crossdoc_span_rewrite_maximal",
        "customer_profile",
        "dedup_clusters_portable",
        "dn_retention",
        "embedding_ann_top1",
        "event_day_spine_fill",
        "group_split_leakage_audit",
        "heavy_hitter_tokens",
        "ivf_pq_recall",
        "kcore_rounds",
        "label_centroids",
        "late_shipping_priority_check",
        "lsh_bucket_candidates",
        "minhash_calibration",
        "ngram_contamination",
        "order_value_bounds",
        "part_cooccurrence",
        "power_user_curve",
        "psi_price_drift",
        "quality_score",
        "recursive_month_spine",
        "returned_items_top_customers",
        "rfm_segments",
        "segment_case",
        "sessionize",
        "sliding_hourly",
        "split_leakage_check",
        "tfidf_top_terms",
        "token_budget_select",
        "top_revenue_suppliers",
        "union_by_name",
        "waiting_suppliers",
        "zorder_scan_revenue",
    )
)


@pytest.mark.parametrize(
    "name",
    [
        n if n in _FAST_SAMPLE else pytest.param(n, marks=pytest.mark.slow)
        for n in _SORTED_ORACLES
    ],
)
def test_oracle_parity(name, spark, sf_dir, con):
    result = compare_query(name, QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert result.ok, f"{name}: {result.detail}"


def test_fast_sample_names_are_registered():
    """A renamed or dropped oracle must not fall out of the canary unseen."""
    assert _FAST_SAMPLE <= set(ORACLES), sorted(_FAST_SAMPLE - set(ORACLES))


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    """Rows-only ops (no SQL oracle) must still execute and return a stable
    schema with >= 0 rows."""
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    assert df.count() >= 0
