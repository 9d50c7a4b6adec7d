"""Query registry — the single catalog of every operator this engine ships.

Each operator from SURVEY.md §2 (plus the extension tier) registers itself
here with a name, a Spark implementation ``(spark, sf_dir) -> DataFrame``, and
— when SQL-expressible — an equivalent ANSI-SQL oracle string that DuckDB can
run over the same parquet tables. ``__spark_entry__.py`` re-exports these for
the driver's correctness gate.

Conventions that keep Spark results hash-identical to the oracle:
  * every computed column is aliased identically on both sides;
  * order-dependent float reductions (SUM of doubles) are rounded at a fixed
    scale on both sides; derived floats (avg, log, ratio) are computed from
    those already-identical rounded values with identical IEEE operations;
  * computed integer columns are cast to BIGINT on both sides;
  * event-time logic uses integer epoch microseconds, never session-TZ
    timestamps.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}

# Driver-gate priority order. The correctness gate verifies a bounded prefix of
# ``queries()`` (50 entries per round), so ordering is part of the contract —
# re-derive this list EVERY round (round-end checklist; round 5 skipped it and
# shipped two rewrites with no driver row, VERDICT r5 item 2).
# Round-15 rotation (docs/ROUND15_ROTATION.md) — GENERATED:
# ``scripts/derive_front.py`` derives this window mechanically from the
# committed CORRECTNESS_r*.json driver artifacts (rounds BEFORE the
# configured one only, so the derivation is stable whenever the current
# round's artifact lands) plus the script's small per-round config
# (changed-plan list, flagship, window size), and
# ``tests/test_registry_order.py`` asserts the tuple below equals the
# script's output. Round-15 composition: the changed tier seats the
# exact-quantile memory-cliff retirement sites — winsorized_spend_stats
# (p01/p99 cutoffs on the shared approx-bracket + exact-rank-pick
# helper), p99_quantile (grouped exact side, bracket per l_returnflag),
# theilsen_revenue_trend (moved onto the helper; sketch consumed in ONE
# plan branch), quality_classifier_scores (rows-only; label median on
# the helper over a pinned LM frame) — plus retrieval_graded_metrics
# (new system='rrf' rows grading the hybrid fusion); the never-verified
# tier seats the four round-15 additions (unigram_lm_em_rounds — the
# SentencePiece-style EM trainer — rrf_fusion — hybrid reciprocal-rank
# fusion — weighted_score_fusion — the normalized-convex score-aware
# sibling — and crossmodal_retrieval_metrics — the two-tower
# media-to-text scorecard); then the flagship and 40 stalest-green
# backfill seats — the nineteen-name r9-tier remainder (round 14's
# DEFERRED_TO_R15 head recent90_agg … token_classes plus top_customers
# and union_by_name) and 21 of the r10 tier in (round, name) order from
# ann_recall_report through intradoc_dedup_rewrite, moving the
# staleness floor to r10.
# Later, auc_metrics (both AUCs in one window query) joined the
# never-verified tier and pushed intradoc_dedup_rewrite out of the window.
# Further new or plan-changed queries re-derive this window (update
# CHANGED in the script config, re-run, re-paste).
_FRONT: tuple[str, ...] = (
    "winsorized_spend_stats",
    "p99_quantile",
    "theilsen_revenue_trend",
    "quality_classifier_scores",
    "retrieval_graded_metrics",
    "auc_metrics",
    "unigram_lm_em_rounds",
    "rrf_fusion",
    "weighted_score_fusion",
    "crossmodal_retrieval_metrics",
    "churn_features",
    "recent90_agg",
    "recent_window",
    "regex_token_count",
    "retained_buyers_intersect",
    "returned_parts_distinct",
    "revenue_by_nation",
    "revenue_share",
    "running_total",
    "salted_supplier_agg",
    "segment_case",
    "segment_metrics_unpivot",
    "sql_expr_filter",
    "string_ops",
    "supplier_balance_by_nation",
    "threshold_pred",
    "threshold_sweep",
    "token_classes",
    "top_customers",
    "union_by_name",
    "ann_recall_report",
    "binary_meta",
    "c4_quality_filter",
    "chunk_documents",
    "class_counts",
    "confusion_matrix",
    "customer_profile",
    "customer_rfm",
    "dedup_clusters_portable",
    "dedup_exact",
    "distinct_customers",
    "distinct_products",
    "embedding_ann_top1_adaptive",
    "embedding_neardup",
    "embedding_quantize_stats",
    "epoch_shuffle",
    "forecast_revenue_discount",
    "group_aware_split",
    "hash_sample",
    "incremental_dedup",
)


def _ordered() -> list[Query]:
    """Registry entries in driver-gate priority order (see ``_FRONT``)."""
    _ensure_loaded()
    front_set = set(_FRONT)
    front = [_REGISTRY[n] for n in _FRONT if n in _REGISTRY]
    rest = [q for n, q in _REGISTRY.items() if n not in front_set]
    # Stable partition: oracle-backed before rows-only.
    rest = [q for q in rest if q.oracle is not None] + [
        q for q in rest if q.oracle is None
    ]
    return front + rest


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query implementation under ``name``.

    ``oracle`` is the DuckDB-runnable ANSI SQL twin; ``None`` marks an op the
    driver checks rows-only (non-SQL-expressible — ML, LSH, stateful ops).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import the operator modules for their registration side effects.
    from . import operators  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def all_oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def get(name: str) -> Query:
    _ensure_loaded()
    return _REGISTRY[name]


def names() -> list[str]:
    _ensure_loaded()
    return sorted(_REGISTRY)


def registration_order() -> list[str]:
    """Query names in module-import registration order — the stable age
    proxy ``scripts/derive_front.py`` uses for the never-driver-verified
    tier (unlike ``all_queries()``, NOT reordered by ``_FRONT``)."""
    _ensure_loaded()
    return list(_REGISTRY)
