"""Driver-gate ordering contract for the query registry.

The driver's correctness gate verifies a bounded prefix of ``queries()``
(50 entries per round), so insertion order is load-bearing. The policy is
re-derived EVERY round (round-5 verdict item 2 made this a checklist item).

Since round 8 the window is GENERATED: ``scripts/derive_front.py`` computes
it from the committed ``CORRECTNESS_r0*.json`` driver artifacts plus the
script's small per-round config, and the anchor test here asserts
``registry._FRONT`` equals the script's output — a hand edit to either side
that diverges fails loudly (VERDICT r7 item 7).

The rotation policy is stated in ``scripts/derive_front.py``'s docstring.
The round-15 window: (a) the changed tier — the
exact-quantile memory-cliff retirement sites (winsorized_spend_stats,
p99_quantile, theilsen_revenue_trend, quality_classifier_scores — all on
the shared approx-bracket + exact-rank-pick helper) plus
retrieval_graded_metrics (new system='rrf' rows); (b) never-verified
backlog — the four round-15 additions (unigram_lm_em_rounds,
rrf_fusion, weighted_score_fusion, crossmodal_retrieval_metrics); (c)
the flagship; (d) stalest-green backfill: the nineteen-name r9-tier
remainder (round 14's DEFERRED_TO_R15 head plus top_customers and
union_by_name) and 21 of the r10 tier through intradoc_dedup_rewrite,
moving the staleness floor to r10.
"""

import importlib.util
import os

import pytest

from pyspark_retention_pipeline_spark.registry import (
    _FRONT,
    all_oracle_sql,
    all_queries,
)

DRIVER_WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (a) implementation changed in round 15 — plan-change rule makes seating
# mandatory (round-5 lesson). Update the moment a registered plan changes.
CHANGED_R15: set[str] = {
    "winsorized_spend_stats",  # p01/p99 cutoffs on exact_quantile_frame
    "p99_quantile",  # grouped exact side on the helper (bracket per flag)
    "theilsen_revenue_trend",  # helper refactor; sketch in ONE plan branch
    "quality_classifier_scores",  # label median on the helper, pinned LM frame
    "retrieval_graded_metrics",  # new system='rrf' rows (hybrid fusion graded)
}

# (b) never-driver-verified backlog: the round-15 additions (the tier
# seats rows-only registrations once too — none this round; all three
# are oracle-backed).
BACKLOG_R15: set[str] = {
    "unigram_lm_em_rounds",  # new in round 15 (SentencePiece-style EM trainer)
    "rrf_fusion",  # new in round 15 (hybrid reciprocal-rank fusion)
    "weighted_score_fusion",  # new in round 15 (normalized convex fusion)
    "crossmodal_retrieval_metrics",  # new in round 15 (two-tower scorecard)
}

# (c) flagship continuity slot — in the window every round.
FLAGSHIP = {"churn_features"}

# Boundary-tier backfill deferred to round 16: the changed-tier and
# never-verified seats leave 40 backfill seats, absorbing the whole
# nineteen-name r9 remainder plus 21 of the r10 tier (through
# intradoc_dedup_rewrite); the next r10 names in (round, name) order
# lead the round-16 pool — the boundary test below checks they stay
# outside this round's window.
DEFERRED_TO_R16 = {
    "ivf_knn",  # r10 tier past intradoc_dedup_rewrite
    "json_props",
    "knn_bruteforce",
    "lang_mix_sample",
    "large_volume_customers",
    "local_supplier_volume",
    "market_share",
    "median_order_value",
    "monthly_revenue",
    "moving_avg_order_value",
    "ngram_contamination",
    "order_count_distribution",
    "order_rollup",
    "orders_per_weekday",
    "pricing_summary",
    "promo_revenue_share",
    "quality_score",
    "returned_items_top_customers",
    "segments_by_revenue",
    "shipping_priority",
    "small_qty_part_revenue",
    "sql_api_revenue",
    "token_topk",
    "volume_shipping",
}


def _derived_front() -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "derive_front", os.path.join(REPO, "scripts", "derive_front.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.derive_front()


def test_front_matches_derivation_script():
    """The anchor: the pinned window IS the script's output (no hand drift)."""
    assert list(_FRONT) == _derived_front()


def test_front_names_all_exist():
    names = set(all_queries())
    missing = [n for n in _FRONT if n not in names]
    assert not missing, f"_FRONT references unregistered queries: {missing}"


def test_front_fills_driver_window_exactly():
    assert len(_FRONT) == DRIVER_WINDOW
    assert len(set(_FRONT)) == DRIVER_WINDOW
    assert list(all_queries())[:DRIVER_WINDOW] == list(_FRONT)


def test_changed_backlog_and_flagship_inside_driver_window():
    window = set(list(all_queries())[:DRIVER_WINDOW])
    missing = (CHANGED_R15 | BACKLOG_R15 | FLAGSHIP) - window
    assert not missing, f"mandatory seats outside driver window: {missing}"


def test_backlog_is_oracle_backed():
    """Backlog entries carry oracles — no rows-only exception this round
    (round 14's one-time quality_classifier_scores seat is done; it now
    re-seats only on change, which round 15's changed tier does). A
    rows-only backlog seat without the one-time rationale is a burnt
    slot."""
    missing = BACKLOG_R15 - set(all_oracle_sql())
    assert not missing, f"unexpected rows-only backlog entries: {missing}"


def test_deferred_backfill_outside_window():
    qs = all_queries()
    assert DEFERRED_TO_R16 <= set(qs)
    window = set(list(qs)[:DRIVER_WINDOW])
    overlap = DEFERRED_TO_R16 & window
    assert not overlap, f"deferred entries unexpectedly seated: {overlap}"


@pytest.mark.slow
def test_no_array_typed_output_in_driver_window():
    """The driver canonicalizes results with pandas sort_values, which
    throws on list cells (CORRECTNESS_r06's three red rows). Guard the whole
    seated window against array/map/struct output columns."""
    import pyspark.sql.types as T

    from pyspark_retention_pipeline_spark.session import get_spark

    spark = get_spark("registry-order-tests", shuffle_partitions=4)
    qs = all_queries()
    bad: list[str] = []
    for name in _FRONT:
        schema = qs[name](spark, "/root/testdata/sf0.001").schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"driver-window queries emit non-scalar columns: {bad}"


def test_oracle_backed_precede_rows_only_after_front():
    ordered = list(all_queries())
    oracles = all_oracle_sql()
    tail = ordered[len(_FRONT):]
    seen_rows_only = False
    for name in tail:
        if name not in oracles:
            seen_rows_only = True
        else:
            assert not seen_rows_only, (
                f"oracle-backed {name!r} registered after a rows-only query"
            )


def test_queries_and_oracles_consistent():
    qs = all_queries()
    oracles = all_oracle_sql()
    assert set(oracles) <= set(qs)
    # Spark fn ordering is what the driver iterates; oracle dict must follow it.
    oracle_order = [n for n in qs if n in oracles]
    assert list(oracles) == oracle_order


def test_changed_headline_queries_marked_not_like_for_like():
    """Round-8 review finding, made a standing invariant: a plan-changed
    query that is in bench's HEADLINE set AND has a timing in the latest
    driver-recorded BENCH artifact must be listed in bench's
    NOT_LIKE_FOR_LIKE map — otherwise its ratio is an algorithm/plan
    comparison silently folded into the like-for-like total (the round-7
    simhash64 false-regression mode)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    front_spec = importlib.util.spec_from_file_location(
        "derive_front", os.path.join(REPO, "scripts", "derive_front.py")
    )
    front = importlib.util.module_from_spec(front_spec)
    front_spec.loader.exec_module(front)

    # bench._load_baseline is the single implementation of "newest USABLE
    # driver artifact": it skips parsed: null payloads (the round-8
    # artifact's truncated-line case — data.get("parsed", data) returned
    # None here and this test crashed with AttributeError, round-8 ADVICE
    # item 2) and falls back to the newest parseable round.
    baseline, _baseline_round = bench._load_baseline()
    if baseline is None:
        return
    base_q = baseline.get("queries", {})

    offenders = [
        name
        for name in front.CHANGED
        if name in bench.HEADLINE
        and name in base_q
        and name not in bench.NOT_LIKE_FOR_LIKE
    ]
    assert not offenders, (
        f"plan-changed headline queries with a baseline row missing from "
        f"bench.NOT_LIKE_FOR_LIKE: {offenders}"
    )
