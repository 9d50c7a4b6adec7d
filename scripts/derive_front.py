#!/usr/bin/env python
"""Derive the driver-gate window (``registry._FRONT``) mechanically.

The driver's correctness gate verifies the FIRST 50 entries of ``queries()``
each round, so the window is re-derived every round (round-end checklist).
This script computes the window from the committed ``CORRECTNESS_r0*.json``
driver artifacts plus one small declarative per-round config, so no hand
copy can drift (VERDICT r7 item 7), and ``tests/test_registry_order.py``
asserts ``_FRONT`` equals its output.

Rotation policy (stated only here; unchanged since round 5):

1. **Plan-change rule** — every query whose implementation changed this
   round MUST be seated (declared in the round config; not derivable from
   artifacts).
2. **Never-driver-verified backlog** — queries with no green driver row in
   ANY ``CORRECTNESS_r0*.json``, stalest-registered first (registration
   order is the stable mechanical proxy for age). Rows-only registrations
   are seated here too — ONCE, for their rows-only driver record (round-13
   ADVICE: the old oracle-only tier left quality_classifier_scores with no
   driver row ever, the round-5 failure mode the rotation exists to
   prevent); after that first record they re-seat only on change (rule 1).
3. **Flagship continuity** — ``churn_features`` every round.
4. **Backfill** — remaining slots take oracle-backed queries with the
   OLDEST green driver row, ``(last_green_round, name)`` ascending.

A green row is ``hash_match: true``, or a rows-only record
(``err: "no_oracle"`` with ``spark_rows`` recorded) for ops without an
oracle. Queries in the config's ``exclude`` list are never seated (the
driver canonicalizer rejects array/map/struct outputs; the runtime guard
is ``test_no_array_typed_output_in_driver_window``).

Usage::

    python scripts/derive_front.py            # print the window, one per line
    python scripts/derive_front.py --python   # print as a Python tuple body
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50

# --- Per-round declarative config: the ONLY hand-maintained input. -------
# Update each round; everything else is derived from committed artifacts.
ROUND = 15
# Queries whose implementation (plan) changed this round — mandatory seats,
# listed in change order. Round 15: the exact-quantile memory-cliff
# retirement (round-14 verdict item 1) rebuilt the corpus-grain exact
# percentile/median sites on the shared approx-bracket + exact-rank-pick
# helper (operators/quantiles.py): winsorized_spend_stats (p01/p99
# cutoffs), p99_quantile (grouped exact side, bracket per l_returnflag),
# theilsen_revenue_trend (moved onto the helper; the sketch aggregate is
# now consumed in exactly ONE plan branch — round-14 ADVICE item 1), and
# quality_classifier_scores (rows-only; its label median now uses the
# helper over a pinned LM frame). retrieval_graded_metrics gained
# system='rrf' rows (schema-visible row additions) grading the new hybrid
# fusion against the bm25 relevance set. packing_efficiency_report's
# _PACK_STRATEGIES cleanup (round-14 ADVICE item 4) is deliberately NOT
# here: the labels-only refactor produces a byte-identical plan. New
# queries (rrf_fusion, weighted_score_fusion, unigram_lm_em_rounds,
# crossmodal_retrieval_metrics) enter via the never-verified tier
# automatically and do NOT belong here. (The _dense_scored refactor the
# weighted fusion introduced leaves rrf_fusion's plan unchanged — a
# rank-only projection the optimizer collapses.)
CHANGED: tuple[str, ...] = (
    "winsorized_spend_stats",
    "p99_quantile",
    "theilsen_revenue_trend",
    "quality_classifier_scores",
    "retrieval_graded_metrics",
)
FLAGSHIP = "churn_features"
# Never seat (canonicalizer-unsafe output schemas); none currently.
EXCLUDE: tuple[str, ...] = ()


def last_green_rounds() -> dict[str, int]:
    """Latest round with a green driver row per query, from the committed
    ``CORRECTNESS_r0*.json`` artifacts.

    Only rounds BEFORE the configured ``ROUND`` count: the current round's
    artifact lands mid-round (the driver writes it before the round is
    judged), and including it would empty the never-verified tier and
    reshuffle the staleness order the moment it appears — the derivation
    must be stable regardless of when ``CORRECTNESS_r{ROUND}.json`` shows
    up in the tree (round-8 ADVICE item 1)."""
    last: dict[str, int] = {}
    # r* not r0*: rounds 10+ are CORRECTNESS_r10.json etc.
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)\.json$", path).group(1))
        if rnd >= ROUND:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green:
                last[name] = max(rnd, last.get(name, 0))
    return last


def derive_front() -> list[str]:
    from pyspark_retention_pipeline_spark.registry import (
        all_oracle_sql,
        registration_order,
    )

    registered = registration_order()  # stable age proxy, _FRONT-independent
    oracle_backed = set(all_oracle_sql())
    last = last_green_rounds()
    excluded = set(EXCLUDE)

    front: list[str] = []

    def seat(name: str) -> None:
        if name not in front and name not in excluded:
            front.append(name)

    # 1. Plan-change rule. A changed query that is also excluded would ship
    # a new plan with no driver row — the round-5 failure the rule exists
    # to prevent — so that config combination is an error, never a silent
    # drop (its output schema must be fixed or the change reverted).
    for name in CHANGED:
        if name not in registered:
            raise SystemExit(f"config error: changed query {name!r} not registered")
        if name in excluded:
            raise SystemExit(
                f"config error: changed query {name!r} is in EXCLUDE — "
                "plan-changed queries MUST be seatable"
            )
        seat(name)
    # 2. Never-driver-verified, registration order. Rows-only registrations
    # seat here ONCE for their rows-only driver record (round-13 ADVICE);
    # thereafter only rule 1 re-seats them — backfill stays oracle-backed.
    for name in registered:
        if name not in last:
            seat(name)
    # 3. Flagship.
    seat(FLAGSHIP)
    if len(front) > WINDOW:
        raise SystemExit(
            f"mandatory seats ({len(front)}) exceed the {WINDOW}-slot window"
        )
    # 4. Backfill: stalest green driver row first.
    backfill = sorted(
        (n for n in registered if n in last and n in oracle_backed),
        key=lambda n: (last[n], n),
    )
    for name in backfill:
        if len(front) >= WINDOW:
            break
        seat(name)
    if len(front) != WINDOW:
        raise SystemExit(f"only {len(front)} seatable queries for {WINDOW} slots")
    return front


def main() -> None:
    front = derive_front()
    if "--python" in sys.argv[1:]:
        for name in front:
            print(f'    "{name}",')
    else:
        for name in front:
            print(name)


if __name__ == "__main__":
    main()
