#!/usr/bin/env python
"""Benchmark harness — times the headline queries and prints ONE JSON line.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS    (default all cores)

Each query is forced end-to-end with a noop-format write (computes every
column — a bare count() would let Catalyst prune the projections we want to
measure — while writing nothing).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (agg / join / window / threshold /
# event-time / dedup / text / similarity / chunking-packing / quantization /
# quality-filter).
HEADLINE = [
    "pricing_summary",
    "customer_rfm",
    "churn_features",
    "distinct_products",
    "revenue_by_nation",
    "top_parts_per_segment",
    "threshold_curve",
    "sessionize",
    "tumbling_hourly",
    "json_props",
    "dedup_exact",
    "text_stats",
    "minhash_candidates",
    "knn_bruteforce",
    # training-data first-class tier (round-2 verdict item 6)
    "chunk_documents",
    "pack_documents",
    "embedding_quantize_stats",
    "c4_quality_filter",
    # corpus-curation tier (round 3)
    "ngram_contamination",
    "token_budget_select",
    # round 4: Q18 (agg-filtered semi-join into a 4-way join — the shape
    # that catches join-order regressions), the end-to-end curation
    # pipeline, and the two staging-fix queries (regression guards on the
    # literal-plane / staged-hash wins)
    "large_volume_customers",
    "curate_corpus",
    "lsh_bucket_candidates",
    "simhash64",
    # round 6: retention-analytics family (the engine's namesake) + corpus
    # balance + engagement tier (stickiness has the widest fan-out: a
    # bounded 28-way explode over the distinct user-day grain)
    "cohort_retention",
    "source_cap_select",
    "growth_accounting",
    "stickiness_ratio",
    "q20_excess_stock",
    # round-6 continuation: the three widest new plans — triple range-shuffle
    # NTILE segmentation, corpus-self-trained LM (explode + vocab join), and
    # session-path top-k (window + TakeOrdered)
    "rfm_segments",
    "unigram_logprob_score",
    "top_session_paths",
    # round-6 late continuation: the two widest new dedup/drift plans —
    # banded SimHash LSH candidates (pinned bucket frame) and the
    # exact KS statistic on the two-column distributed prefix sum
    "simhash_candidates",
    "ks_price_drift",
    # round 7 (verdict item 6): one representative per family that had no
    # headline presence, so regressions there can't hide behind the sweep.
    "cdc_multi_action_apply",    # CDC tier (upsert/SCD2/multi-action apply)
    "psi_price_drift",           # drift monitors (PSI; KS already above)
    "bigram_logprob_score",      # corpus-self-trained LM (bigram join)
    "q2_min_cost_supplier",      # TPC-H partsupp family (correlated min)
    "winnowing_fingerprints",    # fingerprints — guards the O(tokens^2) trap
    "minhash_signatures",        # portable-hash registry form (new plan r7)
    "dq_constraint_report",      # data-quality audit family
    "time_decay_attribution",    # attribution family
    "km_session_survival",       # survival-analysis family
    "revenue_trend_forecast",    # time-series regression/forecast family
    "weighted_doc_sample",       # weighted/stratified sampling family
    "embedding_outliers",        # embedding-analytics family
    "udtf_sentence_split",       # UDTF family (lateral table function)
    # round 8: the three multi-branch recompute fixes (shared-frame pins) —
    # headline presence guards the single-scan plans against regression
    "class_weights",
    "tfidf_top_terms",
    "quality_zscore_by_lang",
    # round 8 late: the global-sort fix — guards the partitioned-window
    # form against a regression back to a corpus total order
    "lateral_recent_orders",
    # round 9: the tokenizer tier (vocab-weighted BPE pair counts — the
    # explode-over-vocab shape; the zero-shuffle intra-doc rewrite) and the
    # banded-ANN top-1 (payload-threaded bucket pairs, no join-back)
    "bpe_pair_counts",
    "intradoc_dedup_rewrite",
    "embedding_ann_top1",
    # round 10: the ann-ivf family's first headline representative (the
    # deterministic-codebook in-row-argmax shape, round-7 one-per-family
    # rule) and the vocab-bounded coverage windows
    "ivf_knn",
    "vocab_coverage_curve",
    # round 11: the two new LLM-data tiers — DSIR importance selection
    # (hashed-feature log-ratio scoring + TakeOrdered) and SemDeDup
    # (adaptive-K cells + within-cell equi-join pruning)
    "dsir_importance_select",
    "semdedup_keep",
    # round 12: the ExactSubstr cross-document span rewrite (span-grain
    # hash joins + narrow per-doc token gather). bpe_merge_rounds is
    # deliberately NOT here: its chained lazy localCheckpoints make AQE
    # materialize every merge stage at query-BUILD time (toRdd runs all
    # but the final stage), so a noop-write timer sees only the 4-row
    # union (~0.03 s) — the kmeans_lloyd_curve/ML exclusion class
    # (compute-at-build queries can't be steady-state timed by this
    # methodology). Measured split at sf0.1: build 2.2-5.5 s, write
    # 0.07-0.2 s. The other pinned queries (dsir, semdedup, the rewrite)
    # keep their dominant join/rollup stages in-timer (measured
    # write >= build) and stay.
    "crossdoc_span_rewrite",
    # round 13: the variable-length multi-k-cascade ExactSubstr rewrite —
    # the widest new plan (3 span-length passes off one pinned token-hash
    # frame + the (doc, position) MAX-code cascade aggregate). Its pins are
    # lazy and the dominant frequency/join/rollup stages run at ACTION
    # time (not the compute-at-build class — measured write >> build).
    # Added together with bench-line shrink lever 3 (run_spread_med_pct
    # moved local-only).
    "crossdoc_span_rewrite_maximal",
    # round 14: the character-level Levenshtein verify rung over banded
    # candidates — the O(len^2) DP on the LSH-reduced pair set is the
    # dedup ladder's most expensive per-pair stage, so its wall belongs
    # in the headline watch (lever (a) — regr_names capped at 5 — taken
    # in the same commit).
    "neardup_edit_verify",
    # round 15 (lever (b) — long nlfl lists ride as a count — taken in
    # the same commit): the hybrid-fusion
    # ranking (bm25 + dense scan composition — the widest retrieval
    # plan), the unigram-LM EM trainer (checkpoint-ladder lattice joins;
    # all work at action time — each bench rep reconstructs and
    # re-materializes the chain, unlike the compute-at-build exclusions
    # above), and the two-tower cross-modal scorecard (corpus-grain
    # conditional-count ranking — guards the no-per-query-window shape).
    "rrf_fusion",
    "unigram_lm_em_rounds",
    "crossmodal_retrieval_metrics",
]

# Queries whose implementation changed since the previous driver-recorded
# bench — their ratio is an algorithm/plan comparison, not a regression
# signal (round-7 lesson: simhash64's portable-hash swap showed as a 1.52x
# "regression" in the driver artifact). The bench emits this map under
# vs_baseline.not_like_for_like and EXCLUDES these from the like-for-like
# total and the regression flag list, so the driver's per-round comparison
# is self-explaining. Re-derive each round alongside the plan-change list
# in scripts/derive_front.py: every headline query in that list belongs
# here (round 8: of the seven changed queries only curate_corpus was
# already in the headline set with a baseline row; the three pin fixes are
# NEW to the set and surface under new_queries instead).
NOT_LIKE_FOR_LIKE: dict[str, str] = {
    # Round-11 entry (vocab_coverage_curve) retired: BENCH_r11 parses and
    # becomes the round-12 baseline, so that query is timed on its current
    # two-phase with_global_cumsum plan — like-for-like again (rotation
    # doc rule: drop an entry once a usable driver artifact times the new
    # plan). Round 12 has no plan changes to previously-timed headline
    # queries; its one headline addition (crossdoc_span_rewrite) surfaces
    # under new_queries (bpe_merge_rounds was pulled from HEADLINE — the
    # compute-at-build exclusion class, see the HEADLINE comment above;
    # bpe_encode_stats / crossdoc_span_profile were never headline).
}


def main() -> None:
    from pyspark_retention_pipeline_spark import all_queries, get_spark

    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
    n_parts = int(cpus_env) if cpus_env.isdigit() and int(cpus_env) > 0 else (os.cpu_count() or 8)
    spark = get_spark("bench", shuffle_partitions=n_parts)
    queries = all_queries()

    # Warm the session (JVM, codegen, parquet footers, page cache) outside the
    # measured region. count() reads only parquet metadata, so a noop write is
    # used to actually pull data pages.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark_retention_pipeline_spark.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).write.format("noop").mode("overwrite").save()

    # Steady-state methodology: each query runs twice, best-of-two reported
    # (second run measures warm code paths; first absorbs per-plan codegen).
    # 3 reps since round 8 (was 2): rep 1 absorbs per-plan codegen; the
    # spread between the two WARM reps (2 and 3) is a true per-host
    # measurement-noise floor, which the 2-rep spread (dominated by
    # codegen) could not provide. Best-of-3 vs best-of-2 biases timings
    # down only within that same warm-rep noise.
    timings: dict[str, float] = {}
    spreads: list[float] = []
    for name in HEADLINE:
        runs = []
        for _ in range(3):
            df = queries[name](spark, SF_DIR)
            start = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - start)
        timings[name] = round(min(runs), 3)
        warm = runs[1:]
        spreads.append((max(warm) - min(warm)) / min(warm))

    # ML-tier wall clock (round-3 verdict item 3): training runs INSIDE the
    # query fn (MLlib jobs fire at build time), so the noop-write methodology
    # above would time only the scoring scan. Clear the model cache and time
    # fn-call + action together, cold, single run — train + batch score.
    # Reported as its OWN top-level metric, NOT folded into the headline sum:
    # a cold single-run MLlib CV train mixed into a best-of-two steady-state
    # total made the round-5 ratio look like a regression when it was
    # cold-start noise (round-5 verdict item 6 / ADVICE item 3).
    from pyspark_retention_pipeline_spark.operators import mlops

    mlops._MODEL_CACHE.clear()
    start = time.perf_counter()
    queries["ml_churn_scores"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    ml_wall = round(time.perf_counter() - start, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spreads.sort()
    # Standard nearest-rank p90 index, ceil(0.9n)-1 (round-8 ADVICE item 4).
    # The old int(n*0.9) differs only when 0.9n is integral (e.g. n=20:
    # index 18 vs 17), where it sat one rank HIGH — a slight overstatement
    # of the noise floor, not the understatement the advice described; the
    # nearest-rank form is used because it is the convention, not because
    # the old value was dangerously wrong.
    import math

    p90_idx = min(len(spreads) - 1, max(0, math.ceil(0.9 * len(spreads)) - 1))
    result = {
        # Shortened from "headline_queries_total_wall" in round 12 (bench-
        # line shrink lever 2); _load_baseline accepts both so every
        # prior-round artifact stays usable.
        "metric": "headline_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "ml_pipeline_wall": ml_wall,
        # Dispersion between this run's own two WARM reps, as median / p90
        # percent — the measurement-noise floor of THIS host at THIS
        # moment. A round-over-round per-query ratio smaller than a few
        # multiples of these is noise, not a regression (the recurring
        # q20-style false flag, now quantified in-artifact).
        "run_spread_med_pct": round(100 * spreads[len(spreads) // 2], 1),
        "run_spread_p90_pct": round(100 * spreads[p90_idx], 1),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    baseline, baseline_round = _load_baseline()
    if baseline:
        base_q = baseline.get("queries", {})
        overlap = [
            q for q in timings if base_q.get(q) and q not in NOT_LIKE_FOR_LIKE
        ]
        ratios = {q: round(timings[q] / base_q[q], 2) for q in overlap}
        # Like-for-like: the workload grows each round (new queries enter the
        # headline set), so the ratio compares only queries present in BOTH
        # rounds; additions are listed, not silently folded into the total,
        # and plan-changed queries are excluded with their reason.
        result["vs_baseline"] = {
            # Which round the comparison is against — load-bearing since
            # the loader can fall back PAST an unusable artifact (r08's
            # parsed: null): a ratio silently computed vs two rounds ago
            # would otherwise read as one round of drift (review finding).
            "baseline_round": baseline_round,
            "baseline_total": baseline.get("value"),
            "total_ratio": round(
                sum(timings[q] for q in overlap) / sum(base_q[q] for q in overlap),
                3,
            )
            if overlap
            else None,
            "new_queries": sorted(set(timings) - set(base_q)),
            "not_like_for_like": {
                q: reason for q, reason in NOT_LIKE_FOR_LIKE.items() if q in timings
            },
            "regressions_gt_1.5x": {q: r for q, r in ratios.items() if r > 1.5},
        }
    print(emit_line(result))
    # Full artifact (prose not_like_for_like reasons, pretty-printed) for
    # humans; the stdout line is the driver's copy and is size-bounded.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "docs", "BENCH_LOCAL.json"),
        "w",
    ) as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    spark.stop()


def emit_line(result: dict) -> str:
    """Serialize the driver-facing JSON line, bounded to the driver's
    2000-char stdout tail capture.

    Round 8's line measured 2046 chars and the driver recorded
    ``parsed: null`` with a head-truncated ``tail`` — the whole bench
    comparison silently vanished from the round artifact (round-8 ADVICE
    item 2's root cause). Compact separators + names-only flag lists keep
    the line under the cap; ``tests/test_bench_contract.py`` pins the
    worst-case size as the headline set grows.

    LINE-vs-LOCAL key map (round 11: the 58-query set outgrew the budget
    even at 2-dp, so the line sheds everything derivable or
    informational; ``docs/BENCH_LOCAL.json`` always carries the full
    artifact):

    * ``vs_baseline.nlfl`` — names-only ``not_like_for_like`` (prose
      reasons in ``NOT_LIKE_FOR_LIKE``/the local artifact); when the
      list exceeds 4 names it degrades to ``nlfl_n`` (a count — lever
      (b), round 15, taken with the three round-15 headline additions);
    * ``vs_baseline.regr_names`` — names of queries with a >1.5×
      like-for-like ratio; the ratios themselves are derivable from this
      round's and the baseline round's ``queries`` maps;
    * ``run_spread_med_pct`` / ``run_spread_p90_pct`` ride only the local
      artifact (both spreads moved off the line in round 13 — shrink
      lever 3, taken with the 60th headline query; the driver's gate
      reads only the totals, and noise-floor context lives in
      docs/BENCH_LOCAL.json);
    * ``ml_pipeline_wall`` rides only the local artifact (since round 12:
      it is a cold single-run MLlib CV wall — the noisiest number in the
      artifact, never part of the headline total or the 2× gate, and the
      first bench-line shrink lever);
    * ``new_queries`` / ``baseline_total`` — derivable, local-only (since
      round 9)."""
    budget = 1950  # driver tail is 2000; leave newline + margin
    line_result = dict(result)
    line_result.pop("run_spread_med_pct", None)
    line_result.pop("run_spread_p90_pct", None)
    line_result.pop("ml_pipeline_wall", None)
    # 2-dp per-query timings are the LINE's standard precision (round 10:
    # the 56-query headline set outgrew the budget at 3-dp — 1973 chars in
    # the realistic worst case). 10 ms quantization sits below the
    # emitted warm-rep noise floor for everything but the very fastest
    # queries (where it is comparable to it); full 3-dp timings always
    # land in docs/BENCH_LOCAL.json. New dict — never mutate the input.
    line_result["queries"] = {
        q: round(t, 2) for q, t in result["queries"].items()
    }
    vs = result.get("vs_baseline")
    if vs is not None:
        full = vs
        # Rebuild the line's compact shape (see the key map above); the
        # input dict is never mutated — the full artifact is dumped to
        # docs/BENCH_LOCAL.json after the line prints.
        regr_all = sorted(full.get("regressions_gt_1.5x", {}))
        nlfl_all = sorted(full.get("not_like_for_like", {}))
        vs = {
            "baseline_round": full.get("baseline_round"),
            "total_ratio": full.get("total_ratio"),
            # Lever (a), round 14: the line carries at most 5 regression
            # names (ratios are derivable from the two rounds' queries
            # maps; the full dict always rides docs/BENCH_LOCAL.json).
            "regr_names": regr_all[:5],
        }
        # Lever (b), round 15, taken with the
        # three round-15 headline additions: a LONG not-like-for-like
        # list rides the line as a count only — the names (and prose
        # reasons) always live in bench.NOT_LIKE_FOR_LIKE and the local
        # artifact, and the driver gate reads only the totals. Short
        # lists (the realistic case; every round so far is ≤5) still
        # ride names-only.
        if len(nlfl_all) > 4:
            vs["nlfl_n"] = len(nlfl_all)
        else:
            vs["nlfl"] = nlfl_all
        if len(regr_all) > 5:
            vs["regr_capped_at_5"] = True
        line_result["vs_baseline"] = vs

    def dump() -> str:
        return json.dumps(line_result, separators=(",", ":"))

    line = dump()
    # Degradation ladder — sheds informational detail, never the driver
    # contract keys. A realistic round never degrades (the size test pins
    # that); this guarantees the line parses even in pathological rounds.
    if len(line) > budget and vs is not None:
        vs.pop("nlfl", None)
        vs.pop("nlfl_n", None)
        line = dump()
    if len(line) > budget:
        # Final resort: the driver contract keys alone always fit.
        line_result.pop("vs_baseline", None)
        line = dump()
    return line


def _config_round(root: str | None = None) -> int | None:
    """The per-round ``ROUND`` from ``scripts/derive_front.py`` — the single
    hand-maintained round config. ``None`` when the script is absent (a
    standalone copy of bench.py), which disables the round bound below.

    Parsed with a regex, NOT imported/exec'd: this runs at the END of a
    full timing run, and any exception escaping here (a syntax error in
    the config script, a side effect of executing it) would kill bench.py
    after the measurements but before the JSON line prints — the exact
    artifact-goes-dark mode the round-8 fixes targeted (round-11 review
    finding)."""
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "scripts", "derive_front.py")
    try:
        with open(path) as f:
            m = re.search(r"^ROUND\s*=\s*(\d+)\s*$", f.read(), re.M)
    except OSError:
        return None
    return int(m.group(1)) if m else None


def _load_baseline(
    root: str | None = None, before_round: int | None = None
) -> tuple[dict | None, int | None]:
    """``(payload, round)`` of the most recent USABLE BENCH_r{N}.json next
    to this script — the driver's record of a previous round, used to
    self-flag per-query regressions.

    Only rounds BEFORE the configured round count (``before_round``,
    defaulting to ``scripts/derive_front.py``'s ``ROUND`` — the same bound
    ``last_green_rounds`` applies to CORRECTNESS artifacts): the driver
    writes ``BENCH_r{ROUND}.json`` mid-round, and letting the current
    round's own artifact become the baseline makes every round-N
    plan-change self-compare and trip the NOT_LIKE_FOR_LIKE invariant the
    moment the artifact lands (round-10 verdict item 1 — ``ivf_knn``).

    Newest-first, skipping artifacts whose payload is unusable: the driver
    wraps the bench's JSON line under ``parsed``, and records
    ``parsed: null`` when the line outgrew its stdout tail capture (the
    round-8 artifact — see ``emit_line``). Falling back to the newest
    parseable round keeps the regression guard alive instead of silently
    dropping ``vs_baseline`` (round-8 ADVICE item 2); the returned round
    number rides the emitted line as ``baseline_round`` so a comparison
    against an older-than-previous round is self-identifying.

    The two artifact layouts are distinguished EXPLICITLY: a driver wrapper
    carries a ``parsed`` key (possibly null) and only its value is ever a
    candidate payload — the wrapper object itself is never promoted, even
    if it happened to grow a ``queries`` key (round-9 ADVICE item 1). A
    bare payload (no ``parsed`` key — e.g. a locally saved line) is used
    as-is. Either way the candidate must carry the bench contract keys
    (``metric`` identifying this emitter, plus a non-empty ``queries``
    map) before it is accepted."""
    import glob
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    if before_round is None:
        before_round = _config_round(root)
    rounds = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rnd = int(m.group(1))
            if before_round is not None and rnd >= before_round:
                continue
            rounds.append((rnd, path))
    for rnd, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        payload = data["parsed"] if "parsed" in data else data
        if (
            isinstance(payload, dict)
            and payload.get("metric")
            in ("headline_wall", "headline_queries_total_wall")
            and payload.get("queries")
        ):
            return payload, rnd
    return None, None


if __name__ == "__main__":
    sys.exit(main())
