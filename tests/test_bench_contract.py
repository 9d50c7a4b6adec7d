"""Contracts on bench.py's driver-facing output line.

The driver captures only the LAST 2000 characters of bench stdout; round
8's JSON line measured 2046 and the artifact recorded ``parsed: null``
with a head-truncated tail — the round's whole bench comparison silently
vanished (round-8 ADVICE item 2). These tests pin the emission size
against the WORST-CASE rendering of the current headline set, so growth
trips a test here instead of truncating in the driver.

No Spark session: the contract is pure serialization.
"""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver's stdout tail window, measured from BENCH_r08.json
# (len(tail) == 2000). Keep a safety margin below it.
DRIVER_TAIL_CHARS = 2000


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _result(bench, *, new, nlfl, regressed, t=9999.999) -> dict:
    timings = {name: t for name in bench.HEADLINE}
    return {
        "metric": "headline_wall",
        "value": 99999.999,
        "unit": "sec",
        "ml_pipeline_wall": 9999.999,
        "run_spread_med_pct": 99.9,
        "run_spread_p90_pct": 999.9,
        "queries": timings,
        "sf": 0.001,
        "vs_baseline": {
            "baseline_round": 99,
            "baseline_total": 99999.999,
            "total_ratio": 99.999,
            "new_queries": sorted(new),
            "not_like_for_like": dict.fromkeys(nlfl, "x" * 80),
            "regressions_gt_1.5x": {n: 99.99 for n in regressed},
        },
    }


def test_adversarial_line_fits_driver_tail():
    """Even an impossible all-new + all-regressed + all-nlfl round must
    degrade down to a parseable line under the driver's capture window —
    the emission enforces its own bound."""
    bench = _bench()
    h = bench.HEADLINE
    line = bench.emit_line(_result(bench, new=h, nlfl=h, regressed=h))
    assert len(line) <= DRIVER_TAIL_CHARS - 20, (
        f"adversarial bench line is {len(line)} chars — the degradation "
        "ladder in bench.emit_line no longer bounds the emission"
    )
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, f"driver contract key {key!r} missing"
    assert set(parsed["queries"]) == set(h)


def test_regr_names_capped_at_5_with_flag():
    """Lever (a), round 14: the line carries at
    most 5 regression names plus a truncation flag — ratios are derivable
    from the two rounds' queries maps, and the full regression dict always
    rides docs/BENCH_LOCAL.json. Taken in the same commit as the 61st
    headline query."""
    bench = _bench()
    h = list(bench.HEADLINE)
    result = _result(bench, new=[], nlfl=[], regressed=h[:9], t=9.999)
    line = bench.emit_line(result)
    parsed = json.loads(line)
    vs = parsed["vs_baseline"]
    assert vs["regr_names"] == sorted(h[:9])[:5]
    assert vs["regr_capped_at_5"] is True
    # the full dict in the result (bound for BENCH_LOCAL.json) is uncapped
    assert len(result["vs_baseline"]["regressions_gt_1.5x"]) == 9
    # at exactly 5, no cap flag
    vs5 = json.loads(bench.emit_line(_result(bench, new=[], nlfl=[], regressed=h[:5], t=9.999)))["vs_baseline"]
    assert len(vs5["regr_names"]) == 5 and "regr_capped_at_5" not in vs5


def test_nlfl_degrades_to_count_past_4_names():
    """Lever (b), round 15, taken with the
    three round-15 headline additions: a not-like-for-like list longer
    than 4 names rides the line as ``nlfl_n`` (a count); at ≤4 the names
    ride as before. Names + prose reasons always live in
    bench.NOT_LIKE_FOR_LIKE and docs/BENCH_LOCAL.json."""
    bench = _bench()
    h = list(bench.HEADLINE)
    vs4 = json.loads(
        bench.emit_line(_result(bench, new=[], nlfl=h[:4], regressed=[], t=9.9))
    )["vs_baseline"]
    assert sorted(vs4["nlfl"]) == sorted(h[:4]) and "nlfl_n" not in vs4
    result5 = _result(bench, new=[], nlfl=h[:5], regressed=[], t=9.9)
    vs5 = json.loads(bench.emit_line(result5))["vs_baseline"]
    assert vs5["nlfl_n"] == 5 and "nlfl" not in vs5
    # the full dict bound for BENCH_LOCAL.json keeps every name + reason
    assert len(result5["vs_baseline"]["not_like_for_like"]) == 5


def test_realistic_round_fits_without_degradation():
    """A realistic round (≤8 new, ≤8 nlfl, ≤4 regressions, sub-10s
    timings) must fit WITHOUT shedding any detail. When this fails, the
    headline set has outgrown the driver tail — shrink the emission
    (precision, split lists) BEFORE the artifact goes dark again (round
    10: 2-dp per-query timings became the line standard at 56 queries;
    round 11: flag lists went names-only — nlfl / regr_names, ratios
    derivable from the two artifacts — and the p90 spread moved to the
    local artifact when the set hit 58)."""
    bench = _bench()
    h = list(bench.HEADLINE)
    result = _result(
        bench, new=h[:8], nlfl=h[8:16], regressed=h[16:20], t=9.999
    )
    line = bench.emit_line(result)
    assert len(line) <= DRIVER_TAIL_CHARS - 20
    parsed = json.loads(line)
    vs = parsed["vs_baseline"]
    # Nothing shed: ratio + both flag lists intact; per-query timings
    # ride the line at the standard 2-dp (3-dp stays in
    # docs/BENCH_LOCAL.json). Derivable/informational keys never ride
    # (new_queries, baseline_total, regression ratios, p90 spread — see
    # emit_line's key map).
    assert "new_queries" not in vs and "baseline_total" not in vs
    assert "run_spread_p90_pct" not in parsed
    # ml_pipeline_wall is local-artifact-only since round 12 (noisiest
    # number, not part of any gate; bench-line shrink lever 1) — but it
    # must still be in the full result dict bound for BENCH_LOCAL.json.
    assert "ml_pipeline_wall" not in parsed
    assert result["ml_pipeline_wall"] == 9999.999
    # both spread stats are local-artifact-only since round 13 (shrink
    # lever 3, taken with the 60th headline query) — but still in the
    # full result dict bound for BENCH_LOCAL.json
    assert "run_spread_med_pct" not in parsed
    assert result["run_spread_med_pct"] == 99.9
    assert vs["total_ratio"] == 99.999
    # Lever (b), round 15: 8 nlfl names exceed the 4-name cap, so the
    # line carries the count; the names stay in NOT_LIKE_FOR_LIKE + the
    # local artifact.
    assert vs["nlfl_n"] == 8 and "nlfl" not in vs
    assert sorted(vs["regr_names"]) == sorted(h[16:20])
    assert "regr_capped_at_5" not in vs
    assert parsed["queries"][h[0]] == round(9.999, 2)
    # Prose reasons and ratios never ride the line — names (or the
    # lever-(b) count) only; full detail lives in bench.NOT_LIKE_FOR_LIKE
    # and docs/BENCH_LOCAL.json.
    assert isinstance(vs["regr_names"], list)
    # emit_line must not mutate its input: the full artifact is dumped to
    # docs/BENCH_LOCAL.json AFTER the line is printed.
    assert len(result["vs_baseline"]["new_queries"]) == 8
    assert isinstance(result["vs_baseline"]["not_like_for_like"], dict)
    assert isinstance(result["vs_baseline"]["regressions_gt_1.5x"], dict)
    assert result["run_spread_p90_pct"] == 999.9
    # Headroom guard: fail BEFORE the next 2-3 headline additions push a
    # realistic line past the tail, not after the artifact goes dark.
    assert len(line) <= DRIVER_TAIL_CHARS - 80, (
        f"realistic line is {len(line)} chars — under the tail but out of "
        "growth headroom; shrink the emission now"
    )


def _write_artifact(tmp_path, rnd: int, obj: dict) -> None:
    with open(os.path.join(tmp_path, f"BENCH_r{rnd:02d}.json"), "w") as f:
        json.dump(obj, f)


def _payload(rnd: int) -> dict:
    return {
        "metric": "headline_queries_total_wall",
        "value": float(rnd),
        "unit": "sec",
        "queries": {"q": float(rnd)},
        "sf": 0.1,
    }


def test_load_baseline_skips_null_parsed(tmp_path):
    """The loader must fall back past a driver wrapper whose parsed payload
    is null (the round-8 truncation) to the newest usable round — exercised
    against synthetic artifacts so the contract doesn't depend on which
    historical round files stay committed (round-9 ADVICE item 4)."""
    bench = _bench()
    root = str(tmp_path)
    _write_artifact(tmp_path, 7, {"n": 7, "parsed": _payload(7)})
    _write_artifact(tmp_path, 8, {"n": 8, "parsed": None, "tail": "..."})
    baseline, rnd = bench._load_baseline(root=root)
    assert rnd == 7
    assert baseline["value"] == 7.0


def test_load_baseline_never_promotes_wrapper(tmp_path):
    """A wrapper with ``parsed: null`` is unusable even if the wrapper
    object itself carries a queries-like key — only the parsed value is a
    candidate payload (round-9 ADVICE item 1)."""
    bench = _bench()
    _write_artifact(
        tmp_path,
        9,
        {"n": 9, "parsed": None, "queries": {"bogus": 1.0}, "tail": "..."},
    )
    _write_artifact(tmp_path, 8, {"n": 8, "parsed": _payload(8)})
    baseline, rnd = bench._load_baseline(root=str(tmp_path))
    assert rnd == 8
    assert baseline["queries"] == {"q": 8.0}


def test_load_baseline_validates_contract_keys(tmp_path):
    """A parsed payload missing the bench ``metric`` contract key (some
    other JSON line the driver happened to capture) is skipped."""
    bench = _bench()
    _write_artifact(
        tmp_path, 5, {"n": 5, "parsed": {"queries": {"q": 1.0}, "value": 1}}
    )
    _write_artifact(tmp_path, 4, {"n": 4, "parsed": _payload(4)})
    baseline, rnd = bench._load_baseline(root=str(tmp_path))
    assert rnd == 4


def test_load_baseline_none_when_nothing_usable(tmp_path):
    bench = _bench()
    _write_artifact(tmp_path, 3, {"n": 3, "parsed": None})
    assert bench._load_baseline(root=str(tmp_path)) == (None, None)


def test_load_baseline_reads_committed_artifacts():
    """Against the real repo artifacts the loader must still find SOME
    usable round (BENCH_r09 parses; earlier rounds back it up)."""
    bench = _bench()
    baseline, rnd = bench._load_baseline()
    assert baseline is not None
    assert baseline.get("queries"), "baseline payload has no queries map"
    assert isinstance(rnd, int) and rnd >= 1


def test_load_baseline_skips_current_round_artifact(tmp_path):
    """The current round's own BENCH artifact must never become its
    baseline: the driver writes BENCH_r{ROUND}.json mid-round, and
    promoting it makes every round-N plan-change self-compare and trip the
    NOT_LIKE_FOR_LIKE invariant the moment the artifact lands (round-10
    verdict item 1 — ivf_knn). Plant a current-round artifact next to an
    older one and assert the loader takes the older."""
    bench = _bench()
    _write_artifact(tmp_path, 11, {"n": 11, "parsed": _payload(11)})
    _write_artifact(tmp_path, 10, {"n": 10, "parsed": _payload(10)})
    baseline, rnd = bench._load_baseline(root=str(tmp_path), before_round=11)
    assert rnd == 10
    assert baseline["value"] == 10.0
    # Nothing older than the bound → no baseline, never the current round.
    assert bench._load_baseline(root=str(tmp_path), before_round=10) == (
        None,
        None,
    )


def test_load_baseline_round_bound_defaults_to_config_round():
    """In the real repo the bound comes from scripts/derive_front.py's
    ROUND — the same rule last_green_rounds applies to CORRECTNESS
    artifacts — so a freshly landed BENCH_r{ROUND}.json is invisible to
    the loader without any test plumbing."""
    import importlib.util

    bench = _bench()
    spec = importlib.util.spec_from_file_location(
        "derive_front", os.path.join(REPO, "scripts", "derive_front.py")
    )
    front = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(front)
    assert bench._config_round() == front.ROUND
    _baseline, rnd = bench._load_baseline()
    assert rnd is not None and rnd < front.ROUND


def test_load_baseline_accepts_both_metric_names(tmp_path):
    """Round 12 shortened the emitted metric self-identifier
    (headline_queries_total_wall -> headline_wall, bench-line shrink
    lever 2); the loader must accept BOTH so pre-round-12 driver
    artifacts stay usable as baselines."""
    bench = _bench()
    old = dict(_payload(6))  # _payload uses the legacy long name
    assert old["metric"] == "headline_queries_total_wall"
    new = dict(_payload(7))
    new["metric"] = "headline_wall"
    _write_artifact(tmp_path, 6, {"parsed": old})
    _write_artifact(tmp_path, 7, {"parsed": new})
    baseline, rnd = bench._load_baseline(root=str(tmp_path))
    assert rnd == 7 and baseline["metric"] == "headline_wall"
    # and falling back past the new-name round still lands on the old name
    baseline, rnd = bench._load_baseline(root=str(tmp_path), before_round=7)
    assert rnd == 6 and baseline["metric"] == "headline_queries_total_wall"
