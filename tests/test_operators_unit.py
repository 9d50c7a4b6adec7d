"""Per-operator unit tests on tiny literal DataFrames (SURVEY.md §5 — the test
strategy the reference lacks)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyspark_retention_pipeline_spark.exprs import dot, scaled_sum


def test_scaled_sum_is_exact(spark):
    # Values chosen to sit on a .xx5 rounding boundary where naive
    # round(sum, 2) is partition-order-dependent.
    df = spark.createDataFrame(
        [(1, 0.105), (1, 0.105), (1, 100.005)], "k int, v double"
    )
    out = df.groupBy("k").agg(scaled_sum(F.col("v"), 4).alias("s")).collect()[0]
    assert out["s"] == pytest.approx(100.215, abs=0)


def test_dot_left_fold(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        dot(F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)),
            F.array(F.lit(4.0), F.lit(5.0), F.lit(6.0))).alias("d")
    )
    assert df.collect()[0]["d"] == 32.0


def test_sessionize_gap_semantics(spark, monkeypatch, tmp_path):
    # Synthetic: user 1 has events at t=0s, 10s, then a 31-min gap -> 2 sessions.
    import pyspark_retention_pipeline_spark.operators.events as ev

    rows = [
        (1, 0, 1_000_000_000_000),
        (2, 0, 1_000_010_000_000),
        (3, 0, 1_000_010_000_000 + 31 * 60 * 1_000_000),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")
    monkeypatch.setattr(ev, "load_events", lambda *_, **__: df)
    out = ev.sessionize(spark, "ignored")
    sessions = out.collect()
    assert len(sessions) == 2
    by_id = {r["session_id"]: r for r in sessions}
    assert by_id[1]["n_events"] == 2 and by_id[2]["n_events"] == 1


def test_threshold_metrics_guard_division(spark):
    # tp=fp=fn=0 -> precision=recall=0, f1=0 (the reference's max(...,1) guard).
    from pyspark_retention_pipeline_spark.operators.threshold import with_metrics

    sweep = spark.createDataFrame([(1.0, 0, 0, 0, 10)], "t double, tp long, fp long, fn long, tn long")
    row = with_metrics(sweep).collect()[0]
    assert row["precision"] == 0.0 and row["recall"] == 0.0 and row["f1"] == 0.0


def test_auc_metrics_match_the_evaluator(spark):
    """Both AUCs equal ``BinaryClassificationEvaluator``'s within 1e-12 on
    heavily tied scores and on one-class splits, where the evaluator's
    guards hold (FPR or recall 0 for an empty class): no division by zero
    under ANSI mode."""
    import numpy as np
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from pyspark_retention_pipeline_spark.operators.threshold import auc_metrics

    rng = np.random.default_rng(3)
    # ~50 distinct values; + 0.0 turns -0.0 into 0.0, one score in SQL but two
    # curve points for the evaluator, whose RDD keys are boxed doubles.
    scores = np.round(rng.normal(size=400), 1) + 0.0
    labels = (rng.random(400) < 1 / (1 + np.exp(-2 * scores))).astype(float)
    tied = spark.createDataFrame(
        [(float(y), float(x)) for y, x in zip(labels, scores)], "label double, score double"
    ).repartition(3)
    frames = {
        "tied": tied,
        "negatives": tied.selectExpr("0.0D AS label", "score"),
        "positives": tied.selectExpr("1.0D AS label", "score"),
    }
    ev = BinaryClassificationEvaluator(rawPredictionCol="score")
    for name, frame in frames.items():
        got = auc_metrics(frame).collect()[0].asDict()
        want = {m: ev.setMetricName(m).evaluate(frame) for m in ("areaUnderROC", "areaUnderPR")}
        assert got.keys() == want.keys()
        for metric, value in want.items():
            assert abs(got[metric] - value) <= 1e-12, (name, metric, got, want)
    assert auc_metrics(frames["negatives"]).collect()[0].asDict() == {
        "areaUnderROC": 0.0,
        "areaUnderPR": 0.0,
    }


def test_auc_metrics_stays_exact_beyond_the_evaluators_bins(spark):
    """At 5000 distinct scores, where the evaluator bins its curve, the
    operator is the exact AUC: ROC the tie-free Mann–Whitney statistic, PR
    the trapezoid over every score, both within 1e-12 of numpy."""
    import numpy as np

    from pyspark_retention_pipeline_spark.operators.threshold import auc_metrics

    rng = np.random.default_rng(11)
    scores = rng.normal(size=5000)
    labels = (rng.random(5000) < 1 / (1 + np.exp(-scores))).astype(float)
    frame = spark.createDataFrame(
        [(float(y), float(x)) for y, x in zip(labels, scores)], "label double, score double"
    )
    got = auc_metrics(frame).collect()[0]

    order = np.argsort(-scores)
    y = labels[order]
    tp, fp = np.cumsum(y), np.cumsum(1 - y)
    n_pos, n_neg = tp[-1], fp[-1]
    ranks = np.empty(len(scores))
    ranks[np.argsort(scores)] = np.arange(1, len(scores) + 1)
    roc = (ranks[labels == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    recall, precision = tp / n_pos, tp / (tp + fp)
    pr = np.sum(np.diff(np.r_[0.0, recall]) * (precision + np.r_[precision[0], precision[:-1]]) / 2)
    assert abs(got["areaUnderROC"] - roc) <= 1e-12
    assert abs(got["areaUnderPR"] - pr) <= 1e-12


@pytest.mark.slow
def test_media_decode_stub_deterministic(spark):
    from pyspark_retention_pipeline_spark.operators.multimodal import decode_media

    df = spark.createDataFrame(
        [(1, b"hello world", "image/png"), (2, b"other bytes", "video/mp4")],
        "doc_id long, payload binary, media_type string",
    )
    out1 = {r["doc_id"]: (r["width"], r["height"], r["n_frames"]) for r in decode_media(df).collect()}
    out2 = {r["doc_id"]: (r["width"], r["height"], r["n_frames"]) for r in decode_media(df).collect()}
    assert out1 == out2
    assert out1[1][2] == 1  # images are single-frame
    assert out2[2][2] >= 1


def test_decode_batch_real_decoder_mode(monkeypatch):
    """When PIL imports, _decode_batch uses real image dimensions; when the
    payload doesn't parse (or PIL is absent) it falls back to the
    deterministic fake. Tested at the batch-function level because Spark
    workers run in separate processes where monkeypatched globals don't
    propagate; the Spark-side plumbing is covered by media_decode_stub."""
    import pandas as pd

    import pyspark_retention_pipeline_spark.operators.multimodal as mm

    class _StubImg:
        width, height, n_frames = 320, 240, 1

    class _StubPIL:
        @staticmethod
        def open(fp):
            if fp.read(4) != b"\x89PNG":
                raise ValueError("not an image")
            return _StubImg()

    monkeypatch.setattr(mm, "_PILImage", _StubPIL)
    batch = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [b"\x89PNG....", b"not an image"],
            "media_type": ["image/png", "image/png"],
        }
    )
    out = mm._decode_batch(batch)
    assert (out.loc[0, "width"], out.loc[0, "height"]) == (320, 240)  # real path
    fw, fh, _ = mm._fake_decode(b"not an image", "image/png")
    assert (out.loc[1, "width"], out.loc[1, "height"]) == (fw, fh)  # fallback

    monkeypatch.setattr(mm, "_PILImage", None)  # PIL-absent mode
    out2 = mm._decode_batch(batch)
    w0, h0, _ = mm._fake_decode(b"\x89PNG....", "image/png")
    assert (out2.loc[0, "width"], out2.loc[0, "height"]) == (w0, h0)


def test_class_weights_no_collect(spark, sf_dir):
    # The class-weight op must not round-trip through the driver: its plan is
    # a broadcast join of a 1-row aggregate, fully lazy until action.
    from pyspark_retention_pipeline_spark.registry import all_queries

    df = all_queries()["class_weights"](spark, sf_dir)
    rows = df.collect()
    labels = {r["label"] for r in rows}
    assert labels == {0.0, 1.0}
    weights = {r["label"]: r["class_weight"] for r in rows}
    assert weights[0.0] == 1.0 and weights[1.0] > 0


def test_dau_hll_rollup_accuracy(spark, sf_dir):
    """HLL daily sketches + sketch-union total must track exact distincts
    within HLL error (lgConfigK default 12 -> ~1.6% typical, 5% bound).

    The exact side comes from DUCKDB reading the same parquet — NOT from
    load_events — so a timestamp-unit drift in the loader (round-5: ts_us
    off by 1000x collapsed all day buckets, and the old self-referential
    comparison collapsed identically and stayed green) breaks the day-key
    set equality here instead of passing silently."""
    import duckdb

    from pyspark_retention_pipeline_spark.registry import all_queries

    out = {r["day"]: r["approx_users"] for r in
           all_queries()["dau_hll_rollup"](spark, sf_dir).collect()}
    exact_daily = dict(duckdb.sql(
        f"SELECT epoch_us(ts) // 86400000000 AS day, COUNT(DISTINCT user_id) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
    ).fetchall())
    exact_total = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    assert set(out) == set(exact_daily) | {-1}, (
        "day-bucket keys diverge from the independent oracle — "
        "timestamp-unit drift in load_events?"
    )
    assert len(exact_daily) > 1  # guard: a unit collapse yields a single bucket
    assert abs(out[-1] - exact_total) / exact_total < 0.05
    for day, exact in exact_daily.items():
        assert abs(out[day] - exact) / max(exact, 1) < 0.05, (day, out[day], exact)


def test_median_builtin_matches_udaf_variant(spark, sf_dir):
    """median_order_value defaults to the JVM median aggregate (round-2
    verdict item 4); the pandas-UDAF surface demo must agree exactly and the
    default plan must carry no pandas aggregate node."""
    from pyspark_retention_pipeline_spark.operators.aggregates import (
        median_order_value,
        median_order_value_udaf_frame,
    )
    from pyspark_retention_pipeline_spark.plans.inspect import explain_str
    from pyspark_retention_pipeline_spark.tables import load_table

    built = median_order_value(spark, sf_dir)
    assert "AggregateInPandas" not in explain_str(built)
    jvm = {r["custkey"]: r["median_order"] for r in built.collect()}
    udaf = {
        r["custkey"]: r["median_order"]
        for r in median_order_value_udaf_frame(
            load_table(spark, sf_dir, "orders")
        ).collect()
    }
    assert jvm == udaf


def test_salted_join_rejects_dim_replicating_outer_joins(spark):
    """right/full outer joins would surface each unmatched dim row once per
    salt replica — salted_join must refuse them (round-2 advisor finding)."""
    import pytest as _pytest

    from pyspark_retention_pipeline_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, d string")
    for how in ("right", "full", "outer", "right_outer"):
        with _pytest.raises(ValueError, match="salt-safe"):
            salted_join(fact, dim, "k", how=how)
    # fact-preserving types still work; unmatched dim rows never replicate
    assert salted_join(fact, dim, "k", how="left").count() == 1
    # every Spark alias of a fact-preserving type passes (round-3 advisor:
    # the allowlist rejected 'leftouter'/'semi'/'leftsemi'/'anti'/'leftanti')
    for how in ("left_outer", "leftouter", "inner"):
        assert salted_join(fact, dim, "k", how=how).count() == 1
    for how in ("semi", "leftsemi", "left_semi"):
        assert salted_join(fact, dim, "k", how=how).count() == 1
    for how in ("anti", "leftanti", "left_anti"):
        assert salted_join(fact, dim, "k", how=how).count() == 0


def test_approx_distinct_tracks_exact(spark, sf_dir):
    """The HLL variant must track the exact per-customer distinct count
    within a loose sketch-error band (small cardinalities hit HLL's
    linear-counting regime, so the practical error is tiny)."""
    from pyspark_retention_pipeline_spark.registry import all_queries

    qs = all_queries()
    exact = {
        r["custkey"]: r["distinct_parts"]
        for r in qs["distinct_products"](spark, sf_dir).collect()
    }
    approx = {
        r["custkey"]: r["approx_distinct_parts"]
        for r in qs["approx_distinct_products"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, ev in exact.items():
        assert abs(approx[k] - ev) <= max(2, 0.15 * ev), (k, ev, approx[k])


def test_p99_approx_within_rank_error(spark, sf_dir):
    """percentile_approx's documented guarantee is RANK error: with
    accuracy=10000 the returned value's true rank is within n/10000 of the
    0.99 target rank. Verified against DuckDB exact quantiles at the
    rank-shifted percentiles (2x slack for interpolation-vs-element
    convention differences), per l_returnflag group — the last approx-tier
    query without an error-bound property test (VERDICT r7 item 8)."""
    import duckdb

    from pyspark_retention_pipeline_spark.registry import all_queries

    approx = {
        r["l_returnflag"]: r["p99_approx"]
        for r in all_queries()["p99_quantile_approx"](spark, sf_dir).collect()
    }
    # The sketch returns an ACTUAL element whose rank is within eps_rank of
    # the target rank, so the bound must be rank-discrete (an interpolated
    # quantile_cont band is tighter than the guarantee and flakes at small
    # n, where adjacent order statistics sit far apart in value space).
    rows = duckdb.sql(
        f"""
        SELECT l_returnflag, COUNT(*) AS n,
               array_agg(l_extendedprice ORDER BY l_extendedprice) AS xs
        FROM '{sf_dir}/lineitem.parquet' GROUP BY 1
        """
    ).fetchall()
    assert set(approx) == {flag for flag, _, _ in rows}
    for flag, n, xs in rows:
        eps_rank = max(1, -(-2 * n // 10000))  # ceil(2n/10000), >= 1 element
        target = max(0, -(-99 * n // 100) - 1)  # 0-indexed ceil(0.99 n)
        lo = xs[max(0, target - eps_rank)]
        hi = xs[min(n - 1, target + eps_rank)]
        assert lo <= approx[flag] <= hi, (flag, approx[flag], lo, hi, n)


@pytest.mark.slow
def test_media_frame_sample_uniform_bounded_and_resized(spark):
    """Frame sampling: <= FRAME_SAMPLE_K frames per video at strictly
    increasing uniform indices < n_frames, timestamps on the frame period,
    resize output capped at RESIZE_MAX on the longer side with aspect
    preserved, and the whole stage deterministic across evaluations."""
    from pyspark_retention_pipeline_spark.operators.multimodal import (
        FRAME_MS,
        FRAME_SAMPLE_K,
        RESIZE_MAX,
        decode_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(i, f"payload {i} bytes".encode(), "video/mp4") for i in range(6)],
        "doc_id long, payload binary, media_type string",
    )
    decoded = decode_media(df)
    meta = {r["doc_id"]: r for r in decoded.collect()}
    rows = sample_frames(decoded).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(meta)
    for doc_id, frames in by_doc.items():
        n_frames = meta[doc_id]["n_frames"]
        assert len(frames) == min(FRAME_SAMPLE_K, n_frames)
        idxs = [f["frame_idx"] for f in sorted(frames, key=lambda f: f["frame_idx"])]
        assert idxs == sorted(set(idxs)) and idxs[0] == 0 and idxs[-1] < n_frames
        for f in frames:
            assert f["ts_ms"] == f["frame_idx"] * FRAME_MS
            assert max(f["out_width"], f["out_height"]) == RESIZE_MAX
    again = {(r["doc_id"], r["frame_idx"]): r["frame_md5"] for r in sample_frames(decoded).collect()}
    assert all(again[(r["doc_id"], r["frame_idx"])] == r["frame_md5"] for r in rows)


def test_synthetic_partsupp_striping(spark, sf_dir):
    """The synthetic partsupp's contract: exactly 4 suppliers per part,
    (part, supplier) pairs unique (striped assignment doesn't collide at the
    testdata supplier counts), supplier keys in range, and the derivation is
    deterministic across invocations."""
    import pyspark.sql.functions as F

    from pyspark_retention_pipeline_spark.operators.tpch_partsupp import (
        synthetic_partsupp,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    ps = synthetic_partsupp(spark, sf_dir)
    n_parts = load_table(spark, sf_dir, "part").count()
    n_supp = load_table(spark, sf_dir, "supplier").count()
    assert ps.count() == n_parts * 4
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n_parts * 4
    rng = ps.agg(
        F.min("ps_suppkey").alias("lo"), F.max("ps_suppkey").alias("hi")
    ).collect()[0]
    assert 1 <= rng.lo and rng.hi <= n_supp
    again = synthetic_partsupp(spark, sf_dir)
    assert ps.exceptAll(again).count() == 0 and again.exceptAll(ps).count() == 0


def test_winsorized_spend_stats_semantics(spark, sf_dir):
    """Winsorized mean sits between p01 and p99; clipping count matches a
    hand recount; the mean equals the clipped-mean computed locally."""
    import pyspark.sql.functions as F

    from pyspark_retention_pipeline_spark.operators.aggregates import (
        winsorized_spend_stats,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    row = winsorized_spend_stats(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    spend = [
        r.s
        for r in o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
        .collect()
    ]
    assert row.n_customers == len(spend)
    assert row.p01 <= row.winsorized_mean <= row.p99
    n_clipped = sum(1 for s in spend if s < row.p01 or s > row.p99)
    assert row.n_clipped == n_clipped
    assert 0 < n_clipped < len(spend)
    clipped_mean = sum(min(max(s, row.p01), row.p99) for s in spend) / len(spend)
    assert abs(row.winsorized_mean - clipped_mean) < 1e-3


@pytest.mark.slow
def test_exact_quantile_frame_bit_identical_to_builtin(spark):
    """The scalable exact-quantile recipe (operators/quantiles.py) must be
    VALUE-BIT-IDENTICAL to Spark's exact ``percentile`` aggregate — the
    retrofit contract for winsorized_spend_stats / p99_quantile / theilsen
    (round-14 verdict item 1). Sweep the hazard surface: tiny n at the
    p01/p99 edges (where the naive bracket-containment argument fails and
    the _SMALL_N guard takes over), heavy ties, all-identical values,
    n > _SMALL_N exercising the real bracket path, grouped inputs whose
    group sizes straddle the guard boundary, and nulls (ignored by both
    forms)."""
    import random

    from pyspark_retention_pipeline_spark.operators.quantiles import (
        exact_quantile_frame,
    )

    rng = random.Random(7)

    def assert_match(rows, qs, group_cols=()):
        if group_cols:
            df = spark.createDataFrame(rows, "g string, v double")
        else:
            df = spark.createDataFrame(rows, "v double")
        names = [f"q{i}" for i in range(len(qs))]
        mine = exact_quantile_frame(
            df, "v", qs, names, group_cols=group_cols, n_name="n"
        )
        ref = df.groupBy(*group_cols).agg(
            *[F.percentile("v", F.lit(q)).alias(f"q{i}") for i, q in enumerate(qs)],
            F.count("v").alias("n"),
        )
        key = lambda r: tuple(r[c] for c in group_cols)  # noqa: E731
        got = {key(r): r for r in mine.collect()}
        want = {key(r): r for r in ref.collect()}
        assert set(got) == set(want)
        for k, w in want.items():
            assert got[k]["n"] == w["n"]
            for i in range(len(qs)):
                # exact equality — bit-identity, not tolerance
                assert got[k][f"q{i}"] == w[f"q{i}"], (k, qs[i], got[k], w)

    for n in (1, 2, 3, 5, 10, 30):
        assert_match(
            [(rng.uniform(0, 100),) for _ in range(n)], [0.01, 0.5, 0.99]
        )
    assert_match(
        [(v,) for v in [1.0] * 50 + [2.0] * 50 + [3.0] * 3],
        [0.01, 0.25, 0.5, 0.99],
    )
    assert_match([(7.5,) for _ in range(20)], [0.01, 0.99])
    big = [(rng.uniform(0, 1000),) for _ in range(3000)] + [(500.0,)] * 1500
    assert_match(big, [0.01, 0.5, 0.99])
    rows = []
    for g, n in (("a", 4), ("b", 1200), ("c", 999), ("d", 1001)):
        rows += [(g, rng.gauss(0.0, 10.0)) for _ in range(n)]
    rows.append(("b", None))  # both forms ignore nulls
    assert_match(rows, [0.5, 0.99], group_cols=["g"])
