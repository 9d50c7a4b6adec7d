"""Semantic invariants for the ranking/segmentation analytics
(operators/analytics.py). Oracle parity is covered by test_oracle_parity;
these pin NTILE balance and the RFM segment-mapping rules."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pyspark_retention_pipeline_spark.operators.analytics import (
    rfm_segments,
    with_global_ntile,
)
from pyspark_retention_pipeline_spark.tables import load_table


@pytest.fixture(scope="module")
def rfm(spark, sf_dir):
    return rfm_segments(spark, sf_dir).collect()


def test_rfm_covers_every_customer(spark, sf_dir, rfm):
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rfm) == n_cust
    assert len({r.custkey for r in rfm}) == n_cust


def test_rfm_quartiles_balanced(rfm):
    """NTILE(4) bucket sizes differ by at most one on every axis."""
    for axis in ("r_score", "f_score", "m_score"):
        sizes = [0, 0, 0, 0]
        for r in rfm:
            s = getattr(r, axis)
            assert 1 <= s <= 4, (axis, s)
            sizes[s - 1] += 1
        assert max(sizes) - min(sizes) <= 1, (axis, sizes)


def test_rfm_scores_monotone_in_the_metric(rfm):
    """Higher quartile ⇒ never a smaller metric value (sort-order sanity):
    the minimum spend in m_score q+1 is ≥ the maximum spend in q."""
    for axis, metric in (("f_score", "n_orders"), ("m_score", "total_spend")):
        by_q = {}
        for r in rfm:
            by_q.setdefault(getattr(r, axis), []).append(getattr(r, metric))
        for q in range(1, 4):
            if q in by_q and q + 1 in by_q:
                assert min(by_q[q + 1]) >= max(by_q[q]), (axis, q)


def test_rfm_segment_mapping_consistent(rfm):
    for r in rfm:
        assert r.rfm_code == r.r_score * 100 + r.f_score * 10 + r.m_score
        if r.segment == "champion":
            assert r.r_score == 4 and r.f_score >= 3 and r.m_score >= 3
        elif r.segment == "loyal":
            assert r.r_score >= 3 and r.f_score >= 3
        elif r.segment == "new":
            assert r.r_score == 4 and r.f_score <= 2
        elif r.segment == "at_risk":
            assert r.r_score <= 2 and r.f_score >= 3
        elif r.segment == "hibernating":
            assert r.r_score == 1 and r.f_score <= 2


def test_with_global_ntile_matches_single_window(spark):
    """The closed-form distributed NTILE agrees with Spark's own ntile()
    on a frame small enough to run the naive way."""
    from pyspark.sql import Window

    df = spark.range(103).select(
        F.col("id"), (F.col("id") * 37 % 103).alias("v")
    )
    got = {
        r.id: r.q
        for r in with_global_ntile(
            df, [F.col("v"), F.col("id")], 7, "q"
        ).collect()
    }
    want = {
        r.id: r.q
        for r in df.withColumn(
            "q", F.ntile(7).over(Window.orderBy("v", "id")).cast("long")
        ).collect()
    }
    assert got == want


def test_with_global_cumsum_matches_single_window(spark):
    """The two-phase distributed prefix sum agrees with the naive
    unpartitioned running-sum window on a frame small enough to run it."""
    from pyspark.sql import Window

    from pyspark_retention_pipeline_spark.operators.analytics import (
        with_global_cumsum,
    )

    df = spark.range(211).select(
        F.col("id"), ((F.col("id") * 53 % 211) + 1).alias("v")
    )
    got = {
        (r.id): (r._rn, r._cum, r._n, r._total)
        for r in with_global_cumsum(df, [F.col("v"), F.col("id")], "v").collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r.id: (r.rn, r.cum, 211, r.total)
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.sum("v").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long").alias("cum"),
            F.sum("v").over(Window.partitionBy()).cast("long").alias("total"),
        ).collect()
    }
    assert got == want
    # the single-column branch accepts a Column too (pre-generalization API)
    via_col = {
        (r.id): (r._rn, r._cum)
        for r in with_global_cumsum(df, [F.col("v"), F.col("id")], F.col("v")).collect()
    }
    assert via_col == {k: (v[0], v[1]) for k, v in got.items()}


def test_pareto_concentration_invariants(spark, sf_dir):
    from pyspark_retention_pipeline_spark.operators.analytics import (
        pareto_concentration,
    )

    row = pareto_concentration(spark, sf_dir).collect()[0]
    assert row.n_customers > 0
    assert 0 < row.n_top_80pct <= row.n_customers
    assert 0.0 < row.share_customers_80pct <= 1.0
    assert 0.0 < row.top_decile_revenue_share <= 1.0
    # the top decile by construction holds at least its pro-rata share
    assert row.top_decile_revenue_share >= 0.1 - 1e-9


def test_basket_lift_metric_identities(spark, sf_dir):
    """Recompute confidence/lift for a few pairs from first principles."""
    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        basket_lift,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    rows = basket_lift(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    baskets = {}
    for r in op.collect():
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    n_orders = len(baskets)
    from collections import Counter

    item = Counter(p for parts in baskets.values() for p in parts)
    for r in rows[:10]:
        assert r.p1 < r.p2 and r.n_pair >= 2
        n_pair = sum(1 for parts in baskets.values() if r.p1 in parts and r.p2 in parts)
        assert n_pair == r.n_pair
        assert abs(r.confidence - round(n_pair / item[r.p1], 6)) < 1e-9
        assert (
            abs(r.lift - round(n_pair * n_orders / (item[r.p1] * item[r.p2]), 6))
            < 1e-9
        )
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_dq_constraint_report_clean_data_passes(spark, sf_dir):
    """The synthetic testdata satisfies all five constraints; a planted
    defect (negative price) flips exactly the right check."""
    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        dq_constraint_report,
    )

    rows = {r.check_name: r for r in dq_constraint_report(spark, sf_dir).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert (r.status == "pass") == (r.n_violations == 0)
    assert rows["pk_unique(o_orderkey)"].n_violations == 0
    assert rows["fk(orders.o_custkey -> customer)"].n_violations == 0


def test_join_key_skew_profile_accounts_for_all_rows(spark, sf_dir):
    """Strata partition the key set; row shares sum to 1; the heaviest
    stratum has rel_to_heaviest == 1."""
    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        join_key_skew_profile,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    rows = join_key_skew_profile(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    n_rows = o.count()
    n_keys = o.select("o_custkey").distinct().count()
    assert sum(r.n_keys for r in rows) == n_keys
    assert sum(r.rows_per_key * r.n_keys for r in rows) == n_rows
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-3
    assert max(r.rel_to_heaviest for r in rows) == 1.0


def test_recursive_month_spine_is_gap_free(spark, sf_dir):
    """The spine is a contiguous month range covering every observed month;
    month totals reconcile with the orders table."""
    import pyspark.sql.functions as F

    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        recursive_month_spine,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    rows = sorted(recursive_month_spine(spark, sf_dir).collect(), key=lambda r: r.m)
    ms = [r.m for r in rows]
    assert ms == list(range(ms[0], ms[-1] + 1))
    o = load_table(spark, sf_dir, "orders")
    months = {
        r.m: r.n
        for r in o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert ms[0] == min(months) and ms[-1] == max(months)
    for r in rows:
        assert r.n_orders == months.get(r.m, 0)
    assert sum(r.n_orders for r in rows) == o.count()


def test_recursive_month_spine_is_empty_on_empty_orders(spark):
    """On an empty ``orders`` table both forms return no rows: the engine's
    ``sequence()`` over NULL bounds and the oracle's recursive anchor, which
    skips the NULL bound that MIN over no rows gives."""
    import duckdb

    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        _RECURSIVE_SPINE_SQL,
        _SEQUENCE_SPINE_SQL,
    )

    session = spark.newSession()  # its own temp views: the shared orders view stays
    session.createDataFrame([], "o_orderdate date, o_totalprice double").createOrReplaceTempView(
        "orders"
    )
    assert session.sql(_SEQUENCE_SPINE_SQL).collect() == []
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_orderdate DATE, o_totalprice DOUBLE)")
    assert con.execute(_RECURSIVE_SPINE_SQL).fetchall() == []


def test_drift_monitors_match_first_principles(spark, sf_dir):
    """PSI and KS recomputed in plain python over the collected orders —
    guards against a shared misconception in both engines' SQL."""
    import datetime
    import math

    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        PSI_BIN_W,
        PSI_BINS,
        ks_price_drift,
        psi_price_drift,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    rows = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderdate"
    ).collect()
    days = [
        (r.o_orderdate.date() - datetime.date(1970, 1, 1)).days for r in rows
    ]
    piv = (min(days) + max(days) + 1) // 2
    ref = [r.o_totalprice for r, d in zip(rows, days) if d < piv]
    cur = [r.o_totalprice for r, d in zip(rows, days) if d >= piv]

    # PSI
    def binshare(xs):
        c = [0] * PSI_BINS
        for x in xs:
            c[min(int(x // PSI_BIN_W), PSI_BINS - 1)] += 1
        return [(ci + 1) / (len(xs) + PSI_BINS) for ci in c]

    p, q = binshare(ref), binshare(cur)
    psi = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
    got_psi = psi_price_drift(spark, sf_dir).collect()
    assert len(got_psi) == PSI_BINS
    assert abs(got_psi[0].psi_total - psi) < 1e-5

    # KS
    rv = sorted(round(x * 100) for x in ref)
    cv = sorted(round(x * 100) for x in cur)
    values = sorted(set(rv) | set(cv))
    import bisect
    d = max(
        abs(bisect.bisect_right(rv, v) / len(rv) - bisect.bisect_right(cv, v) / len(cv))
        for v in values
    )
    got_ks = ks_price_drift(spark, sf_dir).collect()[0]
    assert got_ks.n_ref == len(rv) and got_ks.n_cur == len(cv)
    assert got_ks.n_values == len(values)
    assert abs(got_ks.ks_stat - d) < 1e-6


def test_bootstrap_ci_brackets_the_mean_and_shrinks(spark, sf_dir):
    """The CI must contain the point estimate, and a larger sample gives a
    tighter interval (the 1/sqrt(n) law, loosely)."""
    import os

    import pytest

    from pyspark_retention_pipeline_spark.operators.analytics_extra import (
        bootstrap_revenue_ci,
    )

    base = os.path.dirname(sf_dir.rstrip("/"))
    small_dir, big_dir = os.path.join(base, "sf0.001"), os.path.join(base, "sf0.01")
    if not (os.path.isdir(small_dir) and os.path.isdir(big_dir)):
        pytest.skip("needs sf0.001 and sf0.01 testdata siblings")
    small = bootstrap_revenue_ci(spark, small_dir).collect()[0]
    big = bootstrap_revenue_ci(spark, big_dir).collect()[0]
    for r in (small, big):
        assert r.ci_lo <= r.mean_revenue <= r.ci_hi
        assert r.n_replicates == 50
    assert (big.ci_hi - big.ci_lo) < (small.ci_hi - small.ci_lo)
