"""Property-based tests (hypothesis) for the engine's determinism and
algebraic invariants — SURVEY.md §5's upgrade over the reference's
zero-test posture."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyspark_retention_pipeline_spark.exprs import scaled_sum

MONEY = st.decimals(
    min_value=Decimal("-99999.99"), max_value=Decimal("99999.99"), places=2
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.slow
@given(values=st.lists(MONEY, min_size=1, max_size=40))
@SETTINGS
def test_scaled_sum_partition_order_independent(spark, values):
    """scaled_sum must equal the exact Decimal sum regardless of
    partitioning — the property that makes oracle hashes stable."""
    exact = float(sum(values))
    rows = [(float(v),) for v in values]
    df1 = spark.createDataFrame(rows, "v double").coalesce(1)
    df8 = spark.createDataFrame(rows, "v double").repartition(8)
    r1 = df1.agg(scaled_sum(F.col("v"), 2).alias("s")).collect()[0]["s"]
    r8 = df8.agg(scaled_sum(F.col("v"), 2).alias("s")).collect()[0]["s"]
    assert r1 == r8 == pytest.approx(exact, abs=1e-9)


@pytest.mark.slow
@given(
    gaps_s=st.lists(st.integers(min_value=1, max_value=7200), min_size=1, max_size=30)
)
@SETTINGS
def test_sessionize_matches_python_reference(spark, gaps_s, monkeypatch):
    """Spark sessionization == a straightforward single-threaded reference
    over arbitrary inter-event gaps."""
    import pyspark_retention_pipeline_spark.operators.events as ev

    ts, times = 1_000_000_000_000, []
    for g in gaps_s:
        times.append(ts)
        ts += g * 1_000_000
    rows = [(i, 7, t) for i, t in enumerate(times)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")
    monkeypatch.setattr(ev, "load_events", lambda *_, **__: df)
    got = {
        (r["session_id"], r["n_events"])
        for r in ev.sessionize(spark, "ignored").collect()
    }

    # Python reference: new session when gap > 30 min.
    sessions, count = [], 0
    for i, t in enumerate(times):
        if i == 0 or t - times[i - 1] > ev.SESSION_GAP_US:
            if count:
                sessions.append(count)
            count = 1
        else:
            count += 1
    sessions.append(count)
    expected = {(i + 1, n) for i, n in enumerate(sessions)}
    assert got == expected


@pytest.mark.slow
@given(
    labels=st.lists(st.booleans(), min_size=3, max_size=60),
    data=st.data(),
)
@SETTINGS
def test_threshold_curve_invariants(spark, labels, data):
    """Recall is non-increasing in t; tp+fn is constant; precision/recall
    stay in [0,1] under the reference's guard semantics."""
    from pyspark_retention_pipeline_spark.operators.threshold import with_metrics

    scores = [
        data.draw(st.integers(min_value=0, max_value=100)) / 100.0 for _ in labels
    ]
    rows = [(float(l), s) for l, s in zip(labels, scores)]
    scored = spark.createDataFrame(rows, "label double, score double")
    expanded = scored.select(
        "label", "score", F.explode(F.sequence(F.lit(0), F.lit(100))).alias("i")
    ).withColumn("t", F.col("i").cast("double") / F.lit(100.0))
    hit = F.col("score") >= F.col("t")
    pos = F.col("label") == 1
    sweep = expanded.groupBy("t").agg(
        F.sum(F.when(hit & pos, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(hit & ~pos, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~hit & pos, 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~hit & ~pos, 1).otherwise(0)).alias("tn"),
    )
    curve = with_metrics(sweep).orderBy("t").collect()
    n_pos = sum(1 for l in labels if l)
    recalls = [r["recall"] for r in curve]
    assert all(recalls[i] >= recalls[i + 1] - 1e-12 for i in range(len(recalls) - 1))
    for r in curve:
        assert r["tp"] + r["fn"] == n_pos
        assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0


@given(
    weeksets=st.lists(
        st.sets(st.integers(min_value=2800, max_value=2812), min_size=1, max_size=8),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_growth_accounting_matches_python_reference(spark, weeksets, monkeypatch):
    """growth_accounting == a straightforward per-user Python fold over
    arbitrary week-activity sets (each user active in an arbitrary subset
    of a 13-week calendar)."""
    import pyspark_retention_pipeline_spark.operators.engagement as eng

    rows = []
    eid = 0
    for uid, weeks in enumerate(weeksets):
        for w in weeks:
            rows.append((eid, uid, w * eng.WEEK_US + 12345))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")
    monkeypatch.setattr(eng, "load_events", lambda *_, **__: df)

    expect: dict[int, list[int]] = {}
    for weeks in weeksets:
        ordered = sorted(weeks)
        for i, w in enumerate(ordered):
            e = expect.setdefault(w, [0, 0, 0])
            if i == 0:
                e[0] += 1
            elif ordered[i - 1] == w - 1:
                e[1] += 1
            else:
                e[2] += 1

    got = {
        r["week"]: [r["n_new"], r["n_retained"], r["n_resurrected"]]
        for r in eng.growth_accounting(spark, "ignored").collect()
    }
    assert got == expect


@pytest.mark.slow
@given(
    daysets=st.lists(
        st.sets(st.integers(min_value=19000, max_value=19040), min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_stickiness_matches_python_reference(spark, daysets, monkeypatch):
    """stickiness_ratio's MAU28 == brute-force trailing-window distinct
    count for every day with activity."""
    import pyspark_retention_pipeline_spark.operators.engagement as eng

    rows = []
    eid = 0
    for uid, days in enumerate(daysets):
        for d in days:
            rows.append((eid, uid, d * eng.DAY_US + 999))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long")
    monkeypatch.setattr(eng, "load_events", lambda *_, **__: df)

    active_days = sorted({d for days in daysets for d in days})
    expect = {}
    for d in active_days:
        dau = sum(1 for days in daysets if d in days)
        mau = sum(1 for days in daysets if any(d - 27 <= x <= d for x in days))
        expect[d] = (dau, mau)

    got = {
        r["day"]: (r["dau"], r["mau28"])
        for r in eng.stickiness_ratio(spark, "ignored").collect()
    }
    assert got == expect


@pytest.mark.slow
@given(
    orders=st.lists(
        st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=7),
        min_size=1,
        max_size=12,
    )
)
@SETTINGS
def test_part_cooccurrence_matches_python_reference(spark, orders, monkeypatch):
    """part_cooccurrence == brute-force pair counting over arbitrary order
    compositions (duplicate parts within an order collapse to set
    semantics, pairs are unordered with p1 < p2)."""
    from collections import Counter
    from itertools import combinations

    import pyspark_retention_pipeline_spark.operators.analytics_extra as ax

    rows = []
    for okey, parts in enumerate(orders):
        for p in parts:
            rows.append((okey, p))
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(ax, "load_table", lambda *_, **__: df)

    expect = Counter()
    for parts in orders:
        for a, b in combinations(sorted(set(parts)), 2):
            expect[(a, b)] += 1

    got = {
        (r.p1, r.p2): r.n_orders
        for r in ax.part_cooccurrence(spark, "ignored").collect()
    }
    # the operator returns top-100; with <=12x21 pairs nothing is cut
    assert got == dict(expect)


def test_order_sensitive_queries_partitioning_invariant(spark, sf_dir):
    """The continuation tier's rank/top-k queries produce identical rows
    under different shuffle-partition counts — the restart/reconfigure
    stability the oracle hashes depend on. Exercises the queries whose
    output order or selection could plausibly leak physical layout:
    rounded-float top-k (basket_lift, weighted_doc_sample), sketch-pruned
    exact counts (heavy_hitter_tokens), path top-k (top_session_paths),
    and the two-phase NTILE (rfm_segments)."""
    from pyspark_retention_pipeline_spark.registry import get

    names = [
        "basket_lift",
        "weighted_doc_sample",
        "heavy_hitter_tokens",
        "top_session_paths",
        "rfm_segments",
    ]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for nparts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for n in names:
                rows = frozenset(
                    tuple(r) for r in get(n).fn(spark, sf_dir).collect()
                )
                results.setdefault(n, []).append(rows)
        for n, (a, b) in results.items():
            assert a == b, f"{n} differs across shuffle-partition settings"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    k=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_global_rank_and_ntile_properties(spark, n, k, seed):
    """with_global_row_number is a bijection onto 1..N for any ordering, and
    the closed-form NTILE matches the SQL spec (sizes differ by ≤1, earlier
    buckets never smaller, ordering respected) for arbitrary N and k."""
    from pyspark_retention_pipeline_spark.operators.analytics import (
        ntile_from_row_number,
        with_global_row_number,
    )

    df = spark.range(n).select(
        F.col("id"), ((F.col("id") * 2654435761 + seed) % 997).alias("v")
    )
    ranked = with_global_row_number(df, [F.col("v"), F.col("id")]).withColumn(
        "q", ntile_from_row_number(k)
    )
    rows = ranked.select("id", "v", "_rn", "_n", "q").collect()
    assert sorted(r._rn for r in rows) == list(range(1, n + 1))
    assert all(r._n == n for r in rows)
    by_rank = sorted(rows, key=lambda r: r._rn)
    assert [(r.v, r.id) for r in by_rank] == sorted((r.v, r.id) for r in rows)
    sizes = [0] * k
    for r in rows:
        assert 1 <= r.q <= k
        sizes[r.q - 1] += 1
    filled = [s for s in sizes if s]
    assert max(filled) - min(filled + [max(filled)]) <= 1
    assert sizes == sorted(sizes, reverse=True) or n >= k
    # Bucket boundaries respect the ordering.
    for a, b in zip(by_rank, by_rank[1:]):
        assert a.q <= b.q


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=60),
    k=st.integers(min_value=4, max_value=24),
    seed=st.integers(min_value=0, max_value=999),
)
def test_heavy_hitters_exact_for_any_distribution(spark, counts, k, seed):
    """Misra-Gries two-pass output equals the exact threshold set for
    arbitrary distributions, summary sizes, and partitionings — the
    superset guarantee holds whenever div < k (here div = k - 1)."""
    from pyspark_retention_pipeline_spark.operators.text import (
        heavy_hitters_frame,
    )

    div = k - 1
    rows = []
    for i, c in enumerate(counts):
        rows.extend([(f"t{seed}_{i:03d}",)] * c)
    tok = spark.createDataFrame(rows, "token string").repartition(1 + seed % 7)
    total = len(rows)
    got = {(r.token, r.n) for r in heavy_hitters_frame(tok, k, div).collect()}
    exact = {
        (f"t{seed}_{i:03d}", c)
        for i, c in enumerate(counts)
        if c * div > total
    }
    assert got == exact


# ---------------------------------------------------------------------------
# Packed-counter fold math (round 7): pure-Python properties of the
# multiply-and-mask bit-spread and the vote-equivalence rule that
# portable_simhash60's packed accumulator relies on. No Spark needed —
# these pin the hand-derived arithmetic itself.
# ---------------------------------------------------------------------------

_SPREAD = 1 + (1 << 29)
_FMASK = 1 + (1 << 30)


@given(h=st.integers(min_value=0, max_value=(1 << 60) - 1))
@settings(max_examples=300, deadline=None)
def test_bit_spread_is_cross_term_free(h):
    """((h >> 2w) & 3) * (1+2^29) masked at the 30k positions must yield
    EXACTLY bit 2w at position 0 and bit 2w+1 at position 30, for every
    word — the identity that lets one multiply scatter two vote lanes."""
    for w in range(30):
        x = (h >> (2 * w)) & 3
        spread = (x * _SPREAD) & _FMASK
        assert spread & 1 == (h >> (2 * w)) & 1
        assert (spread >> 30) & 1 == (h >> (2 * w + 1)) & 1
        assert spread & ~_FMASK == 0  # nothing leaks outside the two fields


@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1), min_size=1, max_size=64
    )
)
@settings(max_examples=100, deadline=None)
def test_packed_accumulation_equals_per_lane_counts(hashes):
    """Summing spread words must reproduce exact per-lane one-counts while
    n < 2^30 (the no-carry bound), matching the classical +/-1 vote sign:
    sum(+-1) > 0  <=>  2*ones > n, ties -> 0."""
    acc = [0] * 30
    for h in hashes:
        for w in range(30):
            acc[w] += (((h >> (2 * w)) & 3) * _SPREAD) & _FMASK
    n = len(hashes)
    for j in range(60):
        w, k = divmod(j, 2)
        ones = (acc[w] >> (30 * k)) & ((1 << 30) - 1)
        direct = sum((h >> j) & 1 for h in hashes)
        assert ones == direct
        votes = sum(1 if (h >> j) & 1 else -1 for h in hashes)
        assert (votes > 0) == (2 * ones > n)


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=500),  # key (unique per group below)
            st.integers(min_value=0, max_value=3),    # value — tiny range forces ties
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_salted_topk_equals_single_window(spark, rows, k):
    """The salted two-stage per-group top-k (windows.py) must be
    byte-identical to the plain single-window rank for ANY data — including
    maximal value ties resolved purely by the key tie-break, groups smaller
    than k, and keys colliding in the same salt bucket. A key lives in
    exactly one salt bucket, so every true top-k row has at most k-1 rows
    above it in its own bucket and survives stage 1."""
    from pyspark.sql import Window

    dedup = {(g, key): v for g, key, v in rows}  # one row per (group, key)
    data = [(g, key, v) for (g, key), v in dedup.items()]
    df = spark.createDataFrame(data, "grp int, key long, val long").repartition(8)
    order = (F.col("val").desc(), F.col("key"))

    w_plain = Window.partitionBy("grp").orderBy(*order)
    plain = df.withColumn("rn", F.row_number().over(w_plain)).filter(
        F.col("rn") <= k
    )

    w_local = Window.partitionBy("grp", F.pmod(F.xxhash64("key"), F.lit(3))).orderBy(
        *order
    )
    w_final = Window.partitionBy("grp").orderBy(*order)
    salted = (
        df.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= k)
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@pytest.mark.slow
@given(
    n_rows=st.integers(min_value=1, max_value=12),
    change_keys=st.sets(st.integers(min_value=0, max_value=11), max_size=6),
    closed_keys=st.sets(st.integers(min_value=0, max_value=11), max_size=6),
)
@SETTINGS
def test_scd2_apply_matches_python_reference(spark, n_rows, change_keys, closed_keys):
    """The single-pass scd2_apply (one classify join) must match a
    straightforward Python reference for ANY mix of changed keys, keys with
    already-closed historical versions, and untouched keys: an open version
    of a changed key closes at the change ts, closed versions never move,
    and every change appends as the new open version."""
    from pyspark_retention_pipeline_spark.operators.upsert import scd2_apply

    CHANGE_TS = 5_000
    cur = []
    for k in range(n_rows):
        if k in closed_keys:  # historical closed version alongside the open one
            cur.append((k, f"old{k}", 100, 200))
        cur.append((k, f"v{k}", 300, None))  # open version
    current = spark.createDataFrame(
        cur, "id long, attr string, valid_from long, valid_to long"
    )
    chg = [(k, f"new{k}", CHANGE_TS) for k in sorted(change_keys) if k < n_rows]
    changes = spark.createDataFrame(
        chg, "id long, attr string, changed_at long"
    ) if chg else spark.createDataFrame([], "id long, attr string, changed_at long")

    expected = []
    changed = {k for k, _, _ in chg}
    for k, attr, vf, vt in cur:
        if vt is None and k in changed:
            expected.append((k, attr, vf, CHANGE_TS))
        else:
            expected.append((k, attr, vf, vt))
    for k, attr, ts in chg:
        expected.append((k, attr, ts, None))

    got = [
        (r["id"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_apply(current, changes, "id", "changed_at").collect()
    ]
    assert sorted(got, key=str) == sorted(expected, key=str)


@pytest.mark.slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=80,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cluster_assignment_matches_union_find(spark, edges):
    """cluster_assignment_frame (the tail shared by dedup_clusters and the
    oracle-checked dedup_clusters_portable) must equal a reference
    union-find on ARBITRARY edge sets — including self-loops, duplicates,
    and long chains (hypothesis shrinks toward them)."""
    from pyspark_retention_pipeline_spark.operators.components import (
        cluster_assignment_frame,
    )

    edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_canon = {v: find(v) for v in parent}
    sizes: dict[int, int] = {}
    for v, c in want_canon.items():
        sizes[c] = sizes.get(c, 0) + 1

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in cluster_assignment_frame(df).collect()
    }
    assert got == {v: (c, sizes[c]) for v, c in want_canon.items()}


def test_cluster_assignment_long_chain(spark):
    """A 200-vertex path graph (diameter ≫ one-hop budget) converges via
    pointer jumping to a single component with the minimum label."""
    from pyspark_retention_pipeline_spark.operators.components import (
        cluster_assignment_frame,
    )

    n = 200
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    rows = cluster_assignment_frame(df).collect()
    assert len(rows) == n
    assert all(r["canonical_id"] == 0 and r["cluster_size"] == n for r in rows)


def test_vocab_coverage_curve_monotone(spark, sf_dir):
    """Higher coverage targets need monotonically non-decreasing vocab
    sizes and covered-token counts; every row shares one total; the top
    target's coverage is actually reached (cum*100 >= pct*total)."""
    from pyspark_retention_pipeline_spark.registry import all_queries

    rows = sorted(
        all_queries()["vocab_coverage_curve"](spark, sf_dir).collect(),
        key=lambda r: r["coverage_pct"],
    )
    assert [r["coverage_pct"] for r in rows] == [50, 75, 90, 95, 99]
    sizes = [r["vocab_size"] for r in rows]
    covered = [r["covered_tokens"] for r in rows]
    assert sizes == sorted(sizes) and covered == sorted(covered)
    totals = {r["total_tokens"] for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    for r in rows:
        assert r["covered_tokens"] * 100 >= r["coverage_pct"] * total
        assert 1 <= r["vocab_size"] and r["covered_tokens"] <= total


def test_ann_band_bits_monotone_in_n():
    """The grid-sizing rule is monotone non-decreasing in corpus size and
    non-increasing in target bucket size across its whole useful range."""
    from pyspark_retention_pipeline_spark.operators.similarity import (
        ann_band_bits,
    )

    prev = 0
    for n in [1, 10, 100, 1_000, 10_000, 10**5, 10**6, 10**7, 10**9, 10**12]:
        bits = ann_band_bits(n)
        assert bits >= prev
        prev = bits
    for n in (1_000, 1_000_000):
        assert ann_band_bits(n, target_bucket=4) >= ann_band_bits(
            n, target_bucket=64
        )


def test_ann_band_bits_matches_duckdb_round_log2_rule():
    """The adaptive oracle re-derives the band width in SQL as
    GREATEST(4, LEAST(30, CAST(ROUND(LOG2(GREATEST(1.0, n/8.0))) AS INT)))
    while the Spark side calls the Python rule (round(log2(n/8))). Python
    rounds half-to-even, DuckDB half-away-from-zero — the docstring's
    number-theory argument is that they can never see an exact .5 because
    log2(n/8) is irrational unless n/8 is a power of two (where no
    rounding happens). Pin that argument as a checked invariant
    (round-10 verdict item 6): sweep every boundary-adjacent n — a window
    around 8*2^(k+1/2) for every k in range, the exact powers, the clamps
    — plus a seeded random sample up to 10^7, and compare the two rules
    value-for-value through DuckDB itself."""
    import math
    import random

    import duckdb

    from pyspark_retention_pipeline_spark.operators.similarity import (
        ANN_TARGET_BUCKET,
        ann_band_bits,
    )

    t = ANN_TARGET_BUCKET
    ns: set[int] = set()
    for k in range(0, 21):
        half = t * (2 ** (k + 0.5))  # the rounding boundary
        center = int(round(half))
        ns.update(range(max(1, center - 4), center + 5))
        exact = t * (2**k)  # no-rounding anchor
        ns.update(range(max(1, exact - 2), exact + 3))
    rng = random.Random(11)
    ns.update(rng.randrange(1, 10**7) for _ in range(2_000))
    ns.update((1, 2, t - 1, t, t + 1, 10**7))

    batch = sorted(ns)
    rows = duckdb.sql(
        f"""
        SELECT n, GREATEST(4, LEAST(30,
                 CAST(ROUND(LOG2(GREATEST(1.0, n / {t}.0))) AS INT))) AS bb
        FROM (SELECT unnest(?) AS n)
        """,
        params=[batch],
    ).fetchall()
    assert len(rows) == len(batch)
    diverged = [
        (n, ann_band_bits(n), bb) for n, bb in rows if ann_band_bits(n) != bb
    ]
    assert not diverged, (
        f"Python round() and DuckDB ROUND(LOG2()) disagree at "
        f"{diverged[:10]} (of {len(diverged)})"
    )
    # Sanity on the sweep itself: it actually straddles boundaries (both
    # neighbors of some center differ by one bit).
    width = dict(rows)
    assert any(
        width.get(n) is not None
        and width.get(n + 1) is not None
        and width[n + 1] == width[n] + 1
        for n in batch
        if n + 1 in width
    )


def _ref_span_rewrite(rows, k):
    """Brute-force Python reference of crossdoc_span_rewrite: span grams
    as strings (truncated for docs shorter than k — the list_slice /
    NULL-skip convention), canonical = lowest doc_id, victims drop every
    covered token."""
    toks = {d: t.split(" ") for d, t in rows}
    owners: dict[str, set] = {}
    occ: dict[int, list] = {}
    for d, ts in toks.items():
        for p in range(0, max(len(ts) - k, 0) + 1):
            g = " ".join(ts[p : p + k])
            owners.setdefault(g, set()).add(d)
            occ.setdefault(d, []).append((p, g))
    out = {}
    for d, ts in toks.items():
        rm: set = set()
        for p, g in occ[d]:
            ds = owners[g]
            if len(ds) >= 2 and d > min(ds):
                rm.update(range(p, p + k))
        kept = [t for i, t in enumerate(ts) if i not in rm]
        out[d] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


@pytest.mark.slow
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=10),
        min_size=2,
        max_size=6,
    )
)
def test_crossdoc_span_rewrite_matches_bruteforce(spark, docs, monkeypatch):
    """The distributed span rewrite equals a brute-force per-corpus
    reference on random corpora over a tiny alphabet (dense span
    collisions; SPAN shrunk to 3 so short docs exercise both the
    truncated-span and the multi-overlap paths)."""
    import pyspark_retention_pipeline_spark.operators.curation as cu

    rows = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(cu, "load_table", lambda *_, **__: frame)
    monkeypatch.setattr(cu, "SPAN", 3)
    got = {
        r["doc_id"]: (r["text_rewritten"], r["n_tokens"], r["n_removed"])
        for r in cu.crossdoc_span_rewrite(spark, "x").collect()
    }
    assert got == _ref_span_rewrite(rows, 3)


def _ref_bpe_merges(words, rounds):
    """Brute-force BPE reference: per distinct word (len >= 2) keep its
    symbol tuple and corpus count; per round count adjacent pairs
    (overlapping), take argmax by (count desc, a, b), merge greedy
    left-to-right non-overlapping."""
    from collections import Counter

    wc = Counter(w for w in words if len(w) >= 2)
    segs = {w: tuple(w) for w in wc}
    merges = []
    for _ in range(rounds):
        pc: Counter = Counter()
        for w, seq in segs.items():
            for i in range(len(seq) - 1):
                pc[(seq[i], seq[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, a + b, n))

        def _apply(seq):
            res, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            return tuple(res)

        segs = {w: _apply(seq) for w, seq in segs.items()}
    return merges


@pytest.mark.slow
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_bpe_merge_rounds_matches_bruteforce(spark, docs, monkeypatch):
    """The in-plan merge chain (boundary-wrapped literal replace, sentinel
    argmax) equals a brute-force BPE reference on random corpora over a
    two-letter alphabet — the densest-overlap regime for greedy
    re-segmentation ('aaab' shapes), including rounds where the
    vocabulary exhausts (reference stops; the chain's sentinel rounds
    emit no row)."""
    import pyspark_retention_pipeline_spark.operators.tokenizer as tok

    words = [w for d in docs for w in d]
    rows = [(i, " ".join(d), "en", "s") for i, d in enumerate(docs)]
    frame = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(tok, "load_table", lambda *_, **__: frame)
    got = [
        (r["left_sym"], r["right_sym"], r["merged_sym"], r["pair_count"])
        for r in tok.bpe_merge_rounds(spark, "x")
        .orderBy("merge_round")
        .collect()
    ]
    assert got == _ref_bpe_merges(words, tok.BPE_ROUNDS)


def _pagerank_reference(baskets, iters, scale):
    """Dict-based integer power iteration over the symmetrized pair graph
    of random baskets — the exact arithmetic part_pagerank_rounds runs."""
    pairs: dict[tuple, int] = {}
    for parts in baskets:
        ps = sorted(set(parts))
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    edges: dict[tuple, int] = {}
    for (a, b), w in pairs.items():
        edges[(a, b)] = w
        edges[(b, a)] = w
    ow: dict[int, int] = {}
    for (s, _), w in edges.items():
        ow[s] = ow.get(s, 0) + w
    if not ow:  # no co-occurrence edge anywhere: empty graph
        return []
    pr = {p: scale for p in ow}
    rows = []
    for it in range(1, iters + 1):
        inc: dict[int, int] = {}
        for (s, d), w in edges.items():
            inc[d] = inc.get(d, 0) + (pr[s] * w) // ow[s]
        pr = {p: (15 * scale + 85 * inc.get(p, 0)) // 100 for p in ow}
        top = min(pr, key=lambda p: (-pr[p], p))
        rows.append((it, len(pr), sum(pr.values()), top, pr[top]))
    return rows


@pytest.mark.slow
@given(
    baskets=st.lists(
        st.lists(st.integers(min_value=1, max_value=8), min_size=2, max_size=5),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_part_pagerank_rounds_matches_reference_on_random_graphs(
    spark, baskets, monkeypatch
):
    """Fixed-point PageRank equals the dict reference bit-for-bit on random
    small-key basket corpora (dense co-occurrence: repeated pairs, hub
    nodes, disconnected components all arise)."""
    import pyspark_retention_pipeline_spark.operators.components as comp

    rows = [
        (oid, int(p)) for oid, parts in enumerate(baskets) for p in parts
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(comp, "load_table", lambda *_, **__: li)
    want = _pagerank_reference(baskets, comp.PR_ITERS, comp.PR_SCALE)
    if not want:
        # No co-occurrence edge anywhere: the empty graph still emits one
        # curve row per iteration (global aggregate over zero nodes) with
        # n_nodes = 0 and NULL mass/argmax — the same shape the SQL
        # oracle's COUNT/SUM/scalar-subquery produce, so parity holds.
        rows = comp.part_pagerank_rounds(spark, "x").collect()
        assert len(rows) == comp.PR_ITERS
        assert all(r.n_nodes == 0 and r.total_rank is None for r in rows)
        return
    got = sorted(
        comp.part_pagerank_rounds(spark, "x").collect(),
        key=lambda r: r.iteration,
    )
    assert [
        (r.iteration, r.n_nodes, r.total_rank, r.top_part, r.top_rank)
        for r in got
    ] == want


@pytest.mark.slow
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-8, max_value=8), min_size=3, max_size=3
        ),
        min_size=8,
        max_size=20,
    )
)
@SETTINGS
def test_kcenter_coreset_matches_reference_on_random_corpora(
    spark, vecs, monkeypatch
):
    """Greedy k-center equals the quantized-integer Python reference on
    random small-integer corpora — integer coordinates make round(d2·1e6)
    exact, and duplicates arise naturally (min_size 8 > KC_PICKS + 1, so
    the id-exclusion path is exercised whenever the corpus collapses to
    fewer distinct points than picks)."""
    import pyspark_retention_pipeline_spark.operators.ivf as ivf_mod

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(ivf_mod, "load_table", lambda *_, **__: emb)
    S = ivf_mod._LLOYD_SCALE
    n = len(vecs)

    def qd2(i, j):
        return int(
            round(sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[j])) * S)
        )

    chosen = [0]
    qd = {i: qd2(i, 0) for i in range(n)}
    want = []
    for k in range(2, ivf_mod.KC_PICKS + 2):
        best = max((qd[i], -i) for i in range(n) if i not in chosen)
        cid = -best[1]
        want.append((k, cid, best[0] / float(S)))
        chosen.append(cid)
        qd = {i: min(qd[i], qd2(i, cid)) for i in range(n)}
    got = sorted(
        ivf_mod.kcenter_coreset(spark, "x").collect(), key=lambda r: r.k
    )
    assert [(r.k, r.center_vec_id, r.radius) for r in got] == want
