"""Time-series analytics over the ``events`` table — daily growth, anomaly
detection, usage heatmaps, and top navigation paths (extension tier beyond
SURVEY.md §2.9's event operators; same scope as the reference's retention
analyses around ``pipeline/etl.py``, lifted to the event grain).

Scale discipline (same as :mod:`.engagement`): collapse the raw event grain
in the FIRST shuffle — to per-user, per-day, or per-session — and run every
window / rollup on the collapsed frame. Windows here are either partitioned
by a high-cardinality key or run over an Aggregate-bounded input (≤ #days
rows), never over the raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import pin
from ..registry import query
from ..tables import load_events, load_table
from .events import SESSION_GAP_US, session_events

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000
PATH_CAP = 10  # bound per-session path length


@query(
    "cumulative_new_users",
    oracle=f"""
    WITH fu AS (
      SELECT user_id, MIN(epoch_us(ts) // {DAY_US}) AS first_day
      FROM events GROUP BY user_id
    ), d AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM fu GROUP BY first_day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM d
    """,
    tags=("growth", "time-series"),
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users + the cumulative-unique-users curve (the "total users
    ever" chart). The naive form is a running COUNT(DISTINCT user_id) over an
    expanding day frame — quadratic state and unwindowable in both engines.
    Instead: cumulative distinct users through day D == users whose FIRST
    active day ≤ D, so one shuffle on user_id (min day), one tiny rollup to
    the day grain, and a running sum over that Aggregate-bounded frame
    (≤ #calendar-days rows — the safe unpartitioned-window kind)."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    first = e.groupBy("user_id").agg(F.min(day).alias("first_day"))
    daily = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "n_new", F.sum("n_new").over(run).cast("long").alias("cum_users")
    )


@query(
    "daily_anomaly_zscore",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(ts) // {DAY_US} AS day, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY day
    ), s AS (
      SELECT day, n_events,
             CAST(COUNT(*) OVER w AS BIGINT) AS n7,
             CAST(SUM(n_events) OVER w AS BIGINT) AS s1,
             CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS s2
      FROM d
      WINDOW w AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, n_events,
           ROUND(s1 / n7, 6) AS mean7,
           CASE WHEN s2 / n7 - (s1 / n7) * (s1 / n7) > 0
                THEN ROUND((n_events - s1 / n7)
                           / sqrt(s2 / n7 - (s1 / n7) * (s1 / n7)), 6)
           END AS zscore
    FROM s
    WHERE n7 >= 3
    """,
    tags=("anomaly", "time-series", "range-frame"),
)
def daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day traffic anomaly score: each day's event count vs the
    trailing 7-day window (excluding the day itself), as a population
    z-score. The events table collapses to the day grain in one shuffle;
    the RANGE frame (value-based bounds, so calendar gaps shrink the window
    instead of leaking across them) runs over that ≤ #days frame. Moment
    sums stay exact BIGINTs inside the frame; mean/variance derive from
    them with identical IEEE ops on both engines (two-pass variance is
    impossible in one frame pass — E[x²]−E[x]² over exact integer sums is
    the distributed-safe form). Days with fewer than 3 trailing observations
    are suppressed, and a zero-variance window yields NULL rather than ±inf."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    d = e.groupBy(day.alias("day")).agg(F.count("*").alias("n_events"))
    w = Window.orderBy("day").rangeBetween(-7, -1)
    s = d.select(
        "day",
        "n_events",
        F.count("*").over(w).cast("long").alias("n7"),
        F.sum("n_events").over(w).cast("long").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("long").alias("s2"),
    ).filter(F.col("n7") >= 3)
    mean = F.col("s1") / F.col("n7")
    var = F.col("s2") / F.col("n7") - mean * mean
    return s.select(
        "day",
        "n_events",
        F.round(mean, 6).alias("mean7"),
        F.when(
            var > 0, F.round((F.col("n_events") - mean) / F.sqrt(var), 6)
        ).alias("zscore"),
    )


@query(
    "weekday_hour_heatmap",
    oracle=f"""
    SELECT (epoch_us(ts) // {DAY_US} + 3) % 7 AS dow,
           (epoch_us(ts) % {DAY_US}) // {HOUR_US} AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY dow, hour
    """,
    tags=("heatmap", "time-series"),
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour usage heatmap (0=Mon … 6=Sun; epoch day 0 was a
    Thursday, hence the +3 shift) with per-cell event and distinct-user
    counts. Pure integer arithmetic on epoch-µs — no session-TZ timestamp
    functions, so the bucketing is identical on both engines and immune to
    the round-5 precision drift class. One hash aggregation to ≤ 168 cells;
    the exact per-cell distinct expands (cell, user) partials map-side —
    bounded by 168 × |users|, and the scale variant would swap in
    approx_count_distinct exactly like approx_distinct_products."""
    e = load_events(spark, sf_dir)
    dow = F.expr(f"(ts_us DIV {DAY_US} + 3) % 7")
    hour = F.expr(f"(ts_us % {DAY_US}) DIV {HOUR_US}")
    return e.groupBy(dow.alias("dow"), hour.alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "top_session_paths",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_type, ts_us, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), paths AS (
      SELECT user_id, session_id,
             array_to_string(
               (list(event_type ORDER BY ts_us, event_id))[1:{PATH_CAP}], ','
             ) AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
    tags=("sequence", "sessionization", "top-k"),
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths: the most common ordered event-type
    sequences within 30-min-gap sessions, paths capped at the first
    {PATH_CAP} events so per-row state stays bounded no matter how long a
    bot session runs. Sessions come from ``events.session_events`` (one
    shuffle on user_id feeds both windows and the per-session fold); the
    ordered-type array is an ``array_sort(collect_list(struct))`` exactly as
    in ``session_funnel``, sliced before joining. The path rollup hash-
    aggregates with map-side partials, and the global top-20 is a
    TakeOrderedAndProject (per-partition heaps → driver merge, no global
    sort); the (count DESC, path ASC) total order makes the cut
    deterministic on both engines.

    fan_out examined and REJECTED (round 16): a fixed-arm-order A/B
    suggested 0.77 → 0.58, but the order-alternating quiet-host
    adjudication reversed it (off best 0.62 vs fanned 0.85, fanned ahead
    1/8) — the per-event map is too cheap to amortize the exchange ahead
    of the user-key window shuffle."""
    sess = session_events(
        load_events(spark, sf_dir), "user_id", "event_id", "event_type", "ts_us"
    )
    ordered_types = F.transform(
        F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "event_type"))),
        lambda s: s["event_type"],
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(F.slice(ordered_types, 1, PATH_CAP), ",").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# OLS base day (epoch-day offset) — centers the regressor so the exact
# integer moment sums stay far from BIGINT range at any realistic scale.
OLS_BASE_DAY = 8000
FORECAST_DAYS = 7


@query(
    "revenue_trend_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               - {OLS_BASE_DAY} AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100
               AS BIGINT) AS dollars
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(dollars) AS BIGINT) AS sy,
             CAST(SUM(x * dollars) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(MAX(x) AS BIGINT) AS max_x
      FROM daily
    )
    SELECT n AS n_days,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                  + (n * sxy - sx * sy) / (n * sxx - sx * sx)
                    * (max_x + {FORECAST_DAYS}), 2) AS forecast_revenue,
           CAST(max_x + {OLS_BASE_DAY} + {FORECAST_DAYS} AS BIGINT) AS forecast_day
    FROM s
    """,
    tags=("time-series", "regression", "forecast"),
)
def revenue_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear revenue-trend forecast: closed-form OLS over the daily revenue
    series, extrapolated {FORECAST_DAYS} days past the last observed day —
    regression as a pure aggregation, the only form that distributes: the
    five moment sums (n, Σx, Σy, Σxy, Σx²) reduce map-side to ONE row, and
    slope/intercept/forecast are arithmetic on that row. No window, no
    iteration, no driver loop; y is exact whole-dollar daily revenue and x
    a centered epoch day, so every sum is exact and the derived doubles
    divide identical integers on both engines. (Dollars, not cents: the
    n·Σxy cross-term must clear BIGINT at bench scale — caught by the
    sf0.1 sweep; at truly extreme scale the moment sums escalate BIGINT →
    DECIMAL(38) / HUGEINT, same plan shape.)"""
    o = load_table(spark, sf_dir, "orders")
    x = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
        - OLS_BASE_DAY
    )
    dollars = F.expr(
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100 AS BIGINT)"
    ).alias("dollars")
    daily = o.groupBy(x.alias("x")).agg(dollars)
    s = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("dollars").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("dollars")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.max("x").cast("long").alias("max_x"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(
            intercept + slope * (F.col("max_x") + FORECAST_DAYS), 2
        ).alias("forecast_revenue"),
        (F.col("max_x") + OLS_BASE_DAY + FORECAST_DAYS)
        .cast("long")
        .alias("forecast_day"),
    )


# Fixed-point scale for per-(user, type) entropy terms (same rationale as
# text_quality.LP_SCALE: quantize before the order-dependent float sum).
ENT_SCALE = 1_000_000_000


@query(
    "user_type_entropy",
    oracle=f"""
    WITH ct AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ), wn AS (
      SELECT user_id, c,
             CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM ct
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(SUM(CAST(ROUND(-(c / n) * ln(c / n) * {ENT_SCALE})
                               AS BIGINT)) AS BIGINT)
                 / {ENT_SCALE}.0, 6) AS entropy
    FROM wn GROUP BY user_id
    """,
    tags=("engagement", "entropy"),
)
def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy — Shannon entropy of the user's
    event-type distribution (0 = single-behavior user, ln(#types) = uniform
    explorer), the diversity feature churn models take alongside RFM. One
    shuffle to the (user, type) grain (≤ #types rows per user), per-user
    totals via a window partitioned on the SAME key (no second exchange),
    and each −p·ln p term quantizes to an exact BIGINT before the per-user
    sum, so the few-term float reduction can't reorder across engines."""
    e = load_events(spark, sf_dir)
    ct = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id")
    wn = ct.select(
        "user_id", "c", F.sum("c").over(w).cast("long").alias("n")
    )
    p = F.col("c") / F.col("n")
    term = F.round(-p * F.log(p) * ENT_SCALE).cast("long")
    return wn.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").alias("n_types"),
        F.round(F.sum(term).cast("long") / F.lit(float(ENT_SCALE)), 6).alias(
            "entropy"
        ),
    )


# Month-index center for the grouped OLS regressor (1992-01 ≈ 23904).
OLS_BASE_MONTH = 23900


@query(
    "nation_revenue_trend",
    oracle=f"""
    WITH nm AS (
      SELECT n.n_name AS nation,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1)
               - {OLS_BASE_MONTH} AS x,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // 10000
               AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), s AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM nm GROUP BY nation
    )
    SELECT nation, n AS n_months,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100, 6)
             AS slope_per_month,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM s
    WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    tags=("time-series", "regression", "grouped"),
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend — :func:`revenue_trend_forecast`'s
    closed-form OLS GROUPED: because regression-as-aggregation needs only
    five moment sums per group, fitting 25 nations (or 25 million user
    segments) costs exactly one grouped aggregation after the dim joins —
    the shape that replaces a per-group `applyInPandas` model loop for
    anything linear. Slope is whole-dollars/month; r² derives from the
    same exact integer sums cast to double only for the final two
    divisions. Degenerate groups (constant x or y, < 3 months) are
    filtered rather than emitting NaN."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    x = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1 - OLS_BASE_MONTH
    ).cast("long")
    nm = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 10000"
                " AS BIGINT)"
            ).alias("y")
        )
    )
    s = nm.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.filter((F.col("n") >= 3) & (denx > 0) & (deny > 0)).select(
        "nation",
        F.col("n").alias("n_months"),
        F.round(num / denx * 100, 6).alias("slope_per_month"),
        F.round(
            (num.cast("double") * num.cast("double"))
            / (denx.cast("double") * deny.cast("double")),
            6,
        ).alias("r2"),
    )


# Fixed-point scale for TWAP value terms (quantize before the weighted sum).
TWAP_SCALE = 10_000


@query(
    "user_value_twap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_us
      FROM events
    ), terms AS (
      SELECT user_id,
             (next_us - ts_us) // 1000000 AS gap_s,
             CAST(ROUND(value * {TWAP_SCALE}) AS BIGINT) AS v
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(gap_s) AS BIGINT) AS span_s,
           ROUND(SUM(v * gap_s) / CAST(SUM(gap_s) AS DOUBLE) / {TWAP_SCALE}, 6)
             AS twap
    FROM terms
    GROUP BY user_id
    HAVING SUM(gap_s) > 0
    """,
    tags=("time-series", "twap", "window-lead"),
)
def user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user — each observation holds
    until the next one, so its weight is the gap it covers (the TWAP/
    monitoring-average semantics a plain AVG gets wrong whenever sampling
    is irregular). LEAD over the user-partitioned event order produces the
    holding gaps in the same single shuffle the sessionize family uses;
    the weighted sum quantizes value to 1e-4 BIGINTs FIRST (value·gap
    products stay ≤ ~1e15 per term), so the per-user reduction is exact
    integer math and engine-order-proof. Users whose events all share one
    timestamp (zero span) are excluded rather than dividing by zero."""
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "user_id", "value", "ts_us", F.lead("ts_us").over(w).alias("next_us")
    ).filter(F.col("next_us").isNotNull())
    terms = seq.select(
        "user_id",
        F.expr("(next_us - ts_us) DIV 1000000").alias("gap_s"),
        F.round(F.col("value") * TWAP_SCALE).cast("long").alias("v"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.sum("gap_s").cast("long").alias("span_s"),
            F.sum(F.col("v") * F.col("gap_s")).cast("long").alias("vw"),
        )
        .filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "span_s",
            F.round(
                F.col("vw") / F.col("span_s").cast("double") / TWAP_SCALE, 6
            ).alias("twap"),
        )
    )


@query(
    "interarrival_acf",
    oracle="""
    WITH g0 AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), g AS (
      SELECT user_id, gap,
             gap * LAG(gap) OVER w2 AS prod,
             ROW_NUMBER() OVER w2 AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM g0 WHERE gap IS NOT NULL
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS s1,
             CAST(SUM(gap * gap) AS BIGINT) AS s2,
             CAST(SUM(prod) AS BIGINT) AS sc,
             CAST(MAX(CASE WHEN rn = 1 THEN gap END) AS BIGINT) AS g1,
             CAST(MAX(CASE WHEN rn = cnt THEN gap END) AS BIGINT) AS gn
      FROM g GROUP BY user_id
    ), d AS (
      SELECT user_id, n_gaps, s1, s2, sc, g1, gn,
             s1 / CAST(n_gaps AS DOUBLE) AS mean_gap
      FROM m WHERE n_gaps >= 3
    ), nd AS (
      SELECT user_id, n_gaps, mean_gap,
             sc - mean_gap * (2 * s1 - g1 - gn)
                + (n_gaps - 1) * mean_gap * mean_gap AS num,
             s2 - 2 * mean_gap * s1 + n_gaps * mean_gap * mean_gap AS den
      FROM d
    )
    SELECT user_id, n_gaps,
           ROUND(mean_gap, 6) AS mean_gap_s,
           ROUND(num / den, 6) AS acf1
    FROM nd WHERE den <> 0
    """,
    tags=("time-series", "autocorrelation", "burstiness"),
)
def interarrival_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of inter-event gaps — the burstiness
    signal (positive acf1 = sessions-and-silence clumping, ~0 = Poisson-like
    arrivals) behind bot detection and engagement-pattern segmentation.

    All statistics reduce to EXACT integer moment sums per user — Σg, Σg²,
    Σgᵢgᵢ₊₁ over whole-second gaps, plus the first/last gap for the
    truncated-mean correction — so the only floating-point work happens once
    per user on identical integers with the identical expression text on
    both engines (the ``selectExpr`` strings below are substrings of the
    oracle), making the doubles bit-identical before rounding. Gaps are
    non-negative (sorted within user), so DuckDB's floor ``//`` and Spark's
    truncating ``DIV`` agree. Overflow headroom: Σg² per user stays < 2⁵³
    up to ~10⁶ events × day-long gaps; beyond that switch the moment sums to
    DECIMAL(38) (same escalation note as the trend-forecast family). Plan
    shape: one shuffle on ``user_id``; the two stacked windows and the final
    aggregation all share that partitioning, so Catalyst inserts a single
    Exchange.
    """
    return interarrival_acf_frame(load_events(spark, sf_dir))


def interarrival_acf_frame(e: DataFrame) -> DataFrame:
    """The distributable core of :func:`interarrival_acf` over any events
    frame with (user_id, ts_us, event_id) — factored so the zero-variance
    exclusion and the moment pipeline are testable on synthetic users."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g0 = e.withColumn("_prev", F.lag("ts_us").over(w)).where(
        F.col("_prev").isNotNull()
    ).select(
        "user_id",
        "ts_us",
        "event_id",
        F.expr("(ts_us - _prev) DIV 1000000").alias("gap"),
    )
    g = g0.select(
        "user_id",
        "gap",
        (F.col("gap") * F.lag("gap").over(w)).alias("prod"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("cnt"),
    )
    m = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("s2"),
        F.sum("prod").cast("long").alias("sc"),
        F.max(F.when(F.col("rn") == 1, F.col("gap"))).cast("long").alias("g1"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("gap"))).cast("long").alias("gn"),
    )
    d = m.where("n_gaps >= 3").selectExpr(
        "user_id", "n_gaps", "s1", "s2", "sc", "g1", "gn",
        "s1 / CAST(n_gaps AS DOUBLE) AS mean_gap",
    )
    nd = d.selectExpr(
        "user_id",
        "n_gaps",
        "mean_gap",
        "sc - mean_gap * (2 * s1 - g1 - gn) "
        "+ (n_gaps - 1) * mean_gap * mean_gap AS num",
        "s2 - 2 * mean_gap * s1 + n_gaps * mean_gap * mean_gap AS den",
    )
    return nd.where("den <> 0").selectExpr(
        "user_id",
        "n_gaps",
        "ROUND(mean_gap, 6) AS mean_gap_s",
        "ROUND(num / den, 6) AS acf1",
    )


@query(
    "theilsen_revenue_trend",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               - {OLS_BASE_DAY} AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100
               AS BIGINT) AS dollars
      FROM orders GROUP BY 1
    ), slopes AS (
      SELECT (b.dollars - a.dollars) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.x < b.x
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MEDIAN(slope), 6) AS ts_slope_per_day
    FROM slopes
    """,
    tags=("time-series", "regression", "robust-stats"),
)
def theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of the daily revenue series — the median of all
    pairwise day-to-day slopes, the estimator that shrugs off the outlier
    days (flash sales, outages) that drag :func:`revenue_trend_forecast`'s
    OLS line around. Breakdown point ~29% vs OLS's zero.

    Why the quadratic pair join is SAFE here, when all-pairs joins are the
    canonical scale hazard: the pairs form over the DAY-grain aggregate,
    whose size is bounded by the calendar — it does not grow with data
    volume. At 100 TB the daily frame is the same few-thousand rows as at
    sf0.1, so the pair count (~calendar²/2) is scale-INVARIANT, and Spark's
    AQE broadcasts one side of the self-join. Every slope divides exact
    integers, so the slope multiset — and therefore the interpolated median
    (both engines average the two middle values of identical doubles) — is
    engine-identical.

    The median itself is EXACT but never computed by Spark's ``median``
    aggregate: that implementation buffers a value→count map of every
    distinct double and dominated the sweep row (measured 11.3 s over the
    2.9 M slopes vs DuckDB's 0.17 s quickselect — the round-14 sweep's
    engine/oracle split made the gap visible). Round 14 built the
    approx-bracket + exact-rank-pick recipe inline here; round 15
    generalized it into :func:`..quantiles.exact_quantile_frame` (the
    round-14 verdict's #1 item) and this query now rides the shared
    helper. Values are bit-identical: the helper reproduces Spark's
    ``Percentile`` interpolation, whose even-n midpoint
    ``0.5·v_lo + 0.5·v_hi`` rounds the same 53-bit mantissa as the old
    inline ``(v_lo + v_hi)/2`` (halving is exponent arithmetic). The
    helper also consumes the sketch aggregate in exactly ONE plan branch
    (below-bucket mass rides the same nulls-first window as the bracket
    slice), so the result no longer depends on exchange-reuse
    canonicalizing two sketch branches — the round-14 ADVICE item 1
    hazard, retired structurally. Measured 11.3 s → ~1.5 s; at 10¹²
    slopes this is the distributed exact-median algorithm, full stop."""
    from .quantiles import exact_quantile_frame

    o = load_table(spark, sf_dir, "orders")
    x = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
        - OLS_BASE_DAY
    )
    dollars = F.expr(
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 100 AS BIGINT)"
    ).alias("dollars")
    daily = pin(o.groupBy(x.alias("x")).agg(dollars))
    # The pair join is a BroadcastNestedLoopJoin whose STREAM side is the
    # day-grain frame — one ~calendar-sized partition, so pair generation,
    # the slope projection, and the checkpoint write of the ~n²/2 slope
    # rows all ran on ONE task at any scale (round-15 stage attribution:
    # 1.9 s of the 3.7 s sweep wall in that single task). Round-robining
    # the stream side to the session parallelism spreads the quadratic
    # work; the broadcast side is unchanged and the pair SET is identical.
    # Measured at sf0.1/32 (interleaved A/B, best-of-3, two alternations):
    # 2.23/2.10 s → 1.18/1.37 s, collected output bit-identical.
    a = daily.select(F.col("x").alias("xa"), F.col("dollars").alias("da")).repartition(
        spark.sparkContext.defaultParallelism
    )
    b = daily.select(F.col("x").alias("xb"), F.col("dollars").alias("db"))
    slopes = pin(
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            ((F.col("db") - F.col("da")) / (F.col("xb") - F.col("xa")).cast("double"))
            .alias("slope")
        )
    )  # sketch pass + slice pass share one mat.
    med = exact_quantile_frame(slopes, "slope", [0.5], ["med"], n_name="n_pairs")
    # n_days joins in-plan (1-row × 1-row) — a driver-side daily.count() at
    # construction time would trigger a job during plan-only audits.
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    return (
        med.crossJoin(F.broadcast(n_days)).select(
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("med"), 6).alias("ts_slope_per_day"),
        )
    )


@query(
    "locf_fill",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), rng AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), spine AS (
      SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM rng
    ), j AS (
      SELECT s.user_id, s.day, d.cents
      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    )
    SELECT user_id, day,
           ROUND(last_value(cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2)
             AS value_filled,
           cents IS NOT NULL AS is_observed
    FROM j
    """,
    tags=("time-series", "gap-fill", "locf"),
)
def locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user daily value series with last-observation-carried-
    forward — the TimescaleDB ``time_bucket_gapfill + locf`` primitive:
    every user gets a dense day spine over their active range, missing days
    inherit the last observed value, and ``is_observed`` separates real
    points from carried ones (:func:`~.events.event_day_spine_fill` is the
    zero-fill sibling on the global calendar).

    Scale shape: the raw grain collapses to (user, day) in one shuffle; the
    per-user spine explodes map-side from a ``sequence(min_day, max_day)``
    bounded by the calendar, and the LOCF window partitions on ``user_id``
    (per-group state, no global sort). The output is inherently
    |users| × |active days| — that IS gap-fill's contract; daily sums carry
    exact cents so the filled doubles match bit-for-bit. The twice-consumed
    daily aggregate is pinned (range derivation + probe join)."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    daily = pin(
        e.groupBy("user_id", day.alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    rng = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = rng.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "user_id",
        "day",
        F.round(F.last("cents", ignorenulls=True).over(w) / 100.0, 2).alias(
            "value_filled"
        ),
        F.col("cents").isNotNull().alias("is_observed"),
    )
