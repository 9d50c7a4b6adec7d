"""Engagement / growth-accounting operators over the ``events`` table —
the analytics a retention team runs daily on top of the cohort tier
(reference scope: the retention analyses around ``pipeline/etl.py`` and the
notebook; these extend SURVEY.md §2.9's event tier with the standard
growth-accounting suite: new/retained/resurrected, DAU/MAU stickiness,
power-user curve, session-duration distribution, signup→purchase latency).

All of these share one scale discipline: collapse the raw event grain to a
small per-user or per-(user, day) grain in the FIRST shuffle, then do every
subsequent step on the collapsed frame. At 100 TB the events table is the
only unbounded input; (user × active-day) is bounded by calendar × user
count, and everything downstream of it here is at most 28× that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import md5_u32
from ..pins import pin
from ..registry import query
from ..tables import load_events
from .events import SESSION_GAP_US, session_events, sessionize

HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000
WEEK_US = 7 * DAY_US
FIVE_MIN_US = 300_000_000


@query(
    "growth_accounting",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS week FROM events
    ), seq AS (
      SELECT user_id, week,
             LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
      FROM uw
    )
    SELECT week,
           CAST(SUM(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN prev_week IS NOT NULL AND prev_week < week - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected
    FROM seq
    GROUP BY week
    """,
    tags=("growth-accounting", "retention"),
)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active (user, week) is exactly one of
    **new** (first-ever week), **retained** (also active the prior week), or
    **resurrected** (active before, but not the prior week).

    ONE shuffle on user_id produces a calendar-bounded sorted week set per
    user (`sort_array(collect_set(...))` — map-side partials dedup weeks
    before anything moves); the prior week is then an O(1) array lookup on
    the exploded positions, so no second window shuffle over the event or
    even the (user, week) grain is needed. The oracle's LAG-over-distinct
    form shuffles the (user, week) grain twice."""
    e = load_events(spark, sf_dir)
    week = F.expr(f"ts_us DIV {WEEK_US}")
    per_user = e.groupBy("user_id").agg(
        F.sort_array(F.collect_set(week)).alias("weeks")
    )
    seq = per_user.select(F.posexplode("weeks").alias("pos", "week"), "weeks")
    # element_at is 1-based: element_at(weeks, pos) is the element BEFORE
    # the current one (at 0-based index pos - 1).
    prev = F.when(F.col("pos") > 0, F.element_at("weeks", F.col("pos")))
    seq = seq.select("week", prev.alias("prev_week"))
    return seq.groupBy("week").agg(
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("prev_week") == F.col("week") - 1, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull()
                & (F.col("prev_week") < F.col("week") - 1),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )


@query(
    "stickiness_ratio",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ), cover AS (
      SELECT DISTINCT user_id, day + g.k AS day
      FROM ud CROSS JOIN generate_series(0, 27) g(k)
    ), mau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS mau28 FROM cover GROUP BY day
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT dau.day AS day, dau.dau AS dau, mau.mau28 AS mau28,
           ROUND(dau.dau / mau.mau28, 6) AS stickiness
    FROM dau JOIN mau USING (day)
    """,
    tags=("stickiness", "dau-mau"),
)
def stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stickiness = DAU / trailing-28-day MAU, the canonical
    engagement-quality ratio.

    The trailing-window distinct is the interesting part at scale: a naive
    form is a 28-day self-join or a windowed COUNT(DISTINCT) (which Spark
    refuses over a frame anyway). Instead each distinct (user, day) row is
    exploded to the ≤28 window-END days it supports (`sequence(day,
    day+27)`), and a second distinct collapses multi-active users within a
    window — MAU28(D) is then a plain COUNT per day. Cost is bounded by
    28 × |user×day|, independent of raw event volume, and every step is a
    hash shuffle — no sort, no window over an unbounded frame.

    DAU rides along for free: instead of re-scanning for a separate DAU
    aggregate and joining (two scans, five exchanges), the window-offset
    dedup keeps ``min(k)`` — zero iff the user was active ON the window-end
    day itself — so one scan and three shuffles produce both counts, and
    days with no on-day actives (dau = 0) are filtered exactly where the
    join form would have dropped them."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    ud = e.select("user_id", day.alias("day")).distinct()
    cover = ud.select(
        "user_id",
        F.col("day").alias("src_day"),
        F.explode(F.sequence(F.col("day"), F.col("day") + 27)).alias("day"),
    ).select(
        "user_id", "day", (F.col("day") - F.col("src_day")).alias("k")
    )
    per_user_day = cover.groupBy("user_id", "day").agg(F.min("k").alias("min_k"))
    out = per_user_day.groupBy("day").agg(
        F.sum(F.when(F.col("min_k") == 0, 1).otherwise(0)).cast("long").alias("dau"),
        F.count("*").alias("mau28"),
    )
    return out.filter(F.col("dau") > 0).select(
        "day",
        "dau",
        "mau28",
        F.round(F.col("dau") / F.col("mau28"), 6).alias("stickiness"),
    )


@query(
    "power_user_curve",
    oracle=f"""
    WITH pc AS (
      SELECT user_id,
             COUNT(DISTINCT epoch_us(ts) // {DAY_US}) AS n_active_days
      FROM events
      GROUP BY user_id
    )
    SELECT n_active_days, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM pc
    GROUP BY n_active_days
    """,
    tags=("power-user", "histogram"),
)
def power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve (the "L28-style" histogram): how many users were
    active on exactly N distinct days. One shuffle on user_id with an exact
    per-user distinct (per-group state bounded by the calendar), then a
    second tiny aggregation over ≤ #days distinct values."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    per_user = e.groupBy("user_id").agg(
        F.count_distinct(day).alias("n_active_days")
    )
    return per_user.groupBy("n_active_days").agg(F.count("*").alias("n_users"))


@query(
    "session_duration_histogram",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sessions AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), per_session AS (
      SELECT user_id, session_id,
             COUNT(*) AS n_events,
             MAX(ts_us) - MIN(ts_us) AS duration_us
      FROM sessions
      GROUP BY user_id, session_id
    )
    SELECT duration_us // {FIVE_MIN_US} AS dur_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(n_events), 6) AS avg_events
    FROM per_session
    GROUP BY dur_bucket
    """,
    tags=("sessionization", "histogram"),
)
def session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution in 5-minute buckets, with the mean
    event count per bucket — the shape chart behind every "are sessions
    getting longer?" question. Reuses the sessionize lag + running-sum plan
    (one shuffle on user_id serves both windows and the per-session rollup);
    the bucket histogram then aggregates the already-collapsed session grain."""
    per_session = sessionize(spark, sf_dir)
    bucket = F.expr(f"duration_us DIV {FIVE_MIN_US}")
    return per_session.groupBy(bucket.alias("dur_bucket")).agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


@query(
    "time_to_conversion",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS signup_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS purchase_us
      FROM events
      GROUP BY user_id
    )
    SELECT (purchase_us - signup_us) // {HOUR_US} AS hours_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user
    WHERE signup_us IS NOT NULL AND purchase_us IS NOT NULL
      AND purchase_us > signup_us
    GROUP BY hours_bucket
    """,
    tags=("conversion", "funnel"),
)
def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency histogram (hour buckets): per user, the
    gap between first signup and first purchase, counted only when the
    purchase follows the signup. ONE conditional aggregation on user_id —
    no funnel self-join — then an hour-bucket rollup of the tiny per-user
    frame. ``DIV`` vs DuckDB ``//`` agree because the filtered gap is
    strictly positive."""
    e = load_events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias(
            "signup_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias(
            "purchase_us"
        ),
    )
    converted = per_user.filter(
        F.col("signup_us").isNotNull()
        & F.col("purchase_us").isNotNull()
        & (F.col("purchase_us") > F.col("signup_us"))
    )
    bucket = F.expr(f"(purchase_us - signup_us) DIV {HOUR_US}")
    return converted.groupBy(bucket.alias("hours_bucket")).agg(
        F.count("*").alias("n_users")
    )


@query(
    "first_touch_attribution",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS rn
      FROM events
    ), conv AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    )
    SELECT r.event_type AS first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c.converted) AS BIGINT) AS n_converted,
           ROUND(SUM(c.converted) / COUNT(*), 6) AS conversion_rate
    FROM ranked r JOIN conv c USING (user_id)
    WHERE r.rn = 1
    GROUP BY 1
    """,
    tags=("attribution", "conversion"),
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: users grouped by their first-ever event type,
    with the share that ever purchased. ONE shuffle on user_id computes both
    the first touch (MIN over a (ts, event_id, type) struct — lexicographic
    struct ordering makes argmin a plain MIN, no window, no self-join) and
    the conversion flag; the attribution rollup then aggregates ≤ |users|
    rows into ≤ |event types|. The oracle's row_number ⋈ conditional-agg
    form shuffles the event grain twice — the struct-min trick has no ANSI
    twin."""
    e = load_events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.struct("ts_us", "event_id", "event_type")).alias("first"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return per_user.groupBy(
        F.col("first.event_type").alias("first_touch")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*"), 6).alias("conversion_rate"),
    )


@query(
    "bounce_rate_daily",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sessions AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts_us) AS start_us
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT start_us // {DAY_US} AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / COUNT(*), 6)
             AS bounce_rate
    FROM per_session
    GROUP BY day
    """,
    tags=("sessionization", "bounce-rate"),
)
def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — the share of single-event sessions per day (keyed
    by session START day), the standard engagement-quality headline next to
    stickiness. Reuses the sessionize grain (one user_id shuffle serves the
    windows and the session rollup); the daily rollup then aggregates the
    already-collapsed session frame to ≤ #days rows."""
    per_session = sessionize(spark, sf_dir)
    return per_session.groupBy(
        F.expr(f"start_us DIV {DAY_US}").alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)) / F.count("*"), 6
        ).alias("bounce_rate"),
    )


@query(
    "audience_overlap",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ), totals AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1
    )
    SELECT t1, t2, n_both,
           ROUND(n_both / (ta.n + tb.n - n_both), 6) AS jaccard
    FROM pairs JOIN totals ta ON pairs.t1 = ta.event_type
               JOIN totals tb ON pairs.t2 = tb.event_type
    """,
    tags=("engagement", "audience", "jaccard"),
)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the user sets behind
    each pair of event types (do clickers also purchase?) — the audience
    math behind segment targeting. Same in-row pair trick as
    part_cooccurrence: ONE shuffle to the per-user sorted type set
    (bounded by #types), pairs generate inside the row, and the ≤|types|²
    pair frame meets broadcast per-type totals — the oracle's user-keyed
    self-join re-shuffles the (user, type) grain twice and never appears
    in the Spark plan."""
    e = load_events(spark, sf_dir)
    # Pinned: the distinct (user, type) frame feeds the pair branch and the
    # two per-type total branches; unpinned, each re-ran the events scan +
    # the distinct shuffle (3 scans in the plan).
    ut = pin(e.select("user_id", "event_type").distinct())
    per_user = ut.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs_col = F.flatten(
        F.transform(
            F.col("types"),
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                lambda y: F.struct(x.alias("t1"), y.alias("t2")),
            ),
        )
    )
    pairs = (
        per_user.select(F.explode(pairs_col).alias("pr"))
        .select(F.col("pr.t1").alias("t1"), F.col("pr.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n_both"))
    )
    totals = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    ta = totals.select(F.col("event_type").alias("t1"), F.col("n").alias("na"))
    tb = totals.select(F.col("event_type").alias("t2"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), "t1")
        .join(F.broadcast(tb), "t2")
        .select(
            "t1",
            "t2",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("na") + F.col("nb") - F.col("n_both")), 6
            ).alias("jaccard"),
        )
    )


@query(
    "retention_by_first_touch",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MIN({{'t': epoch_us(ts), 'e': event_id, 'ty': event_type}}) AS first_row,
             MIN(epoch_us(ts) // {DAY_US}) AS first_day,
             list(DISTINCT epoch_us(ts) // {DAY_US}) AS days
      FROM events GROUP BY user_id
    ), flags AS (
      SELECT (first_row).ty AS first_touch,
             CASE WHEN list_contains(days, first_day + 7) THEN 1 ELSE 0 END AS d7
      FROM per_user
    )
    SELECT first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(d7) AS BIGINT) AS d7_retained,
           ROUND(SUM(d7) / COUNT(*), 6) AS d7_rate
    FROM flags GROUP BY first_touch
    """,
    tags=("retention", "attribution", "cohort-quality"),
)
def retention_by_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort quality by acquisition channel: D7 retention segmented by the
    user's first-ever event type — the composition of
    ``first_touch_attribution`` (struct-MIN argmin) and ``dn_retention``
    (calendar-bounded active-day set with ``array_contains``), answering
    "which entry point brings users who stick". Still ONE shuffle on
    user_id: first touch, first day, and the day set all come from the
    same aggregation; the channel rollup then reduces ≤ |users| rows to
    ≤ |event types|. The oracle's ROW() min is DuckDB's spelling of the
    same lexicographic struct-MIN trick."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    per_user = e.groupBy("user_id").agg(
        F.min(F.struct("ts_us", "event_id", "event_type")).alias("first"),
        F.min(day).alias("first_day"),
        F.collect_set(day).alias("days"),
    )
    d7 = F.when(
        F.array_contains("days", F.col("first_day") + 7), 1
    ).otherwise(0)
    flags = per_user.select(
        F.col("first.event_type").alias("first_touch"), d7.alias("d7")
    )
    return flags.groupBy("first_touch").agg(
        F.count("*").alias("n_users"),
        F.sum("d7").cast("long").alias("d7_retained"),
        F.round(F.sum("d7") / F.count("*"), 6).alias("d7_rate"),
    )

# Kaplan-Meier over SESSION duration: a session is right-censored when its
# last event is within one session gap of the observation horizon (it may
# still be running); ln-factors quantize at KM_SCALE before the cumulative
# product's log-sum.
MIN_US = 60_000_000
KM_SCALE = 1_000_000_000


@query(
    "km_session_survival",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ), s AS (
      SELECT user_id, session_id,
             (MAX(ts_us) - MIN(ts_us)) // {MIN_US} AS t,
             MAX(ts_us) AS end_us
      FROM sess GROUP BY user_id, session_id
    ), horizon AS (
      SELECT MAX(end_us) AS gmax FROM s
    ), marked AS (
      SELECT s.t,
             CASE WHEN s.end_us <= h.gmax - {SESSION_GAP_US} THEN 1 ELSE 0 END
               AS ended
      FROM s CROSS JOIN horizon h
    ), grain AS (
      SELECT t, CAST(SUM(ended) AS BIGINT) AS d,
             CAST(SUM(1 - ended) AS BIGINT) AS c
      FROM marked GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST(SUM(d + c) OVER () AS BIGINT)
               - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS n_at_risk
      FROM grain
    ), fac AS (
      SELECT t, d, n_at_risk,
             CASE WHEN d > 0 AND d < n_at_risk
                  THEN CAST(ROUND(ln((n_at_risk - d) / CAST(n_at_risk AS DOUBLE))
                                  * {KM_SCALE}) AS BIGINT)
                  ELSE 0 END AS lq,
             CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS hit_zero
      FROM risk
    )
    SELECT t, n_at_risk, d AS n_ended,
           CASE WHEN CAST(SUM(hit_zero) OVER w AS BIGINT) > 0 THEN 0.0
                ELSE ROUND(exp(CAST(SUM(lq) OVER w AS BIGINT) / {KM_SCALE}.0), 6)
           END AS survival
    FROM fac
    WHERE d > 0
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("survival", "kaplan-meier", "sessionization"),
)
def km_session_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session DURATION (whole minutes), with
    right-censoring: a session whose last event lies within one 30-min gap
    of the observation horizon may still be running, so it leaves the risk
    set without counting as ended — the correction naive duration
    histograms (:func:`session_duration_histogram`) can't make. S(t) =
    Π over ended-session durations ≤ t of (1 − dᵢ/nᵢ), the classic
    product-limit estimator.

    Distribution discipline: the event grain collapses through the standard
    ``events.session_events`` (one user_id shuffle, per-user windows) to one row per
    session, then EVERYTHING runs on the duration-grain frame (≤ #distinct
    durations rows, Aggregate-bounded): the risk set is total-minus-prior-
    removals, and the cumulative product goes through the log-sum with each
    ln(1 − d/n) factor quantized to an exact BIGINT (the LP_SCALE rule) so
    the running reduction is order-independent and engine-identical; a
    hit-zero flag handles the d = n boundary (survival exactly 0) without
    ln(0). Censored sessions leave the risk set silently — only ended
    durations emit curve rows."""
    sess = session_events(load_events(spark, sf_dir), "user_id", "ts_us", "event_id")
    # s feeds both the horizon aggregate and the marked projection — pin
    # ONE materialization or the sessionize pipeline (the expensive stage)
    # executes twice.
    s = pin(
        sess.groupBy("user_id", "session_id").agg(
            F.expr(f"(MAX(ts_us) - MIN(ts_us)) DIV {MIN_US}").alias("t"),
            F.max("ts_us").alias("end_us"),
        )
    )
    horizon = s.agg(F.max("end_us").alias("gmax"))
    marked = s.crossJoin(F.broadcast(horizon)).select(
        "t",
        F.when(F.col("end_us") <= F.col("gmax") - SESSION_GAP_US, 1)
        .otherwise(0)
        .alias("ended"),
    )
    grain = marked.groupBy("t").agg(
        F.sum("ended").cast("long").alias("d"),
        F.sum(1 - F.col("ended")).cast("long").alias("c"),
    )
    w_all = Window.partitionBy()
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grain.select(
        "t",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all).cast("long")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0)
            ).cast("long")
        ).alias("n_at_risk"),
    )
    lq = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("d")) / F.col("n_at_risk").cast("double")
            )
            * KM_SCALE
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    hit_zero = F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0)
    fac = risk.select(
        "t", "d", "n_at_risk", lq.alias("lq"), hit_zero.alias("hit_zero")
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        fac.select(
            "t",
            "n_at_risk",
            F.col("d").alias("n_ended"),
            F.when(F.sum("hit_zero").over(w_cum).cast("long") > 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.exp(F.sum("lq").over(w_cum).cast("long") / float(KM_SCALE)), 6
                )
            )
            .alias("survival"),
            F.col("d").alias("_d"),
        )
        .where(F.col("_d") > 0)
        .drop("_d")
    )


@query(
    "ab_conversion_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM assign
    ), rates AS (
      SELECT n_a, n_b, c_a, c_b,
             c_a / CAST(n_a AS DOUBLE) AS p_a,
             c_b / CAST(n_b AS DOUBLE) AS p_b,
             (c_a + c_b) / CAST(n_a + n_b AS DOUBLE) AS p_pool
      FROM g
    )
    SELECT n_a, n_b, c_a, c_b,
           ROUND(p_a, 6) AS rate_a,
           ROUND(p_b, 6) AS rate_b,
           ROUND((p_a - p_b)
                 / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 6)
             AS z_stat
    FROM rates
    WHERE n_a > 0 AND n_b > 0 AND p_pool > 0 AND p_pool < 1
    """,
    tags=("experimentation", "ab-test", "ztest"),
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministically-assigned experiment
    arms — the experimentation-platform core: users hash into arm A or B by
    the md5 of their id (stable across sessions and re-runs, the property a
    ``rand()`` assignment lacks and the reason real platforms bucket by
    hash),  On this corpus the arms are two
    halves of ONE population, so |z| should be small — the standard A/A
    sanity test an experimentation pipeline runs before any real
    experiment (pinned by ``tests/test_engagement.py``).

    One shuffle to the per-user grain (arm + converted flag in the same
    aggregation), then a single 1-row reduction; rates and the z statistic
    derive from four exact BIGINT counts with identical IEEE expressions on
    both engines. Degenerate pools (no users in an arm, 0% or 100% overall
    conversion) are excluded by exact conditions rather than dividing by
    zero."""
    e = load_events(spark, sf_dir)
    arm = F.when(md5_u32(F.col("user_id").cast("string")) % 2 == 0, "A").otherwise("B")
    assign = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 250), 1
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", arm)
    g = assign.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    rates = g.selectExpr(
        "n_a", "n_b", "c_a", "c_b",
        "c_a / CAST(n_a AS DOUBLE) AS p_a",
        "c_b / CAST(n_b AS DOUBLE) AS p_b",
        "(c_a + c_b) / CAST(n_a + n_b AS DOUBLE) AS p_pool",
    )
    return rates.where(
        "n_a > 0 AND n_b > 0 AND p_pool > 0 AND p_pool < 1"
    ).selectExpr(
        "n_a", "n_b", "c_a", "c_b",
        "ROUND(p_a, 6) AS rate_a",
        "ROUND(p_b, 6) AS rate_b",
        "ROUND((p_a - p_b) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 6)"
        " AS z_stat",
    )


# Time-decay attribution: touches within this window before a purchase get
# exponentially-decayed credit on a 24h e-folding (tau) scale; weights and
# credit shares quantize before any cross-row sum.
ATTR_WINDOW_US = 3 * 86_400_000_000
ATTR_TAU_H = 24.0
ATTR_W_SCALE = 1_000_000_000
ATTR_V_SCALE = 10_000


@query(
    "time_decay_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS conv_id, epoch_us(ts) AS pts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, epoch_us(ts) AS tts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT p.conv_id, p.cents, t.event_type,
             CAST(ROUND(exp(-((p.pts - t.tts) / 3600000000.0) / {ATTR_TAU_H})
                        * {ATTR_W_SCALE}) AS BIGINT) AS wq
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.tts < p.pts AND t.tts >= p.pts - {ATTR_WINDOW_US}
    ), sh AS (
      SELECT conv_id, cents, event_type,
             wq / CAST(SUM(wq) OVER (PARTITION BY conv_id) AS DOUBLE) AS share
      FROM j
    ), q AS (
      SELECT event_type,
             CAST(ROUND(share * {ATTR_W_SCALE}) AS BIGINT) AS credit_q,
             CAST(ROUND(share * cents * {ATTR_V_SCALE}) AS BIGINT) AS value_q
      FROM sh
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(CAST(SUM(credit_q) AS BIGINT) / {ATTR_W_SCALE}.0, 6)
             AS credited_conversions,
           ROUND(CAST(SUM(value_q) AS BIGINT) / {ATTR_V_SCALE}.0 / 100.0, 2)
             AS credited_value
    FROM q GROUP BY event_type
    """,
    tags=("attribution", "multi-touch", "range-join"),
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution: every view/click in the 3 days
    before a purchase shares that purchase's credit, weighted
    exp(−Δt/24 h) — the middle ground between
    :func:`first_touch_attribution` (all credit to the oldest touch) and
    last-touch (all to the newest), and the model marketing mixes actually
    deploy. Outputs per-channel credited conversions and credited revenue.

    Float discipline (three layers, all quantized before cross-row sums):
    decay weights are exact BIGINTs from identical exp() doubles, each
    conversion's weight total is an exact per-group sum (window partitioned
    by conversion id — per-group state), and each touch's credit share and
    credited cents re-quantize before the final per-channel reduction — so
    the order-dependent float additions that differ across engines and
    partitionings never happen. Join shape: a per-user time-range join
    (the :func:`~.events.range_join_error_context` pattern) whose fan-out
    is bounded by the 3-day window; conversions with no in-window touch
    drop out (standard attribution contract — their credit has no
    claimant). Integer headroom: Σ value_q per channel is credited cents ×
    ATTR_V_SCALE, clearing BIGINT to ~$9×10¹² per channel at the 10⁴
    scale; escalate to DECIMAL(38) sums beyond."""
    e = load_events(spark, sf_dir)
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts_us").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    t = e.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts_us").alias("tts"), "event_type"
    )
    j = p.join(t, "user_id").where(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - ATTR_WINDOW_US)
    )
    wq = F.round(
        F.exp(-((F.col("pts") - F.col("tts")) / 3600000000.0) / ATTR_TAU_H)
        * ATTR_W_SCALE
    ).cast("long")
    j = j.select("conv_id", "cents", "event_type", wq.alias("wq"))
    w_conv = Window.partitionBy("conv_id")
    sh = j.select(
        "conv_id",
        "cents",
        "event_type",
        (F.col("wq") / F.sum("wq").over(w_conv).cast("double")).alias("share"),
    )
    q = sh.select(
        "event_type",
        F.round(F.col("share") * ATTR_W_SCALE).cast("long").alias("credit_q"),
        F.round(F.col("share") * F.col("cents") * ATTR_V_SCALE)
        .cast("long")
        .alias("value_q"),
    )
    return q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum("credit_q").cast("long") / float(ATTR_W_SCALE), 6).alias(
            "credited_conversions"
        ),
        F.round(
            F.sum("value_q").cast("long") / float(ATTR_V_SCALE) / 100.0, 2
        ).alias("credited_value"),
    )
