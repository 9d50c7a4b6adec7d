"""Event-time operators over the ``events`` table (SURVEY.md §2.9 extension
tier): tumbling / sliding windows, sessionization, JSON property access.

The events source's on-disk timestamp precision varies by testdata
generation (tables.load_events probes the parquet footer); all event-time
logic here runs on the derived **integer epoch microseconds** column
``ts_us`` — time-zone free, exactly comparable across engines, and cheaper
than timestamp ops at scale (plain long arithmetic inside codegen).
Streaming-native variants of the same windows live in
``pyspark_retention_pipeline_spark/streaming/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_events

HOUR_US = 3_600_000_000
HALF_HOUR_US = 1_800_000_000
SESSION_GAP_US = 1_800_000_000  # 30 min


def session_events(events: DataFrame, *cols: str) -> DataFrame:
    """``events`` projected to ``cols`` plus a per-user ``session_id``: gap
    sessionization by lag + running sum. An event opens a new session when
    it is the user's first or comes more than ``SESSION_GAP_US`` after the
    previous one, in (ts_us, event_id) order; ``session_id`` counts the
    sessions opened so far. ``cols`` must include user_id, event_id and
    ts_us. Both windows share one shuffle on user_id, which also serves a
    later per-session rollup."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("ts_us") - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    return events.select(*cols).withColumn(
        "session_id", F.sum(is_new).over(run).cast("long")
    )


@query(
    "tumbling_hourly",
    oracle=f"""
    SELECT epoch_us(ts) // {HOUR_US} AS hour_bucket,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window-tumbling",),
)
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation — batch analogue of
    ``groupBy(F.window(ts, '1 hour'))`` keyed by the integer hour bucket."""
    e = load_events(spark, sf_dir)
    return (
        e.withColumn("hour_bucket", F.expr(f"ts_us DIV {HOUR_US}"))
        .groupBy("hour_bucket", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "sliding_hourly",
    oracle=f"""
    SELECT (epoch_us(ts) // {HALF_HOUR_US} - g.k) * {HALF_HOUR_US} AS window_start_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events CROSS JOIN generate_series(0, 1) g(k)
    GROUP BY 1
    """,
    tags=("window-sliding",),
)
def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h width, 30 min slide): each event lands in exactly 2
    windows, produced by a 2-element map-side explode — no self-join."""
    e = load_events(spark, sf_dir)
    slide_idx = F.expr(f"ts_us DIV {HALF_HOUR_US}")
    return (
        e.select(
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("k"),
            slide_idx.alias("slide_idx"),
        )
        .withColumn("window_start_us", (F.col("slide_idx") - F.col("k")) * F.lit(HALF_HOUR_US))
        .groupBy("window_start_us")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "sessionize",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts_us,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) AS start_us,
           MAX(ts_us) AS end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("sessionization",),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running sum
    — the classic batch pattern; one shuffle on user_id serves both windows
    and the final per-session rollup. Streaming twin:
    ``streaming.windows.session_stream`` uses ``session_window``."""
    sessions = session_events(load_events(spark, sf_dir), "user_id", "event_id", "ts_us")
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@query(
    "json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json",),
)
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string property extraction + aggregation (the testdata's
    ``events.props`` column; SURVEY §2.8 lists ``from_json`` as extension-only).
    Uses ``get_json_object`` — a JVM-side expression, no UDF."""
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "event_type_hourly_pivot",
    oracle=f"""
    SELECT epoch_us(ts) // {HOUR_US} AS hour_bucket,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events
    GROUP BY 1
    """,
    tags=("pivot",),
)
def event_type_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — unbounded-cardinality pivots need a
    discovery pass; pinning the columns keeps it single-pass at scale."""
    e = load_events(spark, sf_dir)
    return (
        e.withColumn("hour_bucket", F.expr(f"ts_us DIV {HOUR_US}"))
        .groupBy("hour_bucket")
        .pivot("event_type", ["click", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@query(
    "signup_purchase_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup_us,
             MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase_us,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_signup_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
           CAST(SUM(CASE WHEN first_signup_us IS NOT NULL
                          AND last_purchase_us > first_signup_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
    FROM per_user
    """,
    tags=("funnel",),
)
def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup → later-purchase conversion funnel as ONE conditional
    aggregation per user plus a global rollup — no joins, no multiple passes
    (the naive form is a self-join of the signup stream with the purchase
    stream)."""
    e = load_events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("first_signup_us"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("last_purchase_us"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
    )
    converted = F.col("first_signup_us").isNotNull() & (
        F.col("last_purchase_us") > F.col("first_signup_us")
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("first_signup_us").isNotNull(), 1).otherwise(0)).alias("n_signed_up"),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
    )


@query(
    "json_typed_parse",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
    tags=("json", "from_json"),
)
def json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing via ``from_json`` into a struct column (SURVEY §2.8:
    the schema-on-read form, vs. get_json_object's path extraction)."""
    e = load_events(spark, sf_dir)
    parsed = e.withColumn("props_struct", F.from_json("props", "k BIGINT"))
    return parsed.select(
        "event_id",
        F.col("props_struct.k").alias("k"),
        F.when(F.col("props_struct.k") >= 50, "high").otherwise("low").alias("k_band"),
    )


FIVE_MIN_US = 300_000_000


@query(
    "range_join_error_context",
    oracle=f"""
    SELECT e.event_id AS error_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS purchases_nearby,
           CAST(COALESCE(SUM(CASE WHEN p.value > 100 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS big_purchases_nearby
    FROM (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
               WHERE event_type = 'purchase') p
      ON p.ts_us BETWEEN e.ts_us - {FIVE_MIN_US} AND e.ts_us + {FIVE_MIN_US}
    GROUP BY e.event_id
    """,
    tags=("range-join",),
)
def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (each error event ⟕ purchases within ±5 min, across all
    users) in the scalable bucketed form: both sides key on a 5-minute time
    bucket, the probe side explodes into its 3 adjacent buckets, and the
    range predicate filters exactly after an *equi*-join on the bucket — a
    cross join becomes a hash join whose fan-out is bounded by bucket
    occupancy (Spark has no native range join; this is the standard
    bucketize-then-filter pattern)."""
    e = load_events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts_us").alias("e_us")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts_us").alias("p_us"), "value"
    )
    probe = errors.select(
        "error_id",
        "e_us",
        F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("k"),
    ).withColumn("bucket", F.expr(f"e_us DIV {FIVE_MIN_US}") + F.col("k"))
    build = purchases.withColumn("bucket", F.expr(f"p_us DIV {FIVE_MIN_US}"))
    joined = probe.join(build, "bucket", "left").filter(
        F.col("p_us").isNull()
        | ((F.col("p_us") >= F.col("e_us") - FIVE_MIN_US) & (F.col("p_us") <= F.col("e_us") + FIVE_MIN_US))
    )
    # A purchase can match from at most one bucket offset k, so no dedup is
    # needed; count matched purchase ids per error.
    return joined.groupBy("error_id").agg(
        F.count("p_id").alias("purchases_nearby"),
        F.coalesce(
            F.sum(F.when(F.col("value") > 100, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("big_purchases_nearby"),
    )


@query(
    "daily_rollup_from_hourly",
    oracle=f"""
    SELECT epoch_us(ts) // {24 * HOUR_US} AS day_bucket,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("hypertable-rollup",),
)
def daily_rollup_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the daily rollup is computed
    FROM the hourly rollup (sum-of-sums / sum-of-counts), never re-reading
    raw events — the oracle aggregates the raw table directly, proving the
    two-level rollup reproduces it exactly. At 100 TB the hourly layer is a
    materialized table ~1000× smaller than raw; every coarser window reads
    it instead of the events."""
    hourly = tumbling_hourly(spark, sf_dir)
    return (
        hourly.withColumn("day_bucket", F.expr("hour_bucket DIV 24"))
        .groupBy("day_bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
    )


@query(
    "event_type_map_summary",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           COUNT(*) AS n_types,
           string_agg(event_type || ':' || CAST(n AS VARCHAR), ',' ORDER BY event_type)
             AS type_counts
    FROM per GROUP BY user_id
    """,
    tags=("map-type",),
)
def event_type_map_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per-user event-type counts built into a
    map<string,long> (``map_from_entries``), then consumed with
    ``map_keys``/``element_at`` into a canonical sorted string — exercises the
    map-column family (SURVEY §2.8 lists maps as unexercised by the
    reference) with an engine-portable output representation."""
    e = load_events(spark, sf_dir)
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    sorted_keys = F.sort_array(F.map_keys(F.col("m")))
    summary = F.concat_ws(
        ",",
        F.transform(
            sorted_keys,
            lambda k: F.concat(k, F.lit(":"), F.element_at(F.col("m"), k).cast("string")),
        ),
    )
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        summary.alias("type_counts"),
    )


DAY_US = 86_400_000_000


@query("dau_hll_rollup", tags=("sketch", "hll-union"))
def dau_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active-users via HLL sketch partials, rolled up to a total by
    UNIONING THE SKETCHES — the 100 TB pattern for distinct-count rollups:
    per-day sketches are tiny mergeable state, so the monthly/total estimate
    never rescans raw events (re-counting exact distincts at each rollup
    level re-shuffles the full corpus). Rows-only check (sketch estimates
    have no SQL twin); relative error vs exact distinct is pinned in
    tests/test_operators_unit.py. Day -1 row = union-of-sketches total."""
    e = load_events(spark, sf_dir)
    daily_sk = (
        e.withColumn("day", F.expr(f"ts_us DIV {DAY_US}"))
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    daily = daily_sk.select(
        "day", F.hll_sketch_estimate("sk").cast("long").alias("approx_users")
    )
    total = daily_sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("approx_users")
    ).select(F.lit(-1).cast("long").alias("day"), "approx_users")
    return daily.unionByName(total)


WEEK_US = 604_800_000_000


# Shared with retention_decay_fit's oracle (which fits a curve per cohort
# over exactly this matrix).
COHORT_RETENTION_ORACLE = f"""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS week FROM events
    ), f AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
    ), c AS (
      SELECT f.cohort_week, uw.week - f.cohort_week AS week_offset,
             COUNT(*) AS n_users
      FROM uw JOIN f USING (user_id) GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.week_offset, CAST(c.n_users AS BIGINT) AS n_users,
           ROUND(c.n_users / s.n_users, 6) AS retention_rate
    FROM c JOIN (SELECT cohort_week, n_users FROM c WHERE week_offset = 0) s
      USING (cohort_week)
"""


@query(
    "cohort_retention",
    oracle=COHORT_RETENTION_ORACLE,
    tags=("retention", "cohort"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the namesake analysis of a retention
    pipeline: users cohorted by first-active week, each later week's
    distinct-active count expressed as a share of the cohort.

    ONE wide shuffle (on user_id) computes both the cohort assignment and
    the per-user active-week set in a single aggregation: ``collect_set`` of
    the week bucket is bounded by the calendar (≤52 rows/user/year), so the
    aggregation state stays tiny no matter how many events a user has — the
    map-side partial dedups weeks before anything shuffles. The exploded
    (user, cohort, week) grain is then distinct by construction, so the
    matrix needs only a plain COUNT, and the cohort-size divisor comes from
    a window over the already-aggregated matrix itself (ordered by
    week_offset, the first row of each cohort partition IS the cohort size)
    — so raw events are scanned once and shuffled once; everything after the
    first aggregation operates on ≤ #cohorts × #weeks rows. The naive
    alternative (distinct on (user, week), then a groupBy(user) for cohorts,
    then a re-join against a second scan) reads and shuffles the event grain
    twice."""
    e = load_events(spark, sf_dir)
    week = F.expr(f"ts_us DIV {WEEK_US}")
    per_user = e.groupBy("user_id").agg(
        F.min(week).alias("cohort_week"),
        F.collect_set(week).alias("weeks"),
    )
    grid = per_user.select(
        "cohort_week", F.explode("weeks").alias("week")
    ).select("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
    counts = grid.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )
    # Aggregate-bounded window: one partition per cohort, ≤ #weeks rows each;
    # ordered by week_offset the first row is the offset-0 cohort size.
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    size = F.first("n_users").over(w)
    return counts.select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(F.col("n_users") / size, 6).alias("retention_rate"),
    )


@query(
    "dn_retention",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
    ), f AS (
      SELECT user_id, MIN(day) AS day0 FROM ud GROUP BY user_id
    ), flags AS (
      SELECT f.user_id,
             MAX(CASE WHEN ud.day = f.day0 + 1 THEN 1 ELSE 0 END) AS d1,
             MAX(CASE WHEN ud.day = f.day0 + 7 THEN 1 ELSE 0 END) AS d7,
             MAX(CASE WHEN ud.day = f.day0 + 30 THEN 1 ELSE 0 END) AS d30
      FROM ud JOIN f USING (user_id) GROUP BY f.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(d1) AS BIGINT) AS d1_users,
           CAST(SUM(d7) AS BIGINT) AS d7_users,
           CAST(SUM(d30) AS BIGINT) AS d30_users,
           ROUND(SUM(d1) / COUNT(*), 6) AS d1_rate,
           ROUND(SUM(d7) / COUNT(*), 6) AS d7_rate,
           ROUND(SUM(d30) / COUNT(*), 6) AS d30_rate
    FROM flags
    """,
    tags=("retention", "dn"),
)
def dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic D1/D7/D30 retention: of all users, how many were active
    exactly N days after their first-seen day. Same single-shuffle shape as
    ``cohort_retention`` — per-user ``min(day)`` + calendar-bounded
    ``collect_set(day)`` in ONE aggregation on user_id — but here no explode
    at all: the day-offset membership tests are ``array_contains`` flags on
    the per-user set, and the final global rollup is a 1-row aggregate. The
    relational alternative (distinct days ⋈ first-day frame, conditional
    MAX per user — the oracle's form) shuffles the day grain twice."""
    e = load_events(spark, sf_dir)
    day = F.expr(f"ts_us DIV {DAY_US}")
    per_user = e.groupBy("user_id").agg(
        F.min(day).alias("day0"), F.collect_set(day).alias("days")
    )
    def flag(n: int) -> F.Column:
        return F.when(
            F.array_contains("days", F.col("day0") + n), 1
        ).otherwise(0)
    flags = per_user.select(
        flag(1).alias("d1"), flag(7).alias("d7"), flag(30).alias("d30")
    )
    n = F.count("*")
    return flags.agg(
        n.alias("n_users"),
        F.sum("d1").alias("d1_users"),
        F.sum("d7").alias("d7_users"),
        F.sum("d30").alias("d30_users"),
        F.round(F.sum("d1") / n, 6).alias("d1_rate"),
        F.round(F.sum("d7") / n, 6).alias("d7_rate"),
        F.round(F.sum("d30") / n, 6).alias("d30_rate"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("markov", "sequence"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts (the Markov matrix behind
    next-action models and funnel diagnostics). One shuffle on user_id feeds
    the per-user ordered ``lag``; the (prev, next) pair count then aggregates
    map-side into at most |event_types|² rows — the wide grain never
    re-shuffles. Deterministic ordering via the (ts_us, event_id) tiebreak,
    as in ``sessionize``."""
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))


@query(
    "session_funnel",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_type, ts_us, event_id,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM gaps
    ), seqs AS (
      SELECT user_id, session_id,
             string_agg(event_type, ',' ORDER BY ts_us, event_id) AS seq
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN seq LIKE '%view%' THEN 1 ELSE 0 END) AS BIGINT)
             AS s1_view,
           CAST(SUM(CASE WHEN seq LIKE '%view%click%' THEN 1 ELSE 0 END) AS BIGINT)
             AS s2_click,
           CAST(SUM(CASE WHEN seq LIKE '%view%click%signup%' THEN 1 ELSE 0 END) AS BIGINT)
             AS s3_signup,
           CAST(SUM(CASE WHEN seq LIKE '%view%click%signup%purchase%' THEN 1 ELSE 0 END) AS BIGINT)
             AS s4_purchase
    FROM seqs
    """,
    tags=("funnel", "sequence"),
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel WITHIN a session (view → click → signup →
    purchase, 30-min-gap sessions): how many sessions reach each stage in
    order. Sequence containment is subsequence matching on the session's
    ordered event-type string — a single LIKE with interleaved wildcards,
    pure codegen on both engines (event-type names share no substrings, so
    the comma-joined encoding is unambiguous). The session assignment reuses
    :func:`session_events`; the per-session type string
    is an ``array_sort(collect_list(struct(ts_us, event_id, type)))`` whose
    struct field order gives the same deterministic (ts_us, event_id)
    ordering as the oracle's ``string_agg(... ORDER BY)``. One shuffle on
    user_id feeds the windows; sessions aggregate map-side after that; the
    final rollup is one row. Per-session state is bounded by session length
    (gap-capped), not user history."""
    sess = session_events(
        load_events(spark, sf_dir), "user_id", "event_id", "event_type", "ts_us"
    )
    ordered_types = F.transform(
        F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "event_type"))),
        lambda s: s["event_type"],
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.array_join(ordered_types, ",").alias("seq")
    )
    def stage(pattern: str) -> F.Column:
        return F.sum(F.when(F.col("seq").like(pattern), 1).otherwise(0))
    return seqs.agg(
        F.count("*").alias("n_sessions"),
        stage("%view%").alias("s1_view"),
        stage("%view%click%").alias("s2_click"),
        stage("%view%click%signup%").alias("s3_signup"),
        stage("%view%click%signup%purchase%").alias("s4_purchase"),
    )


@query(
    "variant_props_histogram",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    tags=("json", "variant", "spark4"),
)
def variant_props_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property histogram through Spark 4's VARIANT type: ``parse_json`` once
    into the binary variant encoding, ``variant_get`` with a typed path in
    the grouping expression. At 100 TB variant beats per-query string
    re-parsing — one decode, many typed extractions, and shredded storage
    once writers catch up; this keys a histogram directly on the extracted
    value. (DuckDB has no VARIANT; the oracle's string-path extraction is
    semantically identical for valid JSON.)"""
    e = load_events(spark, sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.withColumn("k", k)
        .groupBy("event_type", F.expr("k DIV 10").alias("k_bucket"))
        .agg(F.count("*").alias("n_events"))
    )


# Fixed-point scale for quantized ln(retention_rate) regressands (the
# ENT_SCALE/LP_SCALE rule: never float-reduce across rows).
DECAY_SCALE = 1_000_000_000


@query(
    "retention_decay_fit",
    oracle=f"""
    WITH m AS ({COHORT_RETENTION_ORACLE}
    ), pts AS (
      SELECT cohort_week, CAST(week_offset AS BIGINT) AS x,
             CAST(ROUND(ln(retention_rate) * {DECAY_SCALE}) AS BIGINT) AS y
      FROM m WHERE week_offset >= 1 AND retention_rate > 0
    ), s AS (
      SELECT cohort_week,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY cohort_week
    ), d AS (
      SELECT cohort_week, n AS n_points,
             (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)
               / {DECAY_SCALE} AS decay
      FROM s WHERE n >= 3 AND n * sxx <> sx * sx
    )
    SELECT cohort_week, n_points,
           ROUND(decay, 6) AS decay_per_week,
           CASE WHEN decay < 0 THEN ROUND(ln(2) / -decay, 6) END
             AS half_life_weeks
    FROM d
    """,
    tags=("retention", "cohort", "regression", "half-life"),
)
def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort retention half-life: fit ln(retention) ~ week_offset over
    each cohort's curve (offsets ≥ 1) and report the exponential decay rate
    and its half-life — the single number product teams quote from the
    retention matrix, and the input to LTV projections.

    Composes :func:`cohort_retention` (one event shuffle) and fits ENTIRELY
    on the ≤ #cohorts × #weeks matrix: ln(rate) quantizes to an exact BIGINT
    per cell (the rates are already engine-identical rounded doubles), the
    per-cohort moment sums are exact integer aggregation, and slope /
    half-life are arithmetic on one row per cohort. Cohorts need ≥ 3
    curve points and non-degenerate x variance (exact integer test
    ``n·Σx² ≠ (Σx)²``); a non-negative slope (a growing "retention" curve)
    yields a NULL half-life rather than a negative one."""
    m = cohort_retention(spark, sf_dir)
    pts = m.where(
        (F.col("week_offset") >= 1) & (F.col("retention_rate") > 0)
    ).select(
        "cohort_week",
        F.col("week_offset").cast("long").alias("x"),
        F.round(F.log("retention_rate") * DECAY_SCALE).cast("long").alias("y"),
    )
    s = pts.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    d = s.where("n >= 3 AND n * sxx <> sx * sx").selectExpr(
        "cohort_week",
        "n AS n_points",
        f"(n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)"
        f" / {DECAY_SCALE} AS decay",
    )
    return d.selectExpr(
        "cohort_week",
        "n_points",
        "ROUND(decay, 6) AS decay_per_week",
        "CASE WHEN decay < 0 THEN ROUND(ln(2) / -decay, 6) END AS half_life_weeks",
    )


@query(
    "dependent_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ), v AS (
      SELECT user_id, MIN(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM ev e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM ev e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_after_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_after_chain,
           ROUND((SELECT COUNT(*) FROM c)
                 / CAST((SELECT COUNT(*) FROM v) AS DOUBLE), 6) AS view_to_click,
           ROUND((SELECT COUNT(*) FROM p)
                 / CAST((SELECT COUNT(*) FROM c) AS DOUBLE), 6) AS click_to_purchase
    """,
    tags=("funnel", "sequence", "higher-order"),
)
def dependent_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-session DEPENDENT funnel: first view → first click strictly
    AFTER that view → first purchase strictly AFTER that click, per user —
    the ordered-dependency form that a plain per-step count overstates
    (:func:`session_funnel` requires the steps inside one session; this one
    allows days between steps but enforces the causal order).

    Spark shape — ONE scan, one shuffle: events (pre-filtered to the three
    step types) collapse to a per-user sorted (ts, type) array, and the
    dependency chain is three in-row higher-order ``filter``/``element_at``
    probes over that array (codegen lambdas, no UDF). The oracle takes the
    classical three-join MIN-chain form instead — different plan, provably
    the same semantics, which is exactly what an independent oracle should
    be. The per-user array is bounded by the user's event count in the
    three types; a pathological power user bounds it the same way
    sessionize's per-user window state does."""
    e = load_events(spark, sf_dir)
    ev = e.where(F.col("event_type").isin("view", "click", "purchase")).select(
        "user_id", "ts_us", "event_type"
    )
    arr = F.array_sort(F.collect_list(F.struct("ts_us", "event_type")))
    per_user = ev.groupBy("user_id").agg(arr.alias("a"))
    vt = F.element_at(
        F.filter(F.col("a"), lambda x: x.event_type == F.lit("view")), 1
    )["ts_us"]
    per_user = per_user.withColumn("vt", vt)
    ct = F.element_at(
        F.filter(
            F.col("a"),
            lambda x: (x.event_type == F.lit("click")) & (x.ts_us > F.col("vt")),
        ),
        1,
    )["ts_us"]
    per_user = per_user.withColumn("ct", ct)
    pt = F.element_at(
        F.filter(
            F.col("a"),
            lambda x: (x.event_type == F.lit("purchase")) & (x.ts_us > F.col("ct")),
        ),
        1,
    )["ts_us"]
    per_user = per_user.withColumn("pt", pt)
    return per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("vt").cast("long").alias("n_view"),
        F.count("ct").cast("long").alias("n_click_after_view"),
        F.count("pt").cast("long").alias("n_purchase_after_chain"),
        F.round(F.count("ct") / F.count("vt").cast("double"), 6).alias(
            "view_to_click"
        ),
        F.round(F.count("pt") / F.count("ct").cast("double"), 6).alias(
            "click_to_purchase"
        ),
    )
