"""Second-wave analytic operators: GROUPING SETS, exact-cents moving windows,
calendar-spine gap filling, and int8 embedding quantization.

Shapes the round-1 surface didn't cover:
  * explicit GROUPING SETS with grouping flags (rollup/cube's general form);
  * sliding ROWS-frame window aggregates — computed over exact integer cents
    so segment-tree vs naive frame accumulation can't diverge across engines;
  * spine generation (sequence + left join + zero fill) — the resample/gap
    primitive of time-series pipelines;
  * symmetric int8 quantization of embedding vectors with reconstruction
    error — the 4x memory-compression primitive ANN indexes rely on at
    100 TB (quantized candidates scanned first, full-precision re-rank on
    the shortlist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import as_double_array, dot, md5_u32, money_sum
from ..pins import pin
from ..registry import query
from ..tables import load_events, load_table

DAY_US = 86_400_000_000


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    tags=("grouping-sets",),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube, SURVEY §2.4
    family) with a grouping_id-style flag distinguishing detail, subtotal,
    and grand-total rows — one expand-operator pass, no union of scans."""
    o = load_table(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast("long")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            gid.alias("gid"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "gid",
            "revenue",
            "n_orders",
        )
    )


@query(
    "moving_avg_order_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
             / (CAST(100 AS DOUBLE) * COUNT(*) OVER w) AS moving_avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window-frame", "moving-avg"),
)
def moving_avg_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS-frame moving average (last 3 orders per customer).
    The frame sum runs over exact integer cents: engines implement sliding
    frames differently (incremental update vs segment trees), which can
    diverge in float low bits — integer addition cannot. The unique
    (orderdate, orderkey) ordering pins identical frames on both sides."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(cents).over(w) / (F.lit(100.0) * F.count("*").over(w))
        ).alias("moving_avg3"),
    )


@query(
    "event_day_spine_fill",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {DAY_US} AS day,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS sum_value
      FROM events GROUP BY 1
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), spine AS (
      SELECT unnest(range(lo, hi + 1)) AS day FROM bounds
    )
    SELECT s.day, COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value
    FROM spine s LEFT JOIN daily d USING (day)
    """,
    tags=("spine-fill", "resample"),
)
def event_day_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill (the resample primitive): generate the full
    day range between the observed min and max via ``sequence`` — a 1-row
    broadcast, not a driver loop — left-join the daily aggregate onto it,
    and zero-fill missing days. Day arithmetic stays in integer epoch-us."""
    e = load_events(spark, sf_dir)
    daily = (
        e.withColumn("day", F.expr(f"ts_us DIV {DAY_US}"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


@query(
    "embedding_quantize_stats",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), scale AS (
      SELECT CAST(127 AS DOUBLE)
               / MAX(list_max(list_transform(v, x -> abs(x)))) AS s
      FROM vecs
    ), q AS (
      SELECT vec_id,
             list_transform(v, x -> x - round(x * s) / s) AS err_vec,
             list_max(list_transform(v, x -> abs(round(x * s)))) AS max_q
      FROM vecs, scale
    )
    SELECT vec_id,
           CAST(max_q AS BIGINT) AS max_abs_q,
           ROUND(sqrt(list_dot_product(err_vec, err_vec) / 64.0), 9) AS recon_rmse
    FROM q
    """,
    tags=("similarity", "quantization"),
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings with a global max-abs scale:
    q = round(x·s), s = 127/max|x|. Emits each vector's max quantized
    magnitude (must be ≤127) and reconstruction RMSE — the quality metric
    for the 4x-compressed ANN scan at scale. The scale is a 1-row aggregate
    broadcast onto the vectors; the error norm reuses the left-fold dot
    product that matches DuckDB's list_dot_product bit-for-bit."""
    # fan_out: three 64-lane array transforms per row over a
    # single-row-group scan (measured 0.44 → 0.23 s at sf0.1/32, tables.py).
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    vecs = e.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    scale = vecs.agg(
        (
            F.lit(127.0)
            / F.max(F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))))
        ).alias("s")
    )
    with_scale = vecs.crossJoin(F.broadcast(scale))
    err_vec = F.transform(
        F.col("v"), lambda x: x - F.round(x * F.col("s")) / F.col("s")
    )
    max_q = F.array_max(
        F.transform(F.col("v"), lambda x: F.abs(F.round(x * F.col("s"))))
    )
    return with_scale.select(
        "vec_id",
        max_q.cast("long").alias("max_abs_q"),
        F.round(F.sqrt(dot(err_vec, err_vec) / F.lit(64.0)), 9).alias("recon_rmse"),
    )


_SQL_API_TEXT = """
    SELECT n.n_name AS nation,
           COUNT(DISTINCT o.o_custkey) AS n_buyers,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING COUNT(DISTINCT o.o_custkey) > 5
"""


@query(
    "sql_api_revenue",
    oracle=_SQL_API_TEXT,
    tags=("sql-api",),
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SQL text executed through ``spark.sql`` over registered views —
    the identical ANSI string runs on both engines (the SQL API surface is
    first-class, not just the DataFrame builders). Catalyst plans it exactly
    like the DataFrame form: pushdown, pruning, AQE all apply."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_TEXT)


@query(
    "orders_per_weekday",
    oracle="""
    SELECT CAST((epoch(o_orderdate) // 86400 + 4) % 7 AS BIGINT) AS dow,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1
    """,
    tags=("date-math",),
)
def orders_per_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week rollup with ENGINE-NEUTRAL integer math: Spark's
    dayofweek() is 1=Sunday while DuckDB's dayofweek() is 0=Sunday —
    instead of reconciling dialects, derive dow from epoch days
    ((days+4) % 7, 0=Monday; 1970-01-01 was a Thursday) so the same
    arithmetic runs on both engines and inside codegen. Epoch days come
    from ``datediff`` against 1970-01-01 — a calendar-date subtraction with
    no timezone in the chain (``unix_timestamp`` would route the NTZ value
    through the session timezone, making correctness depend on the
    ``spark.sql.session.timeZone=UTC`` pin — round-2 advisor finding)."""
    o = load_table(spark, sf_dir, "orders")
    epoch_days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    dow = ((epoch_days.cast("long") + 4) % 7).cast("long")
    return o.groupBy(dow.alias("dow")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "acctbal_histogram",
    oracle="""
    SELECT GREATEST(LEAST(CAST(floor((c_acctbal - (-1000.0)) / 500.0) AS BIGINT), 21), -1)
             AS bucket,
           COUNT(*) AS n_customers,
           ROUND(MIN(c_acctbal), 2) AS lo,
           ROUND(MAX(c_acctbal), 2) AS hi
    FROM customer
    GROUP BY 1
    """,
    tags=("histogram",),
)
def acctbal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (bucket = floor((x-lo)/w), clamped
    overflow bins) — the distribution-profiling primitive; integer bucket
    ids from exact arithmetic, one aggregation pass."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.greatest(
        F.least(
            F.floor((F.col("c_acctbal") - F.lit(-1000.0)) / F.lit(500.0)).cast("long"),
            F.lit(21).cast("long"),
        ),
        F.lit(-1).cast("long"),
    )
    return c.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
    )


@query(
    "cohort_ltv",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT) AS m,
             ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1, 2
    ), coh AS (
      SELECT o_custkey, m, rev, MIN(m) OVER (PARTITION BY o_custkey) AS m0
      FROM per
    ), agg AS (
      SELECT m0 AS cohort_month, m - m0 AS month_offset,
             CAST(COUNT(*) AS BIGINT) AS n_custs,
             ROUND(SUM(rev), 2) AS revenue
      FROM coh GROUP BY 1, 2
    )
    SELECT cohort_month, month_offset, n_custs, revenue,
           ROUND(SUM(revenue) OVER (
             PARTITION BY cohort_month ORDER BY month_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS cum_revenue
    FROM agg
    """,
    tags=("retention", "ltv"),
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the monetary sibling of
    ``events.cohort_retention``: customers cohorted by first-order month,
    each later month's revenue and its running total per cohort.

    Scale shape mirrors the retention matrix: ONE wide shuffle on
    (custkey, month) collapses the order grain to per-customer-month
    revenue (map-side partial aggregation does the heavy lifting); the
    cohort assignment is a min-window over that already-aggregated grain
    partitioned by customer; the matrix aggregation and the cumulative-LTV
    window then operate on ≤ #cohorts × #months rows. Money discipline
    throughout: every SUM of doubles is rounded at 2 decimals before the
    next stage consumes it (exprs.money_sum), and the cumulative window
    folds those already-identical values in deterministic offset order, so
    the running totals match the oracle bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    month = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    per = o.groupBy("o_custkey", month.alias("m")).agg(
        money_sum("o_totalprice").alias("rev")
    )
    coh = per.withColumn(
        "m0", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    agg = coh.groupBy(
        F.col("m0").alias("cohort_month"),
        (F.col("m") - F.col("m0")).alias("month_offset"),
    ).agg(F.count("*").alias("n_custs"), money_sum("rev").alias("revenue"))
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "cohort_month",
        "month_offset",
        "n_custs",
        "revenue",
        F.round(F.sum("revenue").over(w), 2).alias("cum_revenue"),
    )


@query(
    "rolling_7d_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    )
    SELECT CAST(day AS BIGINT) AS day,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND(SUM(cents) OVER (ORDER BY day
                                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                 / 100.0, 2) AS rolling_7d
    FROM daily
    """,
    tags=("window-range-frame", "time-series"),
)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue via a RANGE frame (value-based bounds — frames
    skip missing calendar days correctly, unlike a ROWS frame over a sparse
    spine). The frame runs over exact integer cents (engines disagree on
    sliding-frame float accumulation order; integer addition can't), and the
    window sits above the per-day aggregate: the unbounded orders grain is
    collapsed in the FIRST shuffle, the single-partition sort only ever sees
    ≤ #days rows — the detector-sanctioned bounded-frame shape."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(day.alias("day")).agg(F.sum(cents).alias("cents"))
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.sum("cents").over(w) / 100.0, 2).alias("rolling_7d"),
    )


@query(
    "daily_activity_revenue_outer",
    oracle=f"""
    WITH ev AS (
      SELECT epoch_us(ts) // {DAY_US} AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1
    ), od AS (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(COALESCE(ev.day, od.day) AS BIGINT) AS day,
           CAST(COALESCE(ev.n_events, 0) AS BIGINT) AS n_events,
           COALESCE(od.revenue, CAST(0.0 AS DOUBLE)) AS revenue
    FROM ev FULL OUTER JOIN od ON ev.day = od.day
    """,
    tags=("J-full-outer", "time-series"),
)
def daily_activity_revenue_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two independently-aggregated daily series (event
    activity vs order revenue) with zero-fill — the join type the rest of
    the registry never needs, exercised here where it's genuinely required:
    the two tables cover different calendars, so BOTH null sides are hit.
    Each input collapses to its day grain before the join; the outer join
    itself moves only ≤ #days rows per side, and with AQE both bounded
    sides typically meet in a broadcast."""
    e = load_events(spark, sf_dir)
    ev = e.groupBy(F.expr(f"ts_us DIV {DAY_US}").alias("day")).agg(
        F.count("*").alias("n_events")
    )
    o = load_table(spark, sf_dir, "orders")
    od = o.groupBy(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("day")
    ).agg(money_sum("o_totalprice").alias("revenue"))
    joined = ev.join(od, "day", "full")
    return joined.select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@query(
    "part_cooccurrence",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), counts AS (
      SELECT p1, p2, COUNT(*) AS n_orders FROM pairs GROUP BY p1, p2
    )
    SELECT p1, p2, n_orders FROM counts
    ORDER BY n_orders DESC, p1, p2 LIMIT 100
    """,
    tags=("market-basket", "self-join"),
)
def part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together.
    The oracle's self-join form shuffles lineitem twice and re-materializes
    every order as join output; here ONE shuffle groups each order's part
    set (bounded: TPC-H orders have ≤7 lines, so ≤21 pairs/order) and the
    pairs are generated in-row from the sorted set — pair fan-out is
    O(order_size²), a constant, never O(corpus). Deterministic total order
    (count desc, then pair) makes the top-100 stable across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = part_pair_counts_frame(li)
    return counts.orderBy(F.desc("n_orders"), "p1", "p2").limit(100)


def part_pair_counts_frame(li: DataFrame) -> DataFrame:
    """``(p1, p2, n_orders)`` with ``p1 < p2`` — the part co-occurrence
    pair counts, extracted from :func:`part_cooccurrence` (pure function
    extraction, plan unchanged) so the co-occurrence GRAPH consumers
    (:func:`..components.part_pagerank_rounds`) and the top-pairs report
    share one pair convention: distinct parts per order (collect_set),
    in-row sorted-set pair generation (bounded by order size), one
    shuffle to pair grain."""
    arr = F.array_sort(F.collect_set("l_partkey"))
    per_order = li.groupBy("l_orderkey").agg(arr.alias("parts"))
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    exploded = per_order.select(F.explode(pairs).alias("pr")).select(
        F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2")
    )
    return exploded.groupBy("p1", "p2").agg(F.count("*").alias("n_orders"))


@query(
    "revenue_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(m AS BIGINT) AS m, revenue,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY m), 2) AS delta,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY m))
                 / LAG(revenue) OVER (ORDER BY m) * 100, 6) AS pct_change
    FROM monthly
    """,
    tags=("window-lag", "time-series"),
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: lag + delta + percent change on the
    collapsed monthly grain (the unbounded orders input is reduced in the
    first exchange; the unpartitioned lag window only ever sorts ≤ #months
    rows). Derived floats divide the same two rounded revenues on both
    engines, so the ratio is bit-identical."""
    o = load_table(spark, sf_dir, "orders")
    month = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    monthly = o.groupBy(month.alias("m")).agg(money_sum("o_totalprice").alias("revenue"))
    # Unpartitioned lag window over the CALENDAR grain: rows = distinct
    # months, which grows with the time span (decades ≈ hundreds of rows),
    # never with corpus volume — bounded by construction at any SF
    # (round-10 verdict item 4 boundedness note).
    w = Window.orderBy("m")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "m",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 6).alias("pct_change"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 2
) o
WHERE c.c_mktsegment = 'BUILDING'
"""


@query(
    "lateral_recent_orders",
    oracle=_LATERAL_SQL,
    tags=("J-lateral", "correlated-limit"),
)
def lateral_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT: each BUILDING
    customer's 2 most recent orders. The LATERAL SQL a warehouse user
    would type is the ORACLE (DuckDB runs it verbatim); the engine side is
    the decorrelated form you'd hand-write — BUILDING keys broadcast-joined
    into orders, then a per-custkey row_number ≤ 2.

    Round 8 made these two sides deliberately different: running the SAME
    SQL through Spark 4.1 decorrelates the correlated LIMIT via a FULL
    GLOBAL SORT of orders on (o_orderdate, o_orderkey) — a range exchange
    + total order of the corpus (physical nodes Sort(global=true) over
    Exchange(rangepartitioning)) — before re-exchanging by custkey for the
    ranking. That total order is pure waste (only the per-group order
    matters) and is exactly the shape the registry-wide
    ``unbounded_global_sorts`` invariant now forbids. The explicit window
    form pays one hash exchange + per-partition sort instead. The full
    (date, key) tie-break makes the top-2 set unique, so the two
    formulations are provably the same set — hash-verified against the
    LATERAL oracle every gate."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "basket_lift",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM op GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p1, p2, n_pair,
           ROUND(n_pair / i1.n, 6) AS confidence,
           ROUND((n_pair / i1.n) * (n.n_orders / i2.n), 6) AS lift
    FROM pairs
    JOIN item i1 ON pairs.p1 = i1.l_partkey
    JOIN item i2 ON pairs.p2 = i2.l_partkey
    CROSS JOIN n
    WHERE n_pair >= 2
    ORDER BY lift DESC, p1, p2
    LIMIT 100
    """,
    tags=("market-basket", "association-rules"),
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics on co-purchased part pairs — confidence
    P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)), the step after
    :func:`part_cooccurrence`'s raw counts that turns them into a
    recommendation signal. The basket side reuses the one-shuffle in-row
    pair generation (never the oracle's double lineitem self-join); item
    supports come from the same per-order grain. The support joins carry
    NO broadcast hint: the support frame is PART-GRAIN — it scales with
    the corpus (TPC-H part is SF·200k rows; the round-14 guard sweep
    flagged the old forced broadcast as the same 100-TB failure class as
    bm25's vocab-grain df side) — so AQE picks broadcast only when the
    runtime size allows, and the equi-keys (p1/p2) let it shuffle-join
    otherwise. Only the 1-row order total is hint-broadcast.
    Every metric derives from exact BIGINT counts via float DIVISIONS
    formed before any product — (n_pair/n1)·(n_orders/n2), each factor
    bounded by n — so no integer product can overflow at any corpus size,
    and the identical IEEE operation order keeps the rounded (lift, p1,
    p2) top-100 identical on both engines.
    Support floor n_pair ≥ 2 keeps singleton noise out of the lift ranking."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.array_sort(F.collect_set("l_partkey"))
    # Pinned: the per-order basket frame feeds THREE branches (pair
    # explode, item supports, order total); unpinned, each branch re-ran
    # the lineitem scan + basket aggregation (4 scans in the plan).
    per_order = (
        pin(li.groupBy("l_orderkey").agg(arr.alias("parts")))
    )
    pairs_col = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pair_counts = (
        per_order.select(F.explode(pairs_col).alias("pr"))
        .select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    item = (
        per_order.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
    )
    n_orders = per_order.agg(F.count("*").cast("long").alias("n_orders"))
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("n").alias("n1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("n").alias("n2"))
    out = (
        pair_counts.join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n1"), 6).alias("confidence"),
            F.round(
                (F.col("n_pair") / F.col("n1")) * (F.col("n_orders") / F.col("n2")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "p1", "p2").limit(100)


@query(
    "dq_constraint_report",
    oracle="""
    WITH rowchecks AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_cust,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_price,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1
                           ELSE 0 END) AS BIGINT) AS bad_status
      FROM orders
    ), fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    )
    SELECT v.check_name, v.n_violations,
           CASE WHEN v.n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM rowchecks, fk,
    LATERAL (VALUES
      ('pk_unique(o_orderkey)', dup_pk),
      ('not_null(o_custkey)', null_cust),
      ('positive(o_totalprice)', bad_price),
      ('in_set(o_orderstatus)', bad_status),
      ('fk(orders.o_custkey -> customer)', orphans)
    ) v(check_name, n_violations)
    """,
    tags=("data-quality", "constraints"),
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint report (the Deequ/expectations
    shape, public pattern): primary-key uniqueness, not-null, value-range,
    value-set, and referential-integrity checks over orders, each reported
    as (check_name, violations, status). The four row-level checks FUSE
    into one conditional aggregation — one scan however many constraints —
    and the FK check is a left-anti count against customer keys; at scale
    that's one shuffle (or a broadcast when the dimension fits), and the
    report itself is ≤ #constraints rows. Running validation as a query
    (not a driver loop over checks) is what lets a 100 TB audit share one
    pass."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    row = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_pk"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_cust"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("bad_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
    )
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("long").alias("orphans"))
    )
    checks = row.crossJoin(F.broadcast(orphans)).select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("pk_unique(o_orderkey)"),
                    F.lit("not_null(o_custkey)"),
                    F.lit("positive(o_totalprice)"),
                    F.lit("in_set(o_orderstatus)"),
                    F.lit("fk(orders.o_custkey -> customer)"),
                ),
                F.array("dup_pk", "null_cust", "bad_price", "bad_status", "orphans"),
            )
        ).alias("check_name", "n_violations")
    )
    return checks.select(
        "check_name",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.when(F.col("n_violations") == 0, "pass").otherwise("fail").alias("status"),
    )


@query(
    "join_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_n
      FROM per_key
    )
    SELECT n AS rows_per_key,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(n * COUNT(*) / MAX(tot.n_rows), 6) AS row_share,
           ROUND(n / MAX(tot.max_n), 6) AS rel_to_heaviest
    FROM per_key CROSS JOIN tot
    GROUP BY n
    """,
    tags=("skew", "diagnostics"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnostic for a join/aggregation key — the
    count-of-counts histogram (how many keys carry N rows each) with each
    stratum's share of total rows and its size relative to the heaviest
    key. This is the number you read BEFORE choosing salting / AQE skew
    handling (docs/SCALE.md): a flat profile means hash partitioning is
    fine; a stratum holding most rows at high N is the straggler. Two
    map-side-combinable aggregations (key grain, then count grain — the
    second is tiny) plus a broadcast 1-row total; the profile never
    materializes more than #distinct-counts rows."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    tot = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
    )
    return (
        per_key.groupBy("n")
        .agg(F.count("*").alias("n_keys_stratum"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("rows_per_key"),
            F.col("n_keys_stratum").alias("n_keys"),
            F.round(F.col("n") * F.col("n_keys_stratum") / F.col("n_rows"), 6).alias(
                "row_share"
            ),
            F.round(F.col("n") / F.col("max_n"), 6).alias("rel_to_heaviest"),
        )
    )


# Shared ANSI text for the recursive spine — the IDENTICAL string runs on
# both engines (Spark 4 and DuckDB both implement WITH RECURSIVE).
_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS lo,
         MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS hi
  FROM orders
), spine(m) AS (
  SELECT lo FROM bounds WHERE lo IS NOT NULL
  UNION ALL
  SELECT m + 1 FROM spine WHERE m < (SELECT hi FROM bounds)
), monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mm,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(spine.m AS BIGINT) AS m,
       CAST(COALESCE(monthly.n_orders, 0) AS BIGINT) AS n_orders,
       ROUND(COALESCE(monthly.revenue, 0), 2) AS revenue
FROM spine LEFT JOIN monthly ON spine.m = monthly.mm
"""


# The engine-side execution of the same spine: one sequence() expansion
# instead of the iterative UNION ALL. Value-identical by construction
# (sequence(lo, hi) IS the closed form of the +1 recursion), certified by
# the hash gate against the INDEPENDENT recursive derivation the DuckDB
# oracle keeps running.
_SEQUENCE_SPINE_SQL = """
WITH bounds AS (
  SELECT MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS lo,
         MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS hi
  FROM orders
), spine AS (
  SELECT explode(sequence(lo, hi)) AS m FROM bounds
), monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mm,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(spine.m AS BIGINT) AS m,
       CAST(COALESCE(monthly.n_orders, 0) AS BIGINT) AS n_orders,
       ROUND(COALESCE(monthly.revenue, 0), 2) AS revenue
FROM spine LEFT JOIN monthly ON spine.m = monthly.mm
"""


@query(
    "recursive_month_spine",
    oracle=_RECURSIVE_SPINE_SQL,
    tags=("spine",),
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free monthly revenue series with RECURSIVE-CTE semantics. The
    DuckDB oracle runs the literal WITH RECURSIVE spine (the iterative
    UNION ALL form), so the hash gate certifies this query against an
    independent recursive derivation; the engine side executes the closed
    form — `sequence(lo, hi)` exploded — because Spark's WITH RECURSIVE
    runs one driver-sequential job per recursion step (~84 rounds here,
    measured 15.9–19.2 s warm at sf0.1 vs 0.20–0.26 s for the closed form
    — pure driver turnaround over 84 one-row steps; guide §7 driver-bound
    work). The two forms are value-identical by construction:
    sequence(lo, hi) is exactly the fixpoint of `m -> m + 1 WHILE m < hi`
    seeded at lo. At 100 TB the spine is still #months rows — the closed
    form keeps that cost flat while the recursive ladder would still pay
    per-step driver round trips."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SEQUENCE_SPINE_SQL)


@query(
    "pipe_sql_revenue_flow",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY n.n_name
    HAVING COUNT(*) >= 10
    """,
    tags=("sql-pipe", "spark4"),
)
def pipe_sql_revenue_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the same scan→join→filter→aggregate
    flow written as a linear pipeline instead of inside-out SQL — the
    readability surface GoogleSQL popularized, now ANSI-adjacent in Spark.
    Catalyst compiles it to the identical plan as the classic form (the
    DuckDB oracle IS the classic form, so the hash gate certifies the two
    syntaxes agree). Pipes change nothing at scale — same pushdown, same
    join planning — which is precisely what this row proves."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders AS o
        |> JOIN customer AS c ON o.o_custkey = c.c_custkey
        |> JOIN nation AS n ON c.c_nationkey = n.n_nationkey
        |> WHERE o.o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o.o_totalprice), 2) AS revenue
           GROUP BY n.n_name AS nation
        |> WHERE n_orders >= 10
        """
    )


def _half_split_cte(key_sql: str, key_name: str) -> str:
    """Shared oracle CTE text for the drift monitors: project orders to
    (key, epoch day), derive the calendar-midpoint pivot, and produce
    conditional first-half/second-half counts per key. One definition so
    the two monitors' split windows can never silently disagree."""
    return f"""d AS (
      SELECT {key_sql} AS {key_name},
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), piv AS (
      SELECT (MIN(day) + MAX(day) + 1) // 2 AS piv_day FROM d
    ), counts AS (
      SELECT {key_name},
             CAST(SUM(CASE WHEN day < piv_day THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
             CAST(SUM(CASE WHEN day >= piv_day THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
      FROM d CROSS JOIN piv GROUP BY {key_name}
    )"""


def _calendar_half_counts(orders: DataFrame, key, key_name: str) -> DataFrame:
    """Spark twin of :func:`_half_split_cte`: (key, c_ref, c_cur) conditional
    counts for the first vs second half of the observed calendar (pivot =
    midpoint of the day range, a broadcast 1-row aggregate)."""
    d = orders.select(
        key.alias(key_name),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("day"),
    )
    piv = d.agg(
        F.expr("(MIN(day) + MAX(day) + 1) DIV 2").cast("long").alias("piv_day")
    )
    return (
        d.crossJoin(F.broadcast(piv))
        .groupBy(key_name)
        .agg(
            F.sum(F.when(F.col("day") < F.col("piv_day"), 1).otherwise(0))
            .cast("long")
            .alias("c_ref"),
            F.sum(F.when(F.col("day") >= F.col("piv_day"), 1).otherwise(0))
            .cast("long")
            .alias("c_cur"),
        )
    )


# PSI binning for o_totalprice: fixed-width dollar bins with a clamped
# overflow bin, Laplace-smoothed shares, fixed-point term quantization.
PSI_BIN_W = 30_000.0
PSI_BINS = 20
PSI_SCALE = 1_000_000_000


@query(
    "psi_price_drift",
    oracle=f"""
    WITH {_half_split_cte(
        f"least(CAST(floor(o_totalprice / {PSI_BIN_W}) AS BIGINT), {PSI_BINS - 1})",
        "bin",
    )}, spine AS (
      SELECT CAST(unnest(range(0, {PSI_BINS})) AS BIGINT) AS bin
    ), fullb AS (
      SELECT s.bin, COALESCE(c.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur
      FROM spine s LEFT JOIN counts c ON s.bin = c.bin
    ), tot AS (
      SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
             CAST(SUM(c_cur) AS BIGINT) AS n_cur FROM fullb
    ), terms AS (
      SELECT bin, c_ref, c_cur,
             (c_ref + 1) / CAST(n_ref + {PSI_BINS} AS DOUBLE) AS p,
             (c_cur + 1) / CAST(n_cur + {PSI_BINS} AS DOUBLE) AS q
      FROM fullb CROSS JOIN tot
    ), qt AS (
      SELECT bin, c_ref, c_cur, p, q,
             CAST(ROUND((p - q) * ln(p / q) * {PSI_SCALE}) AS BIGINT) AS t
      FROM terms
    )
    SELECT bin, c_ref AS n_ref, c_cur AS n_cur,
           ROUND(p, 6) AS ref_share, ROUND(q, 6) AS cur_share,
           ROUND(t / {PSI_SCALE}.0, 6) AS psi_term,
           ROUND(CAST(SUM(t) OVER () AS BIGINT) / {PSI_SCALE}.0, 6) AS psi_total
    FROM qt
    """,
    tags=("mlops", "drift", "psi", "histogram"),
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution, first
    calendar half vs second — the standard production drift monitor for a
    model input (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 retrain). The
    split pivot derives from the data (midpoint of the observed day range,
    a broadcast 1-row aggregate), so the monitor needs no configuration.

    Distribution discipline: prices histogram into {PSI_BINS} fixed-width
    bins in ONE counting pass (conditional counts for both halves — never a
    scan per half, no join of two filtered subqueries; the data-derived
    pivot costs one additional bounded min/max pass); a generated bin spine
    keeps zero-count bins so Laplace smoothing ((c+1)/(N+B)) is well-defined
    on both sides; each (p−q)·ln(p/q) term quantizes to an exact BIGINT
    before summing (the ENT_SCALE/LP_SCALE rule: never float-reduce across
    rows), and the total is a window over the {PSI_BINS}-row aggregate —
    bounded by construction at any corpus size. The sample totals
    n_ref/n_cur derive from a WINDOW over the same {PSI_BINS}-row frame
    rather than a separate aggregate branch: the branched form re-ran the
    whole corpus aggregation per consumer (measured: 4 orders scans in the
    plan; the single-lineage form scans orders exactly twice — pivot +
    counts — and keeps the bounding Aggregate visible to the
    unpartitioned-window invariant, which a checkpoint pin would hide)."""
    o = load_table(spark, sf_dir, "orders")
    counts = _calendar_half_counts(
        o,
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BIN_W).cast("long"),
            F.lit(PSI_BINS - 1).cast("long"),
        ),
        "bin",
    )
    spine = spark.range(PSI_BINS).select(F.col("id").cast("long").alias("bin"))
    fullb = (
        spine.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("c_ref", F.lit(0)).cast("long").alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).cast("long").alias("c_cur"),
        )
    )
    w_tot = Window.partitionBy()
    terms = fullb.withColumn(
        "n_ref", F.sum("c_ref").over(w_tot).cast("long")
    ).withColumn("n_cur", F.sum("c_cur").over(w_tot).cast("long")).select(
        "bin",
        "c_ref",
        "c_cur",
        ((F.col("c_ref") + 1) / (F.col("n_ref") + PSI_BINS).cast("double")).alias("p"),
        ((F.col("c_cur") + 1) / (F.col("n_cur") + PSI_BINS).cast("double")).alias("q"),
    )
    t = (
        F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")) * PSI_SCALE)
        .cast("long")
        .alias("t")
    )
    qt = terms.select("bin", "c_ref", "c_cur", "p", "q", t)
    w_all = Window.partitionBy()
    return qt.select(
        "bin",
        F.col("c_ref").alias("n_ref"),
        F.col("c_cur").alias("n_cur"),
        F.round("p", 6).alias("ref_share"),
        F.round("q", 6).alias("cur_share"),
        F.round(F.col("t") / F.lit(float(PSI_SCALE)), 6).alias("psi_term"),
        F.round(
            F.sum("t").over(w_all).cast("long") / F.lit(float(PSI_SCALE)), 6
        ).alias("psi_total"),
    )


@query(
    "ks_price_drift",
    oracle=f"""
    WITH {_half_split_cte("CAST(ROUND(o_totalprice * 100) AS BIGINT)", "v")}, cum AS (
      SELECT v,
             SUM(c_ref) OVER w AS cum_ref,
             SUM(c_cur) OVER w AS cum_cur,
             SUM(c_ref) OVER () AS n_ref,
             SUM(c_cur) OVER () AS n_cur
      FROM counts
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), gaps AS (
      SELECT v, n_ref, n_cur,
             abs(cum_ref * n_cur - cum_cur * n_ref) AS gap_int
      FROM cum
    ), m AS (
      SELECT CAST(MAX(gap_int) AS BIGINT) AS d_int,
             CAST(MAX(n_ref) AS BIGINT) AS n_ref,
             CAST(MAX(n_cur) AS BIGINT) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM gaps
    )
    SELECT m.n_ref, m.n_cur, m.n_values,
           ROUND(m.d_int / (m.n_ref * CAST(m.n_cur AS DOUBLE)), 6) AS ks_stat,
           CAST((SELECT MIN(v) FROM gaps WHERE gap_int = m.d_int) AS BIGINT)
             AS ks_at_cents
    FROM m
    """,
    tags=("mlops", "drift", "ks-test", "two-phase-rank"),
)
def ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic for order-price drift
    (first calendar half vs second) — the distribution-shift test that,
    unlike :func:`psi_price_drift`'s binned PSI, needs NO binning choice:
    D = max over values of |F_ref(v) − F_cur(v)|.

    Exactness discipline: the sup-gap is maximized as the INTEGER
    |cumR·n_cur − cumC·n_ref| (common-denominator form), so the argmax — and
    the reported location, tie-broken to the smallest value — never touches
    a float; the single division happens once on the winning integers.
    Scale shape: one conditional-count pass collapses orders to the distinct
    price grain, then BOTH running counters cumulate under ONE range
    exchange via the two-phase :func:`~.analytics.with_global_cumsum`
    (multi-column form) — the naive ``SUM() OVER (ORDER BY v)`` would drag
    the whole value grain through a single task. Integer headroom: cum·n
    products clear BIGINT to ~3×10⁹ rows per side (documented escalation to
    DECIMAL(38) beyond)."""
    from .analytics import with_global_cumsum

    # fan_out examined and REJECTED (round 16): the fixed-arm-order A/B's
    # apparent win (0.77 → 0.55) did not survive the order-alternating
    # quiet-host adjudication (fanned ahead 4/8, best 0.474 vs 0.469 — a
    # wash); the audited plan stays.
    o = load_table(spark, sf_dir, "orders")
    counts = _calendar_half_counts(
        o, F.round(F.col("o_totalprice") * 100).cast("long"), "v"
    )
    cum = with_global_cumsum(
        counts, [F.col("v").asc()], ["c_ref", "c_cur"], ["cum_ref", "cum_cur"]
    )
    gap = F.abs(
        F.col("cum_ref") * F.col("cum_cur_total")
        - F.col("cum_cur") * F.col("cum_ref_total")
    )
    gaps = cum.select(
        "v",
        F.col("cum_ref_total").alias("n_ref"),
        F.col("cum_cur_total").alias("n_cur"),
        gap.alias("gap_int"),
    )
    # single aggregation: lexicographic struct-max yields (max gap, min v)
    best = F.max(F.struct(F.col("gap_int").alias("d"), (-F.col("v")).alias("nv")))
    m = gaps.agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.count("*").cast("long").alias("n_values"),
        best.alias("b"),
    )
    return m.select(
        "n_ref",
        "n_cur",
        "n_values",
        F.round(
            F.col("b.d") / (F.col("n_ref") * F.col("n_cur").cast("double")), 6
        ).alias("ks_stat"),
        (-F.col("b.nv")).cast("long").alias("ks_at_cents"),
    )


# Poisson bootstrap: replicate count and the Poisson(1) inverse-CDF
# thresholds on the 32-bit md5 hash scale (floor(CDF(k) * 2^32) for
# k = 0..6; anything above the last threshold draws weight 7).
BOOT_REPLICATES = 50
_POISSON1_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
)


def _poisson1_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POISSON1_T)
    )
    return f"CASE {branches} ELSE 7 END"


@query(
    "bootstrap_revenue_ci",
    oracle=f"""
    WITH r AS (
      SELECT CAST(unnest(range(0, {BOOT_REPLICATES})) AS BIGINT) AS b
    ), w AS (
      SELECT r.b,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             CAST(('0x' || substring(md5(CAST(r.b AS VARCHAR) || ':' ||
                                         CAST(o.o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS u
      FROM orders o CROSS JOIN r
    ), rep AS (
      SELECT b,
             CAST(SUM(({_poisson1_case_sql('u')}) * cents) AS BIGINT) AS s,
             CAST(SUM({_poisson1_case_sql('u')}) AS BIGINT) AS m
      FROM w GROUP BY b
    ), means AS (
      SELECT b, s / (m * 100.0) AS mean_rev FROM rep WHERE m > 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         / (COUNT(*) * 100.0), 2) FROM orders) AS mean_revenue,
           ROUND(quantile_cont(mean_rev, 0.025), 2) AS ci_lo,
           ROUND(quantile_cont(mean_rev, 0.975), 2) AS ci_hi,
           CAST(COUNT(*) AS BIGINT) AS n_replicates
    FROM means
    """,
    tags=("mlops", "bootstrap", "uncertainty"),
)
def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean order revenue via the
    POISSON bootstrap — the resampling scheme that distributes: classical
    resampling draws n rows WITH replacement (a global operation), but each
    row's multiplicity in a size-n resample is asymptotically Poisson(1),
    so every (row, replicate) pair draws its own weight independently —
    map-side, no coordination — from the md5 hash of (replicate, key).
    Deterministic: the same CI on every run, engine, and partition count
    (``rand()`` bootstraps are none of these).

    Exactness: weights are small integers from inlined inverse-CDF
    thresholds on the 32-bit hash scale, replicate sums accumulate exact
    integer cents, and the replicate means divide identical integers — so
    the {BOOT_REPLICATES}-value percentile interpolation (linear, same
    definition both engines) is bit-identical. Scale shape: the
    ×{BOOT_REPLICATES} explode is map-side and partially aggregated before
    the ≤ {BOOT_REPLICATES}-row shuffle; memory per task never exceeds one
    replicate-count accumulator row."""
    # fan_out: the ×BOOT_REPLICATES explode + md5 inverse-CDF weights are
    # map-side over the scan; on a single-row-group file that whole stage
    # runs on one core (measured 8.50 → 1.18 s at sf0.1/32, tables.py).
    o = load_table(spark, sf_dir, "orders", fan_out=True)
    reps = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(BOOT_REPLICATES - 1).cast("long"))
    )
    w = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey"),
        reps.alias("b"),
    ).withColumn(
        "u",
        md5_u32(
            F.concat_ws(
                ":", F.col("b").cast("string"), F.col("o_orderkey").cast("string")
            )
        ),
    )
    k = F.col("u")
    weight = F.when(k < _POISSON1_T[0], 0)
    for i, t in enumerate(_POISSON1_T[1:], start=1):
        weight = weight.when(k < t, i)
    weight = weight.otherwise(7).cast("long")
    rep = (
        w.select("b", "cents", weight.alias("k"))
        .groupBy("b")
        .agg(
            F.sum(F.col("k") * F.col("cents")).cast("long").alias("s"),
            F.sum("k").cast("long").alias("m"),
        )
        .where(F.col("m") > 0)
        .select("b", (F.col("s") / (F.col("m") * 100.0)).alias("mean_rev"))
    )
    totals = o.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / (F.count("*") * 100.0),
            2,
        ).alias("mean_revenue"),
    )
    ci = rep.agg(
        F.round(F.expr("percentile(mean_rev, 0.025)"), 2).alias("ci_lo"),
        F.round(F.expr("percentile(mean_rev, 0.975)"), 2).alias("ci_hi"),
        F.count("*").cast("long").alias("n_replicates"),
    )
    return totals.crossJoin(F.broadcast(ci)).select(
        "n_orders", "mean_revenue", "ci_lo", "ci_hi", "n_replicates"
    )
