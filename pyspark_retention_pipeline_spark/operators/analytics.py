"""Advanced analytics operators beyond the reference's surface: multi-level
aggregation (ROLLUP), calendar extraction, ranking family, as-of join,
skew-salted aggregation, unpivot, and set operations.

These round out what a user of a general-purpose engine expects; each is the
Spark-idiomatic form with its shuffle story documented, and each has a DuckDB
oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import CUTOFF, LOOKAHEAD_END
from ..exprs import money_sum, ts_lit
from ..pins import pin
from ..registry import query
from ..tables import load_table


@query(
    "rollup_revenue",
    oracle="""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
    tags=("rollup", "grouping"),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (nation → segment → grand total) — one pass
    produces all three levels via the expand operator; NULL group keys mark
    subtotal rows, matching ANSI semantics. ``nation`` (fixed 25 rows) is
    broadcast; ``customer`` scales with SF so AQE picks its join strategy."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(money_sum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    )


@query(
    "monthly_revenue",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("date-extract",),
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing via year/month extraction (time-zone-free on NTZ
    timestamps)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(money_sum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
    )


def with_global_row_number(df: DataFrame, order_by: list) -> DataFrame:
    """Distributed global ROW_NUMBER — the reusable two-phase primitive
    behind :func:`customer_rank_family` (see its docstring for the full
    rationale): range-repartition on the sort key, per-partition
    row_number, broadcast cumulative offsets. Appends ``_rn`` (1-based
    global row number under ``order_by``; pass a deterministic tiebreak)
    and ``_n`` (total rows). The lazy ``localCheckpoint`` pins the sampled
    range exchange so the offsets and probe branches read one
    materialization regardless of exchange-reuse/AQE settings."""
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    ranged = df.repartitionByRange(nparts, *order_by).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_by)
    local = pin(ranged.withColumn("_lrn", F.row_number().over(w_local).cast("long")))
    # Tiny frame: one row per range partition. The unpartitioned windows
    # here run over an Aggregate-bounded input (<= nparts rows).
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_prior = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_prior), F.lit(0)).cast("long").alias("_off"),
        F.sum("_cnt").over(Window.partitionBy()).cast("long").alias("_n"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def ntile_from_row_number(k: int) -> F.Column:
    """SQL-spec NTILE(k) as EXACT integer arithmetic over the ``_rn``/``_n``
    columns :func:`with_global_row_number` emits (the first ``N % k``
    buckets take ``N DIV k + 1`` rows, the rest ``N DIV k``). Integer DIV
    throughout — the earlier double-division + truncating-cast form was
    exact only while 1/(q+1) cleared half an ulp, a silent misbucketing
    hazard at extreme N. Shared by every NTILE consumer so the closed form
    exists in exactly one place. When ``_n < k`` every row falls in the
    big-bucket branch, so the ELSE's ``DIV (_n DIV k)`` never divides by
    zero (CASE evaluates lazily per row)."""
    return F.expr(
        f"CASE WHEN _rn <= (_n % {k}) * (_n DIV {k} + 1) "
        f"THEN (_rn - 1) DIV (_n DIV {k} + 1) + 1 "
        f"ELSE (_n % {k}) + (_rn - (_n % {k}) * (_n DIV {k} + 1) - 1) "
        f"DIV (_n DIV {k}) + 1 END"
    ).cast("long")


@query(
    "customer_rank_family",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey, total_spend,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM spend
    WINDOW w AS (ORDER BY total_spend DESC, custkey)
    """,
    tags=("ranking",),
)
def customer_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family over per-customer spend — TWO-PHASE
    distributed rank, not a single unpartitioned WindowExec.

    A naive ``Window.orderBy(...)`` funnels the whole customer grain
    (150k×SF rows) through ONE task; at 100× scale that single sort is the
    job. Instead:

    1. ``repartitionByRange`` on the sort key — a range shuffle whose
       partitions are themselves globally ordered (partition 0 holds the
       top spenders);
    2. per-partition ``row_number`` over ``Window.partitionBy(pid)`` —
       every partition ranks its own slice in parallel;
    3. a tiny per-partition count frame (≤ #partitions rows) yields
       cumulative offsets + the global N, broadcast back;
    4. global rank = local row_number + offset. The deterministic
       ``custkey`` tiebreak makes the total order UNIQUE, so RANK and
       DENSE_RANK coincide with ROW_NUMBER (no tie can straddle a range
       boundary); NTILE(k) and PERCENT_RANK are closed-form expressions of
       (global row_number, N) per the SQL spec, so no second sort is needed.

    The offsets branch and the probe branch both descend from the SAME
    range exchange, whose boundaries are *sampled* — if each branch executed
    its own copy they could sample different boundaries and the per-_pid
    counts would disagree with the probe rows' _pid values (silently wrong
    ranks). A lazy ``localCheckpoint`` pins ``local`` to one materialization
    both branches read, so consistency no longer hinges on
    ``spark.sql.exchange.reuse``/AQE replan behavior (round-5 ADVICE item
    1); lazy, so plan-only sweeps still trigger no job. The checkpoint holds
    the aggregated customer grain, not the raw corpus.

    Result is hash-identical to the single-window form; the plan has no
    unpartitioned window over an unbounded grain."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_sum("o_totalprice").alias("total_spend")
    )
    ranked = with_global_row_number(
        spend, [F.col("total_spend").desc(), F.col("custkey")]
    )
    ntile = ntile_from_row_number(4)
    pct = F.when(
        F.col("_n") > 1,
        (F.col("_rn") - F.lit(1)).cast("double") / (F.col("_n") - F.lit(1)),
    ).otherwise(F.lit(0.0))
    return ranked.select(
        "custkey",
        "total_spend",
        F.col("_rn").alias("rnk"),
        F.col("_rn").alias("drnk"),
        ntile.alias("quartile"),
        F.round(pct, 6).alias("pct_rank"),
    )


@query(
    "asof_last_purchase",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_us
      FROM events
    )
    SELECT user_id, event_id, ts_us, last_purchase_us,
           ts_us - last_purchase_us AS us_since_purchase
    FROM tagged WHERE event_type = 'error'
    """,
    tags=("asof-join",),
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, shuffle-minimal form: instead of a range join between the
    error stream and the purchase stream, union them (they're one table here)
    and take a running MAX of purchase timestamps over the event-time window —
    one shuffle on user_id, no join at all. This is the scalable pattern for
    'latest fact at or before this event' (Spark has no native as-of join)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts_us"))
    ).over(w)
    return (
        e.select("user_id", "event_id", "event_type", "ts_us")
        .withColumn("last_purchase_us", last_purchase)
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            "event_id",
            "ts_us",
            "last_purchase_us",
            (F.col("ts_us") - F.col("last_purchase_us")).alias("us_since_purchase"),
        )
    )


@query(
    "salted_supplier_agg",
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY l_suppkey
    """,
    tags=("skew", "salting"),
)
def salted_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: ``l_suppkey`` has only ~10 distinct
    values, so a direct groupBy funnels the whole table through ≤10 reducers.
    Salting fans the hot keys across 16 sub-partitions, aggregates partially,
    then merges — same result (the oracle is the plain GROUP BY), bounded
    per-reducer load at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_suppkey", "_salt").agg(
        F.count("*").alias("pn"), F.sum("l_extendedprice").alias("ps")
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("pn").alias("n_lines"), F.round(F.sum("ps"), 2).alias("total_price")
    )


@query(
    "segment_metrics_unpivot",
    oracle=f"""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment,
             ROUND(SUM(o.o_totalprice), 2) AS revenue,
             CAST(COUNT(*) AS DOUBLE) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate <= TIMESTAMP '{CUTOFF}'
      GROUP BY c.c_mktsegment
    )
    SELECT segment, 'revenue' AS metric, revenue AS value FROM seg
    UNION ALL
    SELECT segment, 'n_orders' AS metric, n_orders AS value FROM seg
    """,
    tags=("unpivot",),
)
def segment_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long unpivot via ``stack`` (the melt operation; no shuffle — a
    pure projection expansion). ``customer`` is pre-projected to
    (key, segment) with no broadcast hint — AQE decides the join strategy."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.filter(F.col("o_orderdate") <= ts_lit(CUTOFF))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            money_sum("o_totalprice").alias("revenue"),
            F.count("*").cast("double").alias("n_orders"),
        )
    )
    return seg.selectExpr(
        "segment",
        "stack(2, 'revenue', revenue, 'n_orders', n_orders) AS (metric, value)",
    )


@query(
    "retained_buyers_intersect",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate <= TIMESTAMP '{CUTOFF}'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate > TIMESTAMP '{CUTOFF}'
      AND o_orderdate <= TIMESTAMP '{LOOKAHEAD_END}'
    """,
    tags=("set-op", "intersect"),
)
def retained_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of the history and lookahead buyer sets — the set-op dual of
    the churn anti-join."""
    o = load_table(spark, sf_dir, "orders")
    hist = o.filter(F.col("o_orderdate") <= ts_lit(CUTOFF)).select(
        F.col("o_custkey").alias("custkey")
    )
    fut = o.filter(
        (F.col("o_orderdate") > ts_lit(CUTOFF)) & (F.col("o_orderdate") <= ts_lit(LOOKAHEAD_END))
    ).select(F.col("o_custkey").alias("custkey"))
    return hist.intersect(fut)


@query(
    "inactive_customers_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
    tags=("set-op", "except"),
)
def inactive_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers that never ordered (set-op form of the anti-join)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.exceptAll(o).distinct()


@query(
    "string_ops",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           CAST(length(c_name) AS BIGINT) AS name_len,
           substring(c_name, 1, 8) AS name_prefix,
           concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key,
           trim(lower(c_mktsegment)) AS seg_lower
    FROM customer
    """,
    tags=("string-fns",),
)
def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family (upper/length/substring/concat/trim) — all
    JVM-side expressions inside codegen."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")
        ).alias("seg_key"),
        F.trim(F.lower("c_mktsegment")).alias("seg_lower"),
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("cube", "grouping"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping combinations in one expand
    pass (2^d row expansion before the aggregate: cheap for small d, and the
    reason you pick ROLLUP when the hierarchy is linear)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    ).agg(F.count("*").alias("n_orders"), money_sum("o_totalprice").alias("revenue"))


@query(
    "order_value_bounds",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER w, 2) AS latest_price,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("window-values",),
)
def order_value_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value analytics over an explicit running frame."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("latest_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


@query(
    "revenue_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), r AS (
      SELECT CAST(ROUND(revenue * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY revenue, custkey) AS i
      FROM spend
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * cents) / (COUNT(*) * SUM(cents))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM r
    """,
    tags=("inequality", "two-phase-rank"),
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue (the classic whale-dependence
    number) via the rank identity G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over
    ascending-sorted revenues. The global sort reuses
    :func:`with_global_row_number` — the two-phase distributed rank — so no
    unpartitioned window touches the customer grain; revenue ties are
    rank-permutation-invariant (equal x contribute the same Σ i·x over any
    tie ordering), making the result deterministic without caring how ties
    break. Moments accumulate in exact integer cents (valid to ~10⁶
    customers × 10⁵ revenue before Σ i·x approaches 2⁵³ — switch the
    product to double accumulation beyond that)."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    ranked = with_global_row_number(
        spend, [F.col("revenue").asc(), F.col("custkey").asc()]
    )
    cents = F.round(F.col("revenue") * 100).cast("long")
    n = F.count("*")
    sum_x = F.sum(cents)
    sum_ix = F.sum(F.col("_rn") * cents)
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round(
            2.0 * sum_ix / (n * sum_x) - (n + F.lit(1.0)) / n, 6
        ).alias("gini"),
    )


@query(
    "lorenz_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), r AS (
      SELECT CAST(ROUND(revenue * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY revenue, custkey) AS i,
             COUNT(*) OVER () AS n
      FROM spend
    ), d AS (
      SELECT CAST((i - 1) * 10 // n + 1 AS BIGINT) AS decile,
             SUM(cents) AS dc, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM r GROUP BY 1
    )
    SELECT decile, n_customers,
           ROUND(SUM(dc) OVER (ORDER BY decile
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(SUM(dc) OVER () AS DOUBLE), 6) AS cum_revenue_share
    FROM d
    """,
    tags=("inequality", "two-phase-rank"),
)
def lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile grain — the chart behind :func:`revenue_gini`:
    cumulative revenue share of the bottom 10%, 20%, … of customers. Third
    consumer of :func:`with_global_row_number`; the decile is closed-form
    from (row number, N) as in the rank family's NTILE, so after the
    two-phase rank everything runs on a 10-row frame (the unpartitioned
    cumsum window is Aggregate-bounded). Shares divide exact integer-cents
    sums, so both engines produce bit-identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    ranked = with_global_row_number(
        spend, [F.col("revenue").asc(), F.col("custkey").asc()]
    )
    cents = F.round(F.col("revenue") * 100).cast("long")
    # integer DIV, not double division: at n ~ 1e9 a double quotient landing
    # an ulp below an exact boundary would truncate a row into the wrong
    # decile; long arithmetic can't.
    decile = F.expr("(_rn - 1) * 10 DIV _n") + 1
    d = ranked.groupBy(decile.alias("decile")).agg(
        F.sum(cents).alias("dc"), F.count("*").alias("n_customers")
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum("dc").over(Window.partitionBy())
    return d.select(
        "decile",
        "n_customers",
        F.round(
            F.sum("dc").over(w_cum) / total.cast("double"), 6
        ).alias("cum_revenue_share"),
    )


def with_global_cumsum(df: DataFrame, order_by: list, value_col, out_col="_cum") -> DataFrame:
    """Distributed global running SUM over a total order — the cumulative
    sibling of :func:`with_global_row_number` (same two-phase shape: range
    shuffle → per-partition window → broadcast prefix offsets), for when a
    consumer needs the per-row prefix sum itself rather than just ranks.

    ``value_col``/``out_col`` may each be a single name or a parallel list
    (several counters cumulated under ONE range exchange — e.g. the two
    sample counters of a KS statistic); every value column must be integral
    (exact cents/counts: prefix sums of doubles would be
    partitioning-dependent). Appends each ``out_col`` (inclusive prefix sum
    under ``order_by``), ``_total`` per column (named ``{out_col}_total``;
    plain ``_total`` for the single-column call), plus ``_rn`` and ``_n`` —
    a strict superset of the row-number primitive. The lazy
    ``localCheckpoint`` pins the sampled range boundaries exactly as in
    :func:`with_global_row_number`."""
    single = isinstance(value_col, (str, Column))
    vcols = [value_col] if single else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col must pair up")
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    ranged = df.repartitionByRange(nparts, *order_by).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_order = Window.partitionBy("_pid").orderBy(*order_by)
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.withColumn("_lrn", F.row_number().over(w_order).cast("long"))
    for i, v in enumerate(vcols):
        local = local.withColumn(f"_lcs{i}", F.sum(v).over(w_run).cast("long"))
    local = pin(local)
    per_pid = local.groupBy("_pid").agg(
        F.count("*").cast("long").alias("_cnt"),
        *[F.sum(v).cast("long").alias(f"_psum{i}") for i, v in enumerate(vcols)],
    )
    w_prior = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    totals = [
        ("_total" if single else f"{ocols[i]}_total") for i in range(len(vcols))
    ]
    offsets = per_pid.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_prior), F.lit(0)).cast("long").alias("_roff"),
        F.sum("_cnt").over(w_all).cast("long").alias("_n"),
        *[
            c
            for i in range(len(vcols))
            for c in (
                F.coalesce(F.sum(f"_psum{i}").over(w_prior), F.lit(0))
                .cast("long")
                .alias(f"_soff{i}"),
                F.sum(f"_psum{i}").over(w_all).cast("long").alias(totals[i]),
            )
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid").withColumn(
        "_rn", F.col("_roff") + F.col("_lrn")
    )
    for i, oc in enumerate(ocols):
        out = out.withColumn(oc, F.col(f"_soff{i}") + F.col(f"_lcs{i}"))
    return out.drop(
        "_pid", "_lrn", "_roff",
        *[f"_lcs{i}" for i in range(len(vcols))],
        *[f"_soff{i}" for i in range(len(vcols))],
    )


@query(
    "pareto_concentration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    ), r AS (
      SELECT CAST(ROUND(revenue * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER w AS i,
             COUNT(*) OVER () AS n,
             SUM(CAST(ROUND(revenue * 100) AS BIGINT)) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(CAST(ROUND(revenue * 100) AS BIGINT)) OVER () AS total
      FROM spend
      WINDOW w AS (ORDER BY revenue DESC, custkey)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN (cum - cents) * 5 < total * 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_top_80pct,
           ROUND(SUM(CASE WHEN (cum - cents) * 5 < total * 4 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS share_customers_80pct,
           ROUND(SUM(CASE WHEN i * 10 <= n THEN cents ELSE 0 END)
                 / CAST(MIN(total) AS DOUBLE), 6) AS top_decile_revenue_share
    FROM r
    """,
    tags=("inequality", "pareto", "two-phase-rank"),
)
def pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 scorecard: how many whales cover 80% of revenue, and what
    share the top decile of customers holds — the two numbers behind every
    concentration-risk review (:func:`revenue_gini` gives the index, this
    gives the actionable cuts).

    Needs a per-row GLOBAL prefix sum over the revenue-desc order, which a
    naive ``SUM() OVER (ORDER BY …)`` computes in one task over the whole
    customer grain; :func:`with_global_cumsum` does it two-phase instead
    (range shuffle → partition-local running sums → broadcast offsets). The
    80% test is exact integer arithmetic — ``5·prefix_excl < 4·total`` over
    cents avoids the float-threshold ulp hazard; headroom to Σcents ≈
    1.8×10¹⁸/5 before the comparison could overflow (documented escalation:
    switch to DECIMAL(38) sums around 10⁴× bench scale). Ties broken by
    ``custkey`` keep the prefix sums — and both output counts —
    permutation-deterministic."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    cents = F.round(F.col("revenue") * 100).cast("long")
    cum = with_global_cumsum(
        spend.withColumn("cents", cents),
        [F.col("revenue").desc(), F.col("custkey").asc()],
        "cents",
    )
    in_80 = F.when((F.col("_cum") - F.col("cents")) * 5 < F.col("_total") * 4, 1).otherwise(0)
    top_decile_cents = F.when(F.col("_rn") * 10 <= F.col("_n"), F.col("cents")).otherwise(
        F.lit(0).cast("long")
    )
    return cum.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(in_80).cast("long").alias("n_top_80pct"),
        F.round(F.sum(in_80) / F.count("*").cast("double"), 6).alias(
            "share_customers_80pct"
        ),
        F.round(
            F.sum(top_decile_cents) / F.min("_total").cast("double"), 6
        ).alias("top_decile_revenue_share"),
    )


def with_global_ntile(
    df: DataFrame, order_by: list, k: int, out_col: str
) -> DataFrame:
    """Distributed NTILE(k) — :func:`with_global_row_number` plus the SQL
    spec's closed form (the first ``N % k`` buckets take ``N DIV k + 1``
    rows, the rest ``N DIV k``), so the global quantile assignment costs one
    range shuffle and zero unpartitioned windows. ``order_by`` must include
    a deterministic tiebreak for cross-engine parity (NTILE splits ties by
    physical row order otherwise)."""
    ranked = with_global_row_number(df, order_by)
    return ranked.withColumn(out_col, ntile_from_row_number(k)).drop("_rn", "_n")


@query(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT custkey, n_orders, total_spend,
             CAST(NTILE(4) OVER (ORDER BY last_order, custkey) AS BIGINT) AS r_score,
             CAST(NTILE(4) OVER (ORDER BY n_orders, custkey) AS BIGINT) AS f_score,
             CAST(NTILE(4) OVER (ORDER BY total_spend, custkey) AS BIGINT) AS m_score
      FROM rfm
    )
    SELECT custkey, n_orders, total_spend, r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm_code,
           CASE WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
                WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                WHEN r_score = 4 AND f_score <= 2 THEN 'new'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score = 1 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    tags=("ranking", "rfm", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM (recency / frequency / monetary) quartile segmentation —
    the marketing-side counterpart of the reference's churn features
    (``pipeline/etl.py:66-75`` computes the same three facts; here each is
    scored into population quartiles and mapped to the standard segment
    names). Score 4 = best quartile on every axis (most recent, most
    frequent, highest spend).

    Each NTILE(4) is a :func:`with_global_ntile` pass — a range shuffle +
    closed-form bucket arithmetic over the aggregated customer grain, so
    the three global quantile assignments never funnel the frame through a
    single-task sort (at 100 TB three range shuffles of the customer grain
    beat one serialized WindowExec by the width of the cluster). The
    ``custkey`` tiebreak makes every ordering unique, which is what lets the
    closed form match the engines' physical-order NTILE exactly."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        money_sum("o_totalprice").alias("total_spend"),
    )
    d = with_global_ntile(rfm, [F.col("last_order"), F.col("custkey")], 4, "r_score")
    d = with_global_ntile(d, [F.col("n_orders"), F.col("custkey")], 4, "f_score")
    d = with_global_ntile(d, [F.col("total_spend"), F.col("custkey")], 4, "m_score")
    seg = (
        F.when(
            (F.col("r_score") == 4) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") == 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") == 1) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return d.select(
        "custkey",
        "n_orders",
        "total_spend",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
            "rfm_code"
        ),
        seg.alias("segment"),
    )
