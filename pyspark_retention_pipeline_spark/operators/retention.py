"""The flagship churn feature DAG — reference parity for
``pipeline/etl.py:33-142`` (build_features_and_labels), Spark-first.

Differences from the reference that matter at 100 TB:
  * The customer-history aggregate and the recent-90-day aggregate are FUSED
    into one groupBy via conditional aggregation (the reference runs a second
    filtered aggregation and joins it back — one extra shuffle, etl.py:87-96).
  * The lookahead label join carries only distinct keys (etl.py:61 pattern) —
    the join's build side is a key set, not order rows.
  * Dimension-style sides are broadcast; the big fact aggregates shuffle once
    on the customer key and reuse that partitioning through the final joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import CUTOFF, CUTOFF_DATE, LOOKAHEAD_END, RECENT_START
from ..exprs import money_sum, ts_lit
from ..pins import pin
from ..registry import query
from ..tables import load_table

_FEATURES_SQL = f"""
    WITH hist AS (
      SELECT * FROM orders WHERE o_orderdate <= TIMESTAMP '{CUTOFF}'
    ), rfm AS (
      SELECT o_custkey AS custkey,
             COUNT(*) AS total_orders,
             ROUND(SUM(o_totalprice), 2) AS total_amount,
             ROUND(SUM(o_totalprice), 2) / COUNT(*) AS avg_order_amount,
             CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                            DATE '{CUTOFF_DATE}') AS BIGINT) AS recency_days,
             CAST(SUM(CASE WHEN o_orderdate > TIMESTAMP '{RECENT_START}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS recent90_orders,
             ROUND(SUM(CASE WHEN o_orderdate > TIMESTAMP '{RECENT_START}'
                            THEN o_totalprice ELSE 0 END), 2) AS recent90_amount
      FROM hist GROUP BY o_custkey
    ), prod AS (
      SELECT o.o_custkey AS custkey,
             ROUND(SUM(l.l_quantity), 2) AS total_qty,
             COUNT(DISTINCT l.l_partkey) AS distinct_products
      FROM hist o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey
    ), fut AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate > TIMESTAMP '{CUTOFF}'
        AND o_orderdate <= TIMESTAMP '{LOOKAHEAD_END}'
    )
    SELECT r.custkey,
           r.total_orders,
           COALESCE(p.total_qty, CAST(0 AS DOUBLE)) AS total_qty,
           r.avg_order_amount,
           COALESCE(p.distinct_products, 0) AS distinct_products,
           r.recent90_orders,
           r.recency_days,
           ROUND(LN(1 + r.total_amount), 6) AS total_amount_log,
           ROUND(LN(1 + r.recent90_amount), 6) AS recent90_amount_log,
           CASE WHEN f.custkey IS NULL THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS label
    FROM rfm r
    LEFT JOIN prod p ON r.custkey = p.custkey
    LEFT JOIN fut f ON r.custkey = f.custkey
"""


def churn_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-level churn feature table (the reference's 10-column feature
    schema, FIXTURES.md §1.2, over the star-schema testdata).

    Fully fused plan: ONE scan of orders and ONE customer-key shuffle produce
    history RFM, the recent-90-day stats, AND the lookahead churn label as
    conditional aggregates over the whole table (the reference builds these
    as three filtered aggregations plus two joins, ``etl.py:57-124``); only
    the lineitem-derived product stats need their own aggregation + join.
    """
    # fan_out examined and REJECTED twice (rounds 15 and 16): a mid-round
    # sweep suggested target-16 fan-out won here, but a 10-alternation
    # order-alternating quiet-host adjudication showed the opposite (off
    # best 0.87 / med 0.96 vs fanned 1.17 / 1.23 — the earlier "win" was
    # arm-order bias in the harness). The conditional-aggregate map is too
    # cheap to amortize the exchange; real layouts split naturally.
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    in_hist = F.col("o_orderdate") <= ts_lit(CUTOFF)
    in_recent = in_hist & (F.col("o_orderdate") > ts_lit(RECENT_START))
    in_future = (F.col("o_orderdate") > ts_lit(CUTOFF)) & (
        F.col("o_orderdate") <= ts_lit(LOOKAHEAD_END)
    )
    hist_price = F.sum(F.when(in_hist, F.col("o_totalprice")).otherwise(0.0))

    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.when(in_hist, 1).otherwise(0)).alias("total_orders"),
            F.round(hist_price, 2).alias("total_amount"),
            F.datediff(
                F.lit(CUTOFF_DATE).cast("date"),
                F.to_date(F.max(F.when(in_hist, F.col("o_orderdate")))),
            )
            .cast("long")
            .alias("recency_days"),
            F.sum(F.when(in_recent, 1).otherwise(0)).alias("recent90_orders"),
            F.round(F.sum(F.when(in_recent, F.col("o_totalprice")).otherwise(0.0)), 2).alias(
                "recent90_amount"
            ),
            F.max(F.when(in_future, 1)).alias("has_future"),
        )
        # customers with no pre-cutoff history are out of cohort (they only
        # appear in the lookahead window — the reference's "new" customers)
        .filter(F.col("total_orders") >= 1)
        .withColumn("avg_order_amount", F.col("total_amount") / F.col("total_orders"))
    )

    prod = (
        o.filter(in_hist)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.countDistinct("l_partkey").alias("distinct_products"),
        )
    )

    return (
        rfm.join(prod, "custkey", "left")
        .select(
            "custkey",
            "total_orders",
            F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
            "avg_order_amount",
            F.coalesce("distinct_products", F.lit(0).cast("long")).alias("distinct_products"),
            "recent90_orders",
            "recency_days",
            F.round(F.log1p("total_amount"), 6).alias("total_amount_log"),
            F.round(F.log1p("recent90_amount"), 6).alias("recent90_amount_log"),
            F.when(F.col("has_future").isNull(), 1.0).otherwise(0.0).alias("label"),
        )
    )


@query("churn_features", oracle=_FEATURES_SQL, tags=("flagship", "A2", "A3", "A4", "J1-J3", "P8"))
def churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return churn_feature_frame(spark, sf_dir)


@query(
    "class_counts",
    oracle=f"""
    WITH hist AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate <= TIMESTAMP '{CUTOFF}'
    ), fut AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate > TIMESTAMP '{CUTOFF}'
        AND o_orderdate <= TIMESTAMP '{LOOKAHEAD_END}'
    )
    SELECT CASE WHEN f.custkey IS NULL THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS label,
           COUNT(*) AS n
    FROM hist h LEFT JOIN fut f ON h.custkey = f.custkey
    GROUP BY 1
    """,
    tags=("A6",),
)
def class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cohort counts (reference ``pipeline/train.py:49-51`` collects
    these to derive class weights)."""
    from .joins import label_antijoin

    return label_antijoin(spark, sf_dir).groupBy("label").agg(F.count("*").alias("n"))


@query(
    "class_weights",
    oracle=f"""
    WITH hist AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate <= TIMESTAMP '{CUTOFF}'
    ), fut AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate > TIMESTAMP '{CUTOFF}'
        AND o_orderdate <= TIMESTAMP '{LOOKAHEAD_END}'
    ), labeled AS (
      SELECT h.custkey,
             CASE WHEN f.custkey IS NULL THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS label
      FROM hist h LEFT JOIN fut f ON h.custkey = f.custkey
    ), counts AS (
      SELECT CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM labeled
    )
    SELECT l.custkey, l.label,
           CASE WHEN l.label = 1 THEN c.n_neg / GREATEST(c.n_pos, 1)
                ELSE CAST(1 AS DOUBLE) END AS class_weight
    FROM labeled l CROSS JOIN counts c
    """,
    tags=("M6", "A6", "P9"),
)
def class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-weight derivation fully inside the plan — the reference collects
    label counts to the Python driver and re-injects them as literals
    (``pipeline/train.py:40-55``); here the counts stay distributed via a
    broadcast scalar join, so nothing round-trips through the driver.

    Scale shape (round-7 scan audit fix): the labeled frame is built in ONE
    fused conditional aggregation over orders (``MAX(in_hist)/MAX(in_fut)``
    per custkey — set-identical to ``label_antijoin``'s two-distinct join,
    proven in tests/test_plans.py::
    test_class_weights_fused_labels_match_antijoin) and pinned with a lazy
    ``localCheckpoint``, because it feeds two plan branches (the count
    aggregate and the output join). The old composition re-ran the
    hist/fut derivation per branch — 4 orders scans in the plan; now the
    corpus is read once at checkpoint materialization and both branches
    read the pinned rows (tests/test_plans.py asserts no parquet scan
    survives downstream). The counts side of the cross join is an
    ungrouped aggregate DOWNSTREAM of the pin, so the keyless-join
    boundedness reducer still sees its 1-row proof. The weights themselves
    are :func:`..ml.add_class_weight`'s, the ones the churn model trains
    on."""
    from ..ml import add_class_weight

    o = load_table(spark, sf_dir, "orders")
    labeled = pin(
        o.filter(F.col("o_orderdate") <= ts_lit(LOOKAHEAD_END))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(
                F.when(F.col("o_orderdate") <= ts_lit(CUTOFF), 1).otherwise(0)
            ).alias("in_hist"),
            F.max(
                F.when(F.col("o_orderdate") > ts_lit(CUTOFF), 1).otherwise(0)
            ).alias("in_fut"),
        )
        .filter(F.col("in_hist") == 1)
        .select(
            "custkey",
            F.when(F.col("in_fut") == 0, 1.0).otherwise(0.0).alias("label"),
        )
    )
    return add_class_weight(labeled)
