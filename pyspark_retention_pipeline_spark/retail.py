"""Online-Retail-shaped churn ETL — the reference's own input schema.

The registry queries prove the operator semantics on the driver's star-schema
testdata; this module proves a reference user can feed their actual data
(Invoice/StockCode/Quantity/InvoiceDate/UnitPrice/CustomerID transaction
lines, FIXTURES.md §1.1) through this engine and get the reference's exact
10-column feature table back. Reference parity map per step, all in the one
query of :func:`build_features_and_labels`:

  * validity filter          — ``pipeline/etl.py:35-39`` (``lines``)
  * Amount computed column   — ``etl.py:39`` (``lines``)
  * order rollup             — ``etl.py:42-51`` (``orders``; deterministic
                               ``min`` instead of the reference's
                               order-dependent ``F.first`` for the
                               invoice-constant CustomerID; SURVEY §7)
  * customer history agg     — ``etl.py:66-75``, conditional on
                               ``OrderDate <= cutoff``
  * recent-90d agg           — ``etl.py:87-95``, conditional on the window
  * distinct products        — ``etl.py:78-82``, ``size(collect_set)`` over
                               the pre-cutoff line rows of the union
  * churn label join         — ``etl.py:53-61, 121-124``, a conditional
                               ``max`` over the lookahead orders
  * null-fill + cohort filter— ``etl.py:106-127``
  * final projection         — ``etl.py:130-141``
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame

FEATURE_COLUMNS = [
    "CustomerID",
    "total_orders",
    "total_qty",
    "avg_order_amount",
    "distinct_products",
    "recent90_orders",
    "recency_days",
    "total_amount_log",
    "recent90_amount_log",
    "label",
]

# One aggregation by customer over the union of the invoice rollup's order
# rows (StockCode NULL) and the pre-cutoff line rows (order columns NULL).
# A customer with no order up to the cutoff has a NULL recency_days, so the
# cohort filter drops it as the reference's joins onto the history
# aggregate do.
_FEATURES_SQL = """
WITH lines AS (
  SELECT Invoice, StockCode, Quantity, InvoiceDate, CustomerID,
         Quantity * UnitPrice AS Amount
  FROM {tx}
  WHERE CustomerID IS NOT NULL AND Quantity > 0 AND UnitPrice > 0
), orders AS (
  SELECT MIN(CustomerID) AS CustomerID, MAX(InvoiceDate) AS OrderDate,
         SUM(Amount) AS OrderAmount, SUM(Quantity) AS OrderQty
  FROM lines GROUP BY Invoice
), history AS (
  SELECT CustomerID, OrderDate, OrderAmount, OrderQty,
         CAST(NULL AS STRING) AS StockCode, OrderDate <= :cutoff AS hist
  FROM orders
  UNION ALL
  SELECT CustomerID, NULL, NULL, NULL, StockCode, NULL
  FROM lines WHERE InvoiceDate <= :cutoff
), customers AS (
  SELECT CustomerID,
         COUNT(IF(hist, 1, NULL)) AS total_orders,
         SUM(IF(hist, OrderQty, NULL)) AS total_qty,
         SUM(IF(hist, OrderAmount, NULL)) AS total_amount,
         AVG(IF(hist, OrderAmount, NULL)) AS avg_order_amount,
         size(collect_set(StockCode)) AS distinct_products,
         CAST(datediff(:cutoff, to_date(MAX(IF(hist, OrderDate, NULL)))) AS INT)
           AS recency_days,
         COUNT(IF(hist AND OrderDate > :recent_start, 1, NULL)) AS recent90_orders,
         SUM(IF(hist, IF(OrderDate > :recent_start, OrderAmount, 0.0D), NULL))
           AS recent90_amount,
         MAX(IF(OrderDate > :cutoff AND OrderDate <= :lookahead_end, 1, 0))
           AS future_purchase
  FROM history GROUP BY CustomerID
)
SELECT CustomerID,
       CAST(total_orders AS DOUBLE) AS total_orders,
       COALESCE(CAST(total_qty AS DOUBLE), 0.0D) AS total_qty,
       COALESCE(avg_order_amount, 0.0D) AS avg_order_amount,
       CAST(distinct_products AS DOUBLE) AS distinct_products,
       CAST(recent90_orders AS DOUBLE) AS recent90_orders,
       CAST(recency_days AS DOUBLE) AS recency_days,
       log1p(COALESCE(total_amount, 0.0D)) AS total_amount_log,
       log1p(COALESCE(recent90_amount, 0.0D)) AS recent90_amount_log,
       IF(future_purchase = 1, 0.0D, 1.0D) AS label
FROM customers
WHERE total_orders >= 2 OR recency_days <= 180
"""


def build_features_and_labels(
    tx: DataFrame,
    cutoff: datetime,
    lookahead_days: int = 180,
    recent_days: int = 90,
) -> DataFrame:
    """transactions → the reference's customer feature/label table.

    One parameterized ``spark.sql`` query: the invoice rollup, then a single
    aggregation by customer with no join (two shuffles in all, one raw scan
    per branch of the union), where the reference runs four aggregation and
    join rounds. The cutoff dates are named parameters, so a naive datetime
    converts as ``F.lit`` converts it."""
    return tx.sparkSession.sql(
        _FEATURES_SQL,
        args={
            "cutoff": cutoff,
            "recent_start": cutoff - timedelta(days=recent_days),
            "lookahead_end": cutoff + timedelta(days=lookahead_days),
        },
        tx=tx,
    )
