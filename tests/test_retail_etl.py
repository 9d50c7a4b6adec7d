"""Reference-schema ETL parity: Online-Retail-shaped transactions through the
full feature/label build, with hand-computed expectations."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark_retention_pipeline_spark.retail import (
    FEATURE_COLUMNS,
    build_features_and_labels,
)

CUTOFF = datetime(2011, 6, 12, 23, 59, 59)

# Three customers with known behavior around the cutoff:
#   C1 — two orders before cutoff (one recent), buys again in lookahead -> retained
#   C2 — two orders before cutoff, silent afterwards -> churned
#   C3 — single old order (fails the cohort filter: 1 order AND recency>180)
#   guest rows (null customer), returns (qty<0) and bad prices are dropped
ROWS = [
    # Invoice, StockCode, Description, Quantity, InvoiceDate, UnitPrice, CustomerID, Country
    ("I1", "A", "x", 2, datetime(2011, 1, 10), 5.0, "C1", "UK"),
    ("I1", "B", "x", 1, datetime(2011, 1, 10), 10.0, "C1", "UK"),
    ("I2", "A", "x", 3, datetime(2011, 5, 20), 5.0, "C1", "UK"),
    ("I3", "C", "x", 1, datetime(2011, 8, 1), 7.0, "C1", "UK"),   # lookahead buy
    ("I4", "A", "x", 1, datetime(2011, 2, 1), 5.0, "C2", "UK"),
    ("I5", "B", "x", 2, datetime(2011, 6, 1), 10.0, "C2", "UK"),
    ("I6", "A", "x", 1, datetime(2010, 1, 1), 5.0, "C3", "UK"),
    ("I7", "A", "x", 4, datetime(2011, 6, 1), 5.0, None, "UK"),   # guest -> dropped
    ("I8", "A", "x", -2, datetime(2011, 6, 1), 5.0, "C2", "UK"),  # return -> dropped
    ("I9", "A", "x", 1, datetime(2011, 6, 1), 0.0, "C2", "UK"),   # bad price -> dropped
]

SCHEMA = (
    "Invoice string, StockCode string, Description string, Quantity int, "
    "InvoiceDate timestamp, UnitPrice double, CustomerID string, Country string"
)


@pytest.fixture(scope="module")
def features(spark):
    tx = spark.createDataFrame(ROWS, SCHEMA)
    return {r["CustomerID"]: r for r in build_features_and_labels(tx, CUTOFF).collect()}


def test_schema_and_cohort(features):
    assert set(features) == {"C1", "C2"}  # C3 filtered by the cohort rule
    for r in features.values():
        assert list(r.asDict()) == FEATURE_COLUMNS


def test_retained_customer_features(features):
    c1 = features["C1"]
    assert c1["label"] == 0.0  # bought in the lookahead window
    assert c1["total_orders"] == 2.0  # I1, I2 (I3 is after cutoff)
    assert c1["total_qty"] == 6.0  # 2+1+3
    assert c1["distinct_products"] == 2.0  # A, B
    assert c1["recent90_orders"] == 1.0  # I2 on 2011-05-20
    # avg of order amounts (I1: 2*5+1*10=20, I2: 15) = 17.5
    assert c1["avg_order_amount"] == pytest.approx(17.5)
    assert c1["recency_days"] == 23.0  # cutoff 6/12 - last order 5/20


def test_churned_customer_features(features):
    c2 = features["C2"]
    assert c2["label"] == 1.0  # silent after cutoff
    assert c2["total_orders"] == 2.0  # I4, I5 (dropped lines don't count)
    assert c2["total_qty"] == 3.0
    assert c2["recent90_orders"] == 1.0  # I5 on 2011-06-01


def test_log_features_consistent(features):
    import math

    c2 = features["C2"]
    total_amount = 1 * 5.0 + 2 * 10.0
    assert c2["total_amount_log"] == pytest.approx(math.log1p(total_amount))
    assert c2["recent90_amount_log"] == pytest.approx(math.log1p(20.0))


# A DuckDB transcription of the reference's etl.py (build_features_and_labels,
# etl.py:33-142): the order rollup, then separate history, distinct-product,
# recent-90-day and lookahead rounds joined onto the history aggregate. The
# invoice-constant CustomerID is ``min`` (SURVEY §7), as in the engine.
_REFERENCE_ETL_SQL = """
WITH lines AS (
  SELECT *, Quantity * UnitPrice AS Amount FROM tx
  WHERE CustomerID IS NOT NULL AND Quantity > 0 AND UnitPrice > 0
), orders AS (
  SELECT Invoice, MAX(InvoiceDate) AS OrderDate, MIN(CustomerID) AS CustomerID,
         SUM(Amount) AS OrderAmount, SUM(Quantity) AS OrderQty
  FROM lines GROUP BY Invoice
), hist AS (
  SELECT * FROM orders WHERE OrderDate <= TIMESTAMP '{cutoff}'
), agg AS (
  SELECT CustomerID, COUNT(*) AS total_orders, SUM(OrderQty) AS total_qty,
         SUM(OrderAmount) AS total_amount, AVG(OrderAmount) AS avg_order_amount,
         CAST(TIMESTAMP '{cutoff}' AS DATE) - CAST(MAX(OrderDate) AS DATE) AS recency_days
  FROM hist GROUP BY CustomerID
), prod AS (
  SELECT CustomerID, COUNT(DISTINCT StockCode) AS distinct_products
  FROM lines WHERE InvoiceDate <= TIMESTAMP '{cutoff}' GROUP BY CustomerID
), recent AS (
  SELECT CustomerID, COUNT(*) AS recent90_orders, SUM(OrderAmount) AS recent90_amount
  FROM hist WHERE OrderDate > TIMESTAMP '{recent_start}' GROUP BY CustomerID
), future AS (
  SELECT DISTINCT CustomerID, 1 AS has_future_purchase FROM orders
  WHERE OrderDate > TIMESTAMP '{cutoff}' AND OrderDate <= TIMESTAMP '{lookahead_end}'
)
SELECT a.CustomerID,
       CAST(COALESCE(a.total_orders, 0) AS DOUBLE) AS total_orders,
       CAST(COALESCE(a.total_qty, 0) AS DOUBLE) AS total_qty,
       COALESCE(a.avg_order_amount, 0.0) AS avg_order_amount,
       CAST(COALESCE(p.distinct_products, 0) AS DOUBLE) AS distinct_products,
       CAST(COALESCE(r.recent90_orders, 0) AS DOUBLE) AS recent90_orders,
       CAST(a.recency_days AS DOUBLE) AS recency_days,
       ln(1 + COALESCE(a.total_amount, 0.0)) AS total_amount_log,
       ln(1 + COALESCE(r.recent90_amount, 0.0)) AS recent90_amount_log,
       CASE WHEN f.has_future_purchase IS NULL THEN 1.0 ELSE 0.0 END AS label
FROM agg a
LEFT JOIN prod p ON a.CustomerID = p.CustomerID
LEFT JOIN recent r ON a.CustomerID = r.CustomerID
LEFT JOIN future f ON a.CustomerID = f.CustomerID
WHERE a.total_orders >= 2 OR a.recency_days <= 180
"""


def _oracle_rows():
    """The edge cases named below plus seeded random lines around the cutoff."""
    import numpy as np

    from datetime import timedelta

    rows = [
        # an invoice with lines on both sides of the cutoff: its order date is
        # the later line's, a lookahead order, but its early line is history
        ("E1", "A", "x", 1, datetime(2011, 3, 1), 4.0, "D1", "UK"),
        ("E2", "B", "x", 2, datetime(2011, 5, 1), 3.5, "D1", "UK"),
        ("E3", "C", "x", 1, datetime(2011, 6, 12, 22), 2.0, "D1", "UK"),
        ("E3", "D", "x", 3, datetime(2011, 6, 13, 1), 2.0, "D1", "UK"),
        # an invoice whose lines carry two CustomerIDs: the order is D2's (min),
        # D3's line still counts among D3's products
        ("E4", "A", "x", 1, datetime(2011, 4, 2), 1.25, "D2", "UK"),
        ("E4", "Z", "x", 5, datetime(2011, 4, 2), 1.25, "D3", "UK"),
        ("E5", "B", "x", 1, datetime(2010, 12, 24), 8.0, "D3", "UK"),
        ("E6", "C", "x", 2, datetime(2011, 6, 1), 8.0, "D3", "UK"),
        # a customer whose only orders fall in the lookahead window
        ("E7", "A", "x", 4, datetime(2011, 7, 20), 6.0, "D4", "UK"),
        ("E8", "B", "x", 1, datetime(2011, 11, 2), 6.0, "D4", "UK"),
        # guest lines, returns and zero prices are dropped
        ("E9", "A", "x", 4, datetime(2011, 6, 1), 5.0, None, "UK"),
        ("E10", "A", "x", -2, datetime(2011, 6, 2), 5.0, "D2", "UK"),
        ("E11", "B", "x", 1, datetime(2011, 6, 3), 0.0, "D2", "UK"),
        ("E12", "Q", "x", 2, datetime(2011, 2, 3), 0.0, "D5", "UK"),
    ]
    rng = np.random.default_rng(7)
    start = datetime(2010, 6, 1)
    for inv in range(300):
        customer = f"R{int(rng.integers(40)):02d}" if rng.random() > 0.1 else None
        day = start + timedelta(seconds=int(rng.integers(0, 560 * 86_400)))
        for line in range(int(rng.integers(1, 6))):
            qty = int(rng.integers(-1, 12))
            price = float(rng.choice([0.0, 0.55, 1.25, 2.1, 3.75, 12.5, 0.29]))
            when = day + timedelta(hours=int(rng.integers(0, 30)))
            who = customer if rng.random() > 0.05 else f"R{int(rng.integers(40)):02d}"
            rows.append((f"N{inv}", f"S{int(rng.integers(60))}", "x", qty, when, price, who, "UK"))
    return rows


def test_features_match_reference_etl_oracle(spark, sf_dir):
    """The one-aggregation feature query against a DuckDB transcription of the
    reference's joined rounds, every feature within 1e-12 relative."""
    import math

    import pandas as pd

    from datetime import timedelta

    from pyspark_retention_pipeline_spark.testing import duckdb_connection

    rows = _oracle_rows()
    got = {
        r["CustomerID"]: r
        for r in build_features_and_labels(spark.createDataFrame(rows, SCHEMA), CUTOFF).collect()
    }
    con = duckdb_connection(sf_dir)
    con.register("tx", pd.DataFrame(rows, columns=[c.split()[0] for c in SCHEMA.split(", ")]))
    sql = _REFERENCE_ETL_SQL.format(
        cutoff=CUTOFF,
        recent_start=CUTOFF - timedelta(days=90),
        lookahead_end=CUTOFF + timedelta(days=180),
    )
    want = {r[0]: r for r in con.execute(sql).fetchall()}
    assert {"D1", "D2", "D3"} <= set(want) and "D4" not in want and "D5" not in want
    assert len(want) > 20 and set(got) == set(want)
    for key, expected in want.items():
        for name, value in zip(FEATURE_COLUMNS[1:], expected[1:]):
            assert math.isclose(got[key][name], value, rel_tol=1e-12), (key, name)
    assert got["D1"]["label"] == 0.0 and got["D1"]["distinct_products"] == 3.0
    assert got["D3"]["distinct_products"] == 3.0 and got["D3"]["total_orders"] == 2.0


def test_features_plan_is_one_aggregation(spark):
    """The feature plan shuffles twice, by invoice and by customer, with no
    join and no broadcast."""
    from pyspark_retention_pipeline_spark.plans.inspect import explain_str, shuffle_count

    features = build_features_and_labels(spark.createDataFrame(ROWS, SCHEMA), CUTOFF)
    plan = explain_str(features)
    assert shuffle_count(features) <= 2
    assert "Join" not in plan and "Broadcast" not in plan
