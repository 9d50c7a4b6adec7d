"""Seeded input generators. The same seed always yields the same inputs.

* :func:`write_transactions` — Online-Retail-shaped transaction lines
  (Invoice/StockCode/Quantity/InvoiceDate/UnitPrice/CustomerID), made inside
  Spark from ``range`` + seeded ``xxhash64`` so no data passes through the
  driver. Guests, returns and zero prices exercise the validity filter, and
  churners stop buying before the cutoff so the model has signal to learn.
* :func:`write_catalog` — the star schema plus ``events``/``documents``/
  ``embeddings`` that the registry queries read, one single-row-group parquet
  file per table (the layout the package's loaders are tuned for), with the
  value domains of the package's test tables.
* :func:`scoring_records` — serving payloads, including missing, unknown and
  non-numeric keys so request coercion is exercised.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Transactions span 2009-12-01 .. 2011-12-09 (UTC), as in Online Retail II.
# The epoch comes from an aware datetime: a naive one would shift the data
# with the host's time zone.
TX_START = datetime(2009, 12, 1, tzinfo=timezone.utc)
TX_SPAN_S = int((datetime(2011, 12, 9, tzinfo=timezone.utc) - TX_START).total_seconds())
# Churn cutoff of the reference pipeline (its Makefile: 2011-06-12).
CUTOFF = datetime(2011, 6, 12, 23, 59, 59)
_CUTOFF_OFFSET_S = int(
    (CUTOFF.replace(tzinfo=timezone.utc) - TX_START).total_seconds()
)
LINES_PER_INVOICE = 10
LINES_PER_CUSTOMER = 128
CHURNER_PCT = 35
GUEST_PCT = 15


def write_transactions(spark, path: str, n_lines: int, seed: int) -> None:
    """Write ``n_lines`` transaction lines to parquet at ``path``."""
    from pyspark.sql import functions as F

    n_cust = max(50, n_lines // LINES_PER_CUSTOMER)

    def h(col, stream: int):
        # One independent hash stream per (seed, stream); the seed is mixed
        # into every row hash.
        return F.xxhash64(col, F.lit(seed), F.lit(stream))

    inv = (F.col("id") / LINES_PER_INVOICE).cast("long")
    # Skewed customer popularity: customer c draws ~1/sqrt(c) of the invoices,
    # so some customers have too few orders for a confident label.
    u = F.pmod(h(inv, 1), F.lit(1_000_000)) / F.lit(1_000_000.0)
    cust = (u * u * F.lit(n_cust)).cast("long")
    churner = F.pmod(h(cust, 2), F.lit(100)) < CHURNER_PCT
    # A churner's last purchase falls somewhere before the cutoff; everyone
    # else buys across the whole span.
    min_life = 30 * 86_400
    span = F.when(
        churner,
        F.lit(min_life) + F.pmod(h(cust, 3), F.lit(_CUTOFF_OFFSET_S - min_life)),
    ).otherwise(F.lit(TX_SPAN_S))
    date = F.timestamp_seconds(F.lit(int(TX_START.timestamp())) + F.pmod(h(inv, 4), span))
    line = h(F.col("id"), 5)
    guest = F.pmod(h(inv, 6), F.lit(100)) < GUEST_PCT
    spark.range(n_lines).select(
        F.concat(F.lit("I"), inv.cast("string")).alias("Invoice"),
        F.concat(F.lit("SKU"), F.pmod(line, F.lit(400)).cast("string")).alias("StockCode"),
        F.lit("item").alias("Description"),
        F.when(F.pmod(line, 100) < 2, -1)
        .otherwise(1 + F.pmod(line, F.lit(12)))
        .cast("int")
        .alias("Quantity"),
        date.alias("InvoiceDate"),
        F.when(F.pmod(line, 100) == 2, 0.0)
        .otherwise(F.round((1 + F.pmod(line, F.lit(5000))) / 100.0, 2))
        .alias("UnitPrice"),
        F.when(guest, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("C"), cust.cast("string")))
        .alias("CustomerID"),
        F.lit("United Kingdom").alias("Country"),
    ).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------- catalog

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_STATUS = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMB_DIM = 64
_EMB_CLASSES = 10
_DUP_SHARE = 0.05


def _ts_us(start: datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf 0.01: 60k lineitems,
    15k orders, 10k events, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_lines = 4 * n_orders
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    day = 86_400
    order_span = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days + 1
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": _pick(rng, _STATUS, n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts_us(
                datetime(1995, 1, 1), rng.integers(0, order_span, n_orders) * day
            ),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        }
    )
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
            "l_linestatus": _pick(rng, ["F", "O"], n_lines),
            "l_shipdate": _ts_us(
                datetime(1995, 1, 2), rng.integers(0, order_span + 90, n_lines) * day
            ),
        }
    )
    texts = [
        " ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    # Near-duplicates: a share of the documents copy an earlier one plus a
    # marker word, so the dedup queries have pairs to find.
    for i in np.flatnonzero(rng.random(n_docs) < _DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    centers = rng.normal(size=(_EMB_CLASSES, _EMB_DIM))
    labels = rng.integers(0, _EMB_CLASSES, n_emb)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    ev_offsets = np.sort(rng.uniform(0, 30 * day, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": _ts_us(datetime(2024, 1, 1), ev_offsets),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    return t


def write_catalog(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every catalog table to ``out_dir/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------- serving

def scoring_records(feature_cols: list[str], n: int, seed: int) -> list[dict]:
    """``n`` feature payloads: mostly plausible values, with a share of
    missing keys, unknown keys, numeric strings and non-numeric values."""
    rng = np.random.default_rng([seed, 11])
    scale = {
        "total_orders": 20.0,
        "total_qty": 400.0,
        "avg_order_amount": 900.0,
        "distinct_products": 80.0,
        "recent90_orders": 5.0,
        "recency_days": 500.0,
        "total_amount_log": 12.0,
        "recent90_amount_log": 10.0,
    }
    out = []
    for _ in range(n):
        rec: dict = {}
        for c in feature_cols:
            r = rng.random()
            v = round(float(rng.random() * scale.get(c, 10.0)), 4)
            if r < 0.05:
                continue  # missing -> 0.0
            if r < 0.08:
                rec[c] = "n/a"  # non-numeric -> 0.0
            elif r < 0.12:
                rec[c] = str(v)  # numeric string -> float
            elif r < 0.14:
                rec[c] = None
            else:
                rec[c] = v
        if rng.random() < 0.2:
            rec["unknown_field"] = "ignored"
        out.append(rec)
    return out
