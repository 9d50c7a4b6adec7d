"""TPC-H Q2 / Q11 / Q16 / Q20 shapes over a SYNTHETIC ``partsupp``.

The driver testdata ships no ``partsupp`` table, which left these four
TPC-H shapes uncovered ("18 of 22"). Rather than skip them, both engines
derive the SAME deterministic partsupp from ``part`` × supplier-count with
pure integer arithmetic (TPC-H-style striped supplier assignment: part p is
supplied by the 4 suppliers ``(p + k·(S div 4 + 1)) mod S + 1``), so every
query below is fully oracle-checkable — the derivation is part of the query
on BOTH sides, never materialized, and costs one map-side 4-way explode.

Predicates are adapted to this testdata's vocabulary where the official
columns don't exist (no ``s_comment`` → Q16's complaints exclusion becomes
a deterministic modular stand-in; nations are ``NATION_i``), but each
query's SHAPE — the thing being exercised — is faithful:
  * Q2: per-group argmin over a dimension-filtered join (min-cost supplier
    per part within a region);
  * Q11: group value vs a global-aggregate threshold (important stock);
  * Q16: multi-key distinct-count with a NOT-IN anti-join;
  * Q20: agg-derived semi-join chain (excess stock vs shipped quantity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import money_sum
from ..pins import pin
from ..registry import query
from ..tables import load_table

# Shared SQL prefix: the synthetic partsupp CTE (DuckDB side).
PARTSUPP_CTE = """
    WITH sc AS (SELECT COUNT(*) AS n_supp FROM supplier),
    ps0 AS (
      SELECT p_partkey AS ps_partkey,
             ((p_partkey + k.k * (sc.n_supp // 4 + 1)) % sc.n_supp) + 1 AS ps_suppkey
      FROM part CROSS JOIN generate_series(0, 3) k(k) CROSS JOIN sc
    ),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             ((ps_partkey * 13 + ps_suppkey * 7) % 9999) + 1 AS ps_availqty,
             ROUND(((ps_partkey * 31 + ps_suppkey * 17) % 100000) / 100.0 + 1.0, 2)
               AS ps_supplycost
      FROM ps0
    )
"""


def synthetic_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of ``PARTSUPP_CTE``: |part| × 4 rows from a map-side
    explode against a broadcast 1-row supplier count — no shuffle, no
    materialization, identical integer arithmetic."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    n_supp = load_table(spark, sf_dir, "supplier").agg(
        F.count("*").alias("n_supp")
    )
    ps0 = (
        part.crossJoin(F.broadcast(n_supp))
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
            "n_supp",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (
                    F.col("p_partkey")
                    + F.col("k") * (F.expr("n_supp DIV 4") + F.lit(1))
                )
                % F.col("n_supp")
                + 1
            ).alias("ps_suppkey"),
        )
    )
    return ps0.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 9999 + 1
        ).alias("ps_availqty"),
        F.round(
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 100000)
            / 100.0
            + 1.0,
            2,
        ).alias("ps_supplycost"),
    )


@query(
    "q2_min_cost_supplier",
    oracle=PARTSUPP_CTE
    + """
    , eu AS (
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT ps_partkey, s_name, s_acctbal, ps_supplycost FROM (
      SELECT ps.ps_partkey, eu.s_name, eu.s_acctbal, ps.ps_supplycost,
             MIN(ps.ps_supplycost) OVER (PARTITION BY ps.ps_partkey) AS mn
      FROM partsupp ps
      JOIN eu ON ps.ps_suppkey = eu.s_suppkey
      JOIN part p ON ps.ps_partkey = p.p_partkey
      WHERE p.p_size < 15
    ) WHERE ps_supplycost = mn
    """,
    tags=("tpch", "Q2", "argmin-per-group"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the minimum-cost supplier per small part within one
    region — per-group argmin via a partitioned window-min over the
    region-filtered join (ties kept, as in the official query). The window
    partitions on ps_partkey, so no global sort; the region dimension chain
    (supplier⋈nation⋈region) reduces before it meets partsupp."""
    ps = synthetic_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    eu = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    joined = (
        ps.join(eu, ps.ps_suppkey == eu.s_suppkey)
        .join(
            part.filter(F.col("p_size") < 15).select("p_partkey"),
            ps.ps_partkey == F.col("p_partkey"),
        )
        .select("ps_partkey", "s_name", "s_acctbal", "ps_supplycost")
    )
    mn = F.min("ps_supplycost").over(Window.partitionBy("ps_partkey"))
    return (
        joined.withColumn("mn", mn)
        .filter(F.col("ps_supplycost") == F.col("mn"))
        .drop("mn")
    )


@query(
    "q11_important_stock",
    oracle=PARTSUPP_CTE
    + """
    , nat AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    ), val AS (
      SELECT ps_partkey,
             SUM(CAST(ROUND(ps_supplycost * ps_availqty * 100) AS BIGINT))
               / 100.0 AS value
      FROM partsupp JOIN nat ON ps_suppkey = s_suppkey
      GROUP BY ps_partkey
    )
    SELECT ps_partkey, ROUND(value, 2) AS stock_value
    FROM val
    WHERE value > 2.0 * (SELECT AVG(value) FROM val)
    """,
    tags=("tpch", "Q11", "global-threshold"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value for suppliers of a nation
    group, keeping parts above a global-aggregate threshold (2× the mean —
    scale-invariant, unlike the official 0.0001/SF literal). The threshold
    is a broadcast 1-row aggregate joined in (the top_revenue_suppliers
    pattern), never a second scan; per-part values sum in exact cents."""
    ps = synthetic_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select("s_suppkey")
    )
    cents = F.round(
        F.col("ps_supplycost") * F.col("ps_availqty") * 100
    ).cast("long")
    # Pinned: the part-grain value frame feeds the threshold aggregate AND
    # the final filter; unpinned, the threshold branch re-ran the whole
    # partsupp synthesis + nation join (4 supplier scans in the plan).
    val = pin(
        ps.join(nat, ps.ps_suppkey == nat.s_suppkey)
        .groupBy("ps_partkey")
        .agg((F.sum(cents) / 100.0).alias("value"))
    )
    thresh = val.agg((F.avg("value") * 2.0).alias("thresh"))
    return (
        val.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") > F.col("thresh"))
        .select("ps_partkey", F.round("value", 2).alias("stock_value"))
    )


@query(
    "q16_supplier_part_counts",
    oracle=PARTSUPP_CTE
    + """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON ps_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
    GROUP BY 1, 2, 3
    """,
    tags=("tpch", "Q16", "distinct-count-antijoin"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    with a NOT-IN supplier exclusion (this testdata has no ``s_comment``,
    so the complaints filter becomes a deterministic modular stand-in —
    same anti-join shape). The exclusion is a left-anti join on the tiny
    filtered supplier frame; the part predicates reduce partsupp before
    the exact distinct."""
    ps = synthetic_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    excluded = supplier.filter(F.col("s_suppkey") % 7 == 0).select("s_suppkey")
    kept_parts = part.filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(excluded, ps.ps_suppkey == excluded.s_suppkey, "left_anti")
        .join(kept_parts, ps.ps_partkey == kept_parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_stock",
    oracle=PARTSUPP_CTE
    + """
    , ship AS (
      SELECT l_partkey, l_suppkey, ROUND(SUM(l_quantity), 2) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS n_excess_parts
    FROM partsupp ps
    JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_name LIKE 'large%'
    JOIN ship ON ship.l_partkey = ps.ps_partkey AND ship.l_suppkey = ps.ps_suppkey
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    WHERE ps.ps_availqty > 0.5 * ship.qty
    GROUP BY 1, 2
    """,
    tags=("tpch", "Q20", "agg-semijoin-chain"),
)
def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose available stock of name-matched
    parts exceeds half of what they actually shipped in a year — the
    aggregate-derived join chain (lineitem collapses to (part, supp, qty)
    BEFORE meeting partsupp, so the unbounded fact table is reduced first).
    Output counts qualifying parts per supplier; the quantity comparison
    uses the same rounded sum on both engines."""
    ps = synthetic_partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    ship = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(money_sum("l_quantity").alias("qty"))
    )
    large = part.filter(F.col("p_name").like("large%")).select("p_partkey")
    return (
        ps.join(large, ps.ps_partkey == large.p_partkey)
        .join(
            ship,
            (ship.l_partkey == ps.ps_partkey)
            & (ship.l_suppkey == ps.ps_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .join(supplier, ps.ps_suppkey == supplier.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_excess_parts"))
    )
