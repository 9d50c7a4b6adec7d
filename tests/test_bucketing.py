"""Bucketing deletes the join shuffle — the physical-layout claim in
docs/SCALE.md ("Bucketing pays the shuffle once"), asserted on the actual
plan."""

from __future__ import annotations

import pytest

from pyspark_retention_pipeline_spark.plans.inspect import explain_str
from pyspark_retention_pipeline_spark.sources.bucketing import (
    bucket_fact_tables,
    colocated_order_lines,
)
from pyspark_retention_pipeline_spark.tables import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir):
    names = bucket_fact_tables(spark, sf_dir, n_buckets=4, prefix="t_bkt")
    yield names
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed):
    joined = colocated_order_lines(spark, *bucketed)
    plan = explain_str(joined)
    assert "Exchange" not in plan, plan
    # Same row count as the shuffled join over raw parquet.
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()


def test_unbucketed_join_does_exchange(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    plan = explain_str(o.join(li, o.o_orderkey == li.l_orderkey))
    # Raw parquet sides must shuffle (or broadcast at tiny sf) — the contrast
    # that makes the bucketed assertion meaningful.
    assert "Exchange" in plan or "Broadcast" in plan


def test_bucketed_fingerprint_index_shuffles_batch_side_only(spark, sf_dir):
    """The incremental-dedup layout story: the persisted fingerprint index
    reads bucket-aligned (no index-side Exchange) and only the new batch
    shuffles — the historical corpus is never re-shuffled per batch. The
    result matches the layout-agnostic registry query exactly."""
    from pyspark_retention_pipeline_spark.registry import all_queries
    from pyspark_retention_pipeline_spark.sources.bucketing import (
        bucket_fingerprint_index,
        incremental_dedup_against_index,
    )

    tbl = bucket_fingerprint_index(spark, sf_dir, n_buckets=4, table="t_fp_index")
    try:
        out = incremental_dedup_against_index(spark, sf_dir, tbl)
        plan = explain_str(out)
        # exactly ONE exchange: the batch side aligning to the bucket count
        import re

        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
        got = {r["doc_id"] for r in out.collect()}
        want = {
            r["doc_id"]
            for r in all_queries()["incremental_dedup"](spark, sf_dir).collect()
        }
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_join_revenue_joins_without_exchange(spark, sf_dir):
    """The registry query's join subtree is exchange-free once broadcast is
    ruled out — the bucketed layout, not AQE, removes the shuffle."""
    from pyspark_retention_pipeline_spark.operators.sinks import (
        bucketed_join_revenue,
    )

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join_revenue(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("SortMergeJoin")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, join_part[:400]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
