"""Decision-threshold analysis as single-pass aggregations (SURVEY.md §2.11
M9 + §2.4 A7).

The reference sweeps 101 thresholds with 3 filter+count actions each — 303
Spark jobs (``pipeline/train.py:58-102``, flagged in SURVEY §4 as its hottest
anti-pattern). Here the whole sweep is ONE job: explode a literal threshold
array against each scored row (a map-side expansion, no join), then a single
conditional aggregation groups by threshold. At 100 TB this is one scan + one
101-group shuffle instead of 303 scans.

Scores are deterministic key-derived pseudo-probabilities so the DuckDB oracle
reproduces them exactly; the ML tier plugs real model scores into the same
operators (see operators/mlops.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import CUTOFF, LOOKAHEAD_END
from ..registry import query

# Shared CTE: churn labels + key-derived score, identical to joins.label_antijoin.
_SCORED_CTE = f"""
    WITH hist AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate <= TIMESTAMP '{CUTOFF}'
    ), fut AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate > TIMESTAMP '{CUTOFF}'
        AND o_orderdate <= TIMESTAMP '{LOOKAHEAD_END}'
    ), scored AS (
      SELECT h.custkey,
             CASE WHEN f.custkey IS NULL THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS label,
             CAST(h.custkey % 100 AS DOUBLE) / CAST(100 AS DOUBLE) AS score
      FROM hist h LEFT JOIN fut f ON h.custkey = f.custkey
    )
"""

# Confusion-cell sweep over 101 thresholds. SUM(int) is HUGEINT in DuckDB —
# cast to BIGINT so the result dtype matches Spark's long.
_SWEEP_SELECT = """
      SELECT CAST(g.i AS DOUBLE) / CAST(100 AS DOUBLE) AS t,
             CAST(SUM(CASE WHEN s.score >= CAST(g.i AS DOUBLE) / CAST(100 AS DOUBLE)
                            AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.score >= CAST(g.i AS DOUBLE) / CAST(100 AS DOUBLE)
                            AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s.score <  CAST(g.i AS DOUBLE) / CAST(100 AS DOUBLE)
                            AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN s.score <  CAST(g.i AS DOUBLE) / CAST(100 AS DOUBLE)
                            AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored s CROSS JOIN generate_series(0, 100) g(i)
      GROUP BY g.i
"""

# Precision/recall/F1 with the reference's exact guard semantics
# (``pipeline/train.py:88-90``): denominators clamped to >= 1, and the F1
# denominator carries a 1e-9 epsilon.
_METRICS_SELECT = """
    SELECT t, tp, fp, fn, tn,
           tp / GREATEST(tp + fp, 1) AS precision,
           tp / GREATEST(tp + fn, 1) AS recall,
           (2 * (tp / GREATEST(tp + fp, 1)) * (tp / GREATEST(tp + fn, 1)))
             / ((tp / GREATEST(tp + fp, 1)) + (tp / GREATEST(tp + fn, 1)) + 1e-9) AS f1
    FROM sweep
"""


def _scored_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .joins import label_antijoin

    labels = label_antijoin(spark, sf_dir)
    return labels.withColumn(
        "score", (F.col("custkey") % 100).cast("double") / F.lit(100.0)
    )


def confusion_cells(hit: Column, pos: Column) -> list[Column]:
    """The four confusion cells tp/fp/fn/tn as conditional-sum aggregates of
    a predicted-positive predicate ``hit`` and a true-positive one ``pos``."""
    return [
        F.sum(F.when(hit & pos, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(hit & ~pos, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~hit & pos, 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~hit & ~pos, 1).otherwise(0)).alias("tn"),
    ]


def sweep_scores(scored: DataFrame, n_steps: int = 100) -> DataFrame:
    """(label, score) frame → confusion cells per threshold t in {0..n}/n in
    ONE aggregation pass (the reference's 303-job loop collapsed; shared by
    the synthetic-score query below and the real-model sweeps in
    operators/mlops.py and ml/workflow.py)."""
    expanded = scored.select(
        "label",
        "score",
        F.explode(F.sequence(F.lit(0), F.lit(n_steps))).alias("i"),
    ).withColumn("t", F.col("i").cast("double") / F.lit(float(n_steps)))
    hit = F.col("score") >= F.col("t")
    return expanded.groupBy("t").agg(*confusion_cells(hit, F.col("label") == 1))


@query("threshold_sweep", oracle=_SCORED_CTE + _SWEEP_SELECT, tags=("M9", "A7"))
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """101-threshold confusion sweep in one aggregation pass."""
    return sweep_scores(_scored_labels(spark, sf_dir))


def with_metrics(sweep: DataFrame) -> DataFrame:
    """Add precision/recall/F1 columns to a confusion-cell sweep."""
    precision = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    recall = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return (
        sweep.withColumn("precision", precision)
        .withColumn("recall", recall)
        .withColumn(
            "f1",
            (2 * F.col("precision") * F.col("recall"))
            / (F.col("precision") + F.col("recall") + F.lit(1e-9)),
        )
    )


def pick_best(curve: DataFrame, metric: str) -> DataFrame:
    """The one row of ``curve`` with the highest ``metric``, the lowest ``t``
    among ties — the reference's strict ``>`` over ascending thresholds
    (``pipeline/train.py:81-100``)."""
    return curve.orderBy(F.col(metric).desc(), F.col("t").asc()).limit(1)


@query(
    "threshold_curve",
    oracle=_SCORED_CTE + ", sweep AS (" + _SWEEP_SELECT + ")" + _METRICS_SELECT,
    tags=("M9",),
)
def threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full precision/recall/F1 curve (the reference's
    ``docs/threshold_curve.csv`` artifact, computed in one pass)."""
    return with_metrics(threshold_sweep(spark, sf_dir))


@query(
    "best_threshold",
    oracle=(
        _SCORED_CTE
        + ", sweep AS ("
        + _SWEEP_SELECT
        + "), curve AS ("
        + _METRICS_SELECT
        + ") SELECT t, precision, recall, f1 FROM curve ORDER BY f1 DESC, t ASC LIMIT 1"
    ),
    tags=("M9",),
)
def best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-F1 threshold with the reference's tie-breaking: a strictly
    greater F1 is required to move off the lowest best threshold
    (``pipeline/train.py:81-100``) — equivalently ORDER BY f1 DESC, t ASC."""
    curve = threshold_curve(spark, sf_dir)
    return pick_best(curve.select("t", "precision", "recall", "f1"), "f1")


@query(
    "confusion_matrix",
    oracle=_SCORED_CTE
    + """
    SELECT CAST(SUM(CASE WHEN score >= CAST(0.46 AS DOUBLE) AND label = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score >= CAST(0.46 AS DOUBLE) AND label = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score <  CAST(0.46 AS DOUBLE) AND label = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN score <  CAST(0.46 AS DOUBLE) AND label = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / GREATEST(COUNT(*), 1) AS pos_rate
    FROM scored
    """,
    tags=("A7",),
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix at the default threshold as ONE conditional
    aggregation — the reference runs 4 filter+count jobs plus a recount
    (``pipeline/eval.py:74-82``); this is the §4-mandated single-pass rewrite."""
    scored = _scored_labels(spark, sf_dir)
    hit = F.col("score") >= F.lit(0.46)
    pos = F.col("label") == 1
    return scored.agg(
        *confusion_cells(hit, pos),
        (F.sum(F.when(pos, 1).otherwise(0)) / F.greatest(F.count("*"), F.lit(1))).alias(
            "pos_rate"
        ),
    )
