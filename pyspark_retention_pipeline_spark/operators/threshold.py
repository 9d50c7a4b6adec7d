"""Decision-threshold analysis as single-pass aggregations (SURVEY.md §2.11
M9 + §2.4 A7).

The reference sweeps 101 thresholds with 3 filter+count actions each — 303
Spark jobs (``pipeline/train.py:58-102``, flagged in SURVEY §4 as its hottest
anti-pattern). Here the whole sweep is ONE job: explode a literal threshold
array against each scored row (a map-side expansion, no join), then a single
conditional aggregation groups by threshold. At 100 TB this is one scan + one
101-group shuffle instead of 303 scans.

Both AUCs are one query too (:func:`auc_metrics`): a window over the distinct
scores, where MLlib's evaluator runs about five jobs per metric.

Scores are deterministic key-derived pseudo-probabilities so the DuckDB oracle
reproduces them exactly; the ML tier plugs real model scores into the same
operators (see operators/mlops.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import CUTOFF, LOOKAHEAD_END
from ..exprs import sql_double
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


# Both AUCs of a (label, score) relation ``{scored}`` in one query, as
# MLlib's BinaryClassificationMetrics computes them without binning: one
# curve point per distinct score, descending, from cumulative counts (a
# window over the distinct scores), each point's predecessor from the counts
# before its group; the trapezoids (x2 − x1)(y2 + y1)/2 summed. ROC runs
# from (0, 0) to (1, 1); PR starts at (0, precision at the first score).
# The evaluator's guards: FPR and recall are 0 when their class is empty,
# precision is 1 when nothing is predicted positive.
_AUC_SELECT = """
    SELECT SUM((fpr - fpr0) * (tpr + tpr0) / 2) + (1 - MAX(fpr)) * (1 + MAX(tpr)) / 2
             AS areaUnderROC,
           SUM((tpr - tpr0) * (prec + CASE WHEN tp0 + fp0 = 0 THEN prec
                                           ELSE tp0 / (tp0 + fp0) END) / 2)
             AS areaUnderPR
    FROM (
      SELECT tp0, fp0,
             CASE WHEN n = 0 THEN 0 ELSE fp / n END AS fpr,
             CASE WHEN n = 0 THEN 0 ELSE fp0 / n END AS fpr0,
             CASE WHEN p = 0 THEN 0 ELSE tp / p END AS tpr,
             CASE WHEN p = 0 THEN 0 ELSE tp0 / p END AS tpr0,
             CASE WHEN tp + fp = 0 THEN 1 ELSE tp / (tp + fp) END AS prec
      FROM (
        SELECT tp, fp, tp - pos AS tp0, fp - neg AS fp0, p, n
        FROM (
          SELECT pos, neg,
                 CAST(SUM(pos) OVER w AS DOUBLE) AS tp,
                 CAST(SUM(neg) OVER w AS DOUBLE) AS fp,
                 CAST(SUM(pos) OVER () AS DOUBLE) AS p,
                 CAST(SUM(neg) OVER () AS DOUBLE) AS n
          FROM (
            SELECT score,
                   SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
                   SUM(CASE WHEN label = 1 THEN 0 ELSE 1 END) AS neg
            FROM {scored} GROUP BY score
          ) AS g
          WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ) AS c
      ) AS d
    ) AS pts
"""


def _scored_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .joins import label_antijoin

    labels = label_antijoin(spark, sf_dir)
    return labels.withColumn(
        "score", (F.col("custkey") % 100).cast("double") / F.lit(100.0)
    )


def confusion_cells(hit: str, pos: str) -> list[Column]:
    """The four confusion cells tp/fp/fn/tn as conditional-sum aggregates of
    a predicted-positive predicate ``hit`` and a true-positive one ``pos``,
    both SQL text."""
    miss, neg = f"NOT ({hit})", f"NOT ({pos})"
    cells = (("tp", hit, pos), ("fp", hit, neg), ("fn", miss, pos), ("tn", miss, neg))
    return [F.expr(f"SUM(IF(({h}) AND ({p}), 1, 0)) AS {name}") for name, h, p in cells]


def sweep_scores(scored: DataFrame, n_steps: int = 100) -> DataFrame:
    """(label, score) frame → confusion cells per threshold t in {0..n}/n in
    ONE aggregation pass (the reference's 303-job loop collapsed; shared by
    the synthetic-score query below and the real-model sweeps in
    operators/mlops.py and ml/workflow.py): one projection explodes the
    threshold indices, one aggregation groups by t."""
    t = f"CAST(i AS DOUBLE) / {sql_double(n_steps)}"
    expanded = scored.selectExpr("label", "score", f"explode(sequence(0, {int(n_steps)})) AS i")
    return expanded.groupBy(F.expr(t).alias("t")).agg(
        *confusion_cells(f"score >= {t}", "label = 1")
    )


@query("threshold_sweep", oracle=_SCORED_CTE + _SWEEP_SELECT, tags=("M9", "A7"))
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """101-threshold confusion sweep in one aggregation pass."""
    return sweep_scores(_scored_labels(spark, sf_dir))


def with_metrics(sweep: DataFrame) -> DataFrame:
    """Add precision/recall/F1 columns to a confusion-cell sweep, in one
    projection."""
    return sweep.selectExpr(
        "*",
        "tp / GREATEST(tp + fp, 1) AS precision",
        "tp / GREATEST(tp + fn, 1) AS recall",
        f"2 * precision * recall / (precision + recall + {sql_double(1e-9)}) AS f1",
    )


def score_curve(scored: DataFrame) -> DataFrame:
    """The 101-threshold confusion sweep with precision/recall/F1 of a
    frame of real model scores: ``label`` and ``p_churn`` (as
    :func:`..ml.score_frame` returns them), swept as the score."""
    return with_metrics(sweep_scores(scored.selectExpr("label", "p_churn AS score")))


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


def auc_metrics(scored: DataFrame) -> DataFrame:
    """(label, score) frame → one row of ``areaUnderROC`` and ``areaUnderPR``,
    the values of MLlib's ``BinaryClassificationEvaluator`` on the same
    scores (within float summation order), in one query: one aggregation by
    score and one window over the distinct scores, in a single partition.

    The evaluator is exact only below 2000 distinct scores: from there its
    default ``numBins=1000`` merges runs of scores within each partition, so
    its curve depends on the partitioning. This operator stays exact at
    any size. SQL groups -0.0 with 0.0, where the evaluator, keyed by boxed
    doubles, draws two points."""
    return scored.sparkSession.sql(_AUC_SELECT, scored=scored)


# Order-dependent double sums on both sides, rounded at a fixed scale
# (registry convention).
@query(
    "auc_metrics",
    oracle=_SCORED_CTE
    + "SELECT ROUND(areaUnderROC, 12) AS areaUnderROC, ROUND(areaUnderPR, 12) AS areaUnderPR"
    + " FROM ("
    + _AUC_SELECT.format(scored="scored")
    + ") AS aucs",
    tags=("M8",),
)
def auc_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both AUCs of the key-derived scores in one window query (100 distinct
    scores, heavily tied; :func:`auc_metrics`)."""
    return auc_metrics(_scored_labels(spark, sf_dir)).select(
        F.round("areaUnderROC", 12).alias("areaUnderROC"),
        F.round("areaUnderPR", 12).alias("areaUnderPR"),
    )


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
    return scored.agg(
        *confusion_cells(f"score >= {sql_double(0.46)}", "label = 1"),
        F.expr("SUM(IF(label = 1, 1, 0)) / GREATEST(COUNT(*), 1) AS pos_rate"),
    )
