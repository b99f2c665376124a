"""Two-level classification metrics — the engine's flagship query family.

Re-expresses the reference's offline scorer end-to-end (SURVEY.md §3.4):
``evaluate.py:5-24`` joins predictions to ground truth on ``vid`` and
``util.py:136-156`` computes micro/macro F1 + accuracy at two category
levels (lv2 = the 200-way label, lv1 = its prefix rollup) and averages four
F1s into ``mean_f1``. Here the ground truth is ``embeddings.label`` (lv2,
0..9), lv1 is the ``label div 5`` rollup (analog of
``category_id_map.py:34-36``'s 2-char prefix), and predictions are a
deterministic perturbation so the metric values are fixed.

Spark-first notes: macro-F1 needs three tiny aggregates (per-true-class
support, per-predicted-class support, per-class true positives) full-outer
joined on the class id — no cross join, no UDF; every aggregate is a
map-side-combinable ``groupBy().count()``. For micro F1 on single-label
multiclass, micro-F1 == accuracy, so it is a single global average. At 100 TB
the only shuffle is by class id (|classes| rows — trivially small), and the
final join is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wx20222_bigdata_spark.catalog import load_table
from wx20222_bigdata_spark.registry import query

def _pred():
    """Deterministic prediction column: flip ~1/7 of rows to the next class.
    (Analog of scoring a trained model; keeps metric values stable for tests.)"""
    return F.when(F.col("vec_id") % 7 == 0, (F.col("label") + 1) % 10).otherwise(
        F.col("label")
    )


def predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction/ground-truth pairs at two category levels.

    Mirrors the CSV-join stage of ``evaluate.py:12-22`` (inner join on vid)
    except truth and preds are derived from one table, so the join is implicit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("lv2"),
        _pred().alias("pred_lv2"),
        F.expr("label div 5").cast("int").alias("lv1"),
        F.floor(_pred() / 5).cast("int").alias("pred_lv1"),
    )


def macro_f1(preds: DataFrame, truth: str, pred: str) -> DataFrame:
    """Per-class F1 averaged over classes (sklearn ``average='macro'``,
    ``util.py:143,145``). Returns a 1-row DataFrame with column ``f1``.

    Uses the identity 2*TP + FP + FN = support_true + support_pred, and
    computes all three per-class counts in ONE pass: each row is unpivoted
    into a truth-side contribution (n_true, and tp when truth == pred) and
    a pred-side contribution (n_pred), so one map-side-combinable groupBy
    on the class id replaces three aggregates full-outer-joined on it.
    Full-outer joins cannot broadcast, so the join form ran as three fact
    scans + two sort-merge joins (r12 plan audit: 11 shuffle stages, 8 SMJ
    operators for the flagship); this form is one scan, one |classes|-row
    exchange, zero joins. Classes appearing only among predictions still
    surface (their pred-side struct carries the class id), matching the
    full-outer semantics; the per-class arithmetic is unchanged
    (2.0 * tp / (n_true + n_pred) over the same integer counts).

    Class ids must be non-NULL: the unpivot would group NULL truth and
    pred ids into ONE class row, where the full-outer-join form (and
    the DuckDB oracles) keep two. A NULL id raises inside the plan
    (``raise_error`` in the same projection — no extra job); filter
    nulls on both engines first."""

    def class_id(c: str):
        return F.coalesce(
            F.col(c), F.raise_error(F.lit(f"macro_f1: NULL class id in {c!r}"))
        )

    per_class = (
        preds.select(
            F.explode(
                F.array(
                    F.struct(
                        class_id(truth).alias("c"),
                        F.lit(1).alias("t"),
                        F.lit(0).alias("p"),
                        F.when(F.col(truth) == F.col(pred), 1)
                        .otherwise(0)
                        .alias("tp"),
                    ),
                    F.struct(
                        class_id(pred).alias("c"),
                        F.lit(0).alias("t"),
                        F.lit(1).alias("p"),
                        F.lit(0).alias("tp"),
                    ),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.c"))
        .agg(
            F.sum("x.t").alias("n_true"),
            F.sum("x.p").alias("n_pred"),
            F.sum("x.tp").alias("tp"),
        )
        .select(
            (
                2.0 * F.col("tp") / (F.col("n_true") + F.col("n_pred"))
            ).alias("class_f1")
        )
    )
    return per_class.agg(F.avg("class_f1").alias("f1"))


@query(
    "flagship_two_level_metrics",
    oracle="""
WITH preds AS (
  SELECT vec_id AS vid,
         label AS lv2,
         CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10 ELSE label END AS pred_lv2,
         label // 5 AS lv1,
         (CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10 ELSE label END) // 5 AS pred_lv1
  FROM embeddings
),
l2t AS (SELECT lv2 AS c, COUNT(*) AS n_true FROM preds GROUP BY 1),
l2p AS (SELECT pred_lv2 AS c, COUNT(*) AS n_pred FROM preds GROUP BY 1),
l2tp AS (SELECT lv2 AS c, COUNT(*) AS tp FROM preds WHERE lv2 = pred_lv2 GROUP BY 1),
l2 AS (
  SELECT AVG(2.0 * COALESCE(tp, 0) / (COALESCE(n_true, 0) + COALESCE(n_pred, 0))) AS f1
  FROM l2t FULL JOIN l2p USING (c) FULL JOIN l2tp USING (c)
),
l1t AS (SELECT lv1 AS c, COUNT(*) AS n_true FROM preds GROUP BY 1),
l1p AS (SELECT pred_lv1 AS c, COUNT(*) AS n_pred FROM preds GROUP BY 1),
l1tp AS (SELECT lv1 AS c, COUNT(*) AS tp FROM preds WHERE lv1 = pred_lv1 GROUP BY 1),
l1 AS (
  SELECT AVG(2.0 * COALESCE(tp, 0) / (COALESCE(n_true, 0) + COALESCE(n_pred, 0))) AS f1
  FROM l1t FULL JOIN l1p USING (c) FULL JOIN l1tp USING (c)
),
acc AS (
  SELECT AVG(CASE WHEN lv1 = pred_lv1 THEN 1.0 ELSE 0.0 END) AS lv1_acc,
         AVG(CASE WHEN lv2 = pred_lv2 THEN 1.0 ELSE 0.0 END) AS lv2_acc
  FROM preds
)
SELECT ROUND(acc.lv1_acc, 6) AS lv1_acc,
       ROUND(acc.lv2_acc, 6) AS lv2_acc,
       ROUND(l1.f1, 6) AS lv1_f1_macro,
       ROUND(l2.f1, 6) AS lv2_f1_macro,
       ROUND((acc.lv1_acc + acc.lv2_acc + l1.f1 + l2.f1) / 4, 6) AS mean_f1
FROM acc, l1, l2
""",
)
def flagship_two_level_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A3+P5: the full ``evaluate`` metric dict (``util.py:136-156``)
    as one Spark job — accuracies at both levels, macro F1 at both levels,
    and mean_f1 (micro-F1 == accuracy for single-label multiclass, so the
    mean of four F1s uses the two accuracies as the micro terms)."""
    preds = predictions(spark, sf_dir)
    acc = preds.agg(
        F.avg(F.when(F.col("lv1") == F.col("pred_lv1"), 1.0).otherwise(0.0)).alias(
            "lv1_acc"
        ),
        F.avg(F.when(F.col("lv2") == F.col("pred_lv2"), 1.0).otherwise(0.0)).alias(
            "lv2_acc"
        ),
    )
    l1 = macro_f1(preds, "lv1", "pred_lv1").withColumnRenamed("f1", "lv1_f1")
    l2 = macro_f1(preds, "lv2", "pred_lv2").withColumnRenamed("f1", "lv2_f1")
    # one-row aggregates: explicit broadcast hint (the repo-wide benign
    # crossJoin pattern — AQE would pick it anyway, but the hint keeps
    # the plan independent of AQE settings)
    return (
        acc.crossJoin(F.broadcast(l1))
        .crossJoin(F.broadcast(l2))
        .select(
            F.round("lv1_acc", 6).alias("lv1_acc"),
            F.round("lv2_acc", 6).alias("lv2_acc"),
            F.round("lv1_f1", 6).alias("lv1_f1_macro"),
            F.round("lv2_f1", 6).alias("lv2_f1_macro"),
            F.round(
                (
                    F.col("lv1_acc")
                    + F.col("lv2_acc")
                    + F.col("lv1_f1")
                    + F.col("lv2_f1")
                )
                / 4,
                6,
            ).alias("mean_f1"),
        )
    )


@query(
    "a1_per_class_f1",
    oracle="""
WITH preds AS (
  SELECT label AS lv2,
         CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10 ELSE label END AS pred_lv2
  FROM embeddings
),
t AS (SELECT lv2 AS class_id, COUNT(*) AS n_true FROM preds GROUP BY 1),
p AS (SELECT pred_lv2 AS class_id, COUNT(*) AS n_pred FROM preds GROUP BY 1),
tp AS (SELECT lv2 AS class_id, COUNT(*) AS tp FROM preds WHERE lv2 = pred_lv2 GROUP BY 1)
SELECT class_id,
       COALESCE(n_true, 0) AS n_true,
       COALESCE(n_pred, 0) AS n_pred,
       COALESCE(tp, 0) AS tp,
       ROUND(2.0 * COALESCE(tp, 0) / (COALESCE(n_true, 0) + COALESCE(n_pred, 0)), 6) AS f1
FROM t FULL JOIN p USING (class_id) FULL JOIN tp USING (class_id)
""",
)
def a1_per_class_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 grouped per-class F1 (``util.py:143`` before the macro mean)."""
    preds = predictions(spark, sf_dir)
    # Same one-pass unpivot as macro_f1 (full-outer joins cannot
    # broadcast; one |classes|-row exchange replaces 3 scans + 2 SMJs).
    return (
        preds.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("lv2").alias("class_id"),
                        F.lit(1).alias("t"),
                        F.lit(0).alias("p"),
                        F.when(F.col("lv2") == F.col("pred_lv2"), 1)
                        .otherwise(0)
                        .alias("tp"),
                    ),
                    F.struct(
                        F.col("pred_lv2").alias("class_id"),
                        F.lit(0).alias("t"),
                        F.lit(1).alias("p"),
                        F.lit(0).alias("tp"),
                    ),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.class_id"))
        .agg(
            F.sum("x.t").alias("n_true"),
            F.sum("x.p").alias("n_pred"),
            F.sum("x.tp").alias("tp"),
        )
        .select(
            "class_id",
            "n_true",
            "n_pred",
            "tp",
            F.round(
                2.0 * F.col("tp") / (F.col("n_true") + F.col("n_pred")), 6
            ).alias("f1"),
        )
    )


@query(
    "a3_rollup_class_counts",
    oracle="""
SELECT CAST(label // 5 AS INT) AS lv1,
       label AS lv2,
       COUNT(*) AS n,
       CAST(GROUPING(label) AS INT) AS is_rollup
FROM embeddings
GROUP BY ROLLUP (label // 5, label)
ORDER BY lv1 NULLS LAST, lv2 NULLS LAST
""",
)
def a3_rollup_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 two-level rollup as a native ROLLUP grouping set (SURVEY §2.4:
    'natural fit for rollup/grouping sets on (lv1, lv2)')."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.expr("label div 5").cast("int").alias("lv1"), F.col("label").alias("lv2")
        )
        .rollup("lv1", "lv2")
        .agg(F.count("*").alias("n"), F.grouping("lv2").cast("int").alias("is_rollup"))
        .orderBy(
            F.col("lv1").asc_nulls_last(),
            F.col("lv2").asc_nulls_last(),
        )
    )
