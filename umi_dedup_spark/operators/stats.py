"""Metrics, lineage, and library statistics (SURVEY.md §2.3 G5-G10).

* category counting (G8): analog of the reference's outcome Counter
  (``lib/markdup_sam.py:74``, report ``dedup.py:59-65``); the categories
  must partition the usable corpus (invariant ``markdup_sam.py:255``).
* per-partition lineage (north rule): ``spark_partition_id()`` rollups per
  stage.
* library-size estimate (G10, ``lib/library_stats.py:19-30``): independent
  reimplementation of the Lander-Waterman solve via Newton iteration on
  the Lambert-W equation — a driver-side scalar over two aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def category_counts(marked_docs: DataFrame) -> DataFrame:
    """Outcome category per usable doc, partitioning the corpus:
    representative | exact_duplicate | near_duplicate.

    exact_duplicate: non-best member of an exact (norm_hash) family.
    near_duplicate: exact-best member flagged duplicate by the cluster pass.
    """
    cat = (
        F.when(F.col("is_exact_duplicate"), F.lit("exact_duplicate"))
        .when(F.col("is_duplicate"), F.lit("near_duplicate"))
        .otherwise(F.lit("representative"))
    )
    return (
        marked_docs.select(cat.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("category")
    )


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts for a stage — the lineage/metrics rows the
    north rule requires as first-class outputs. A stage with no rows gets
    one row with ``rows`` = 0 and a null ``pid``, so it still shows it ran."""
    per_pid = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return (
        df.sparkSession.range(1)
        .select(F.lit(stage).alias("stage"))
        .join(per_pid, F.lit(True), "left")
        .select("stage", "pid", F.coalesce("rows", F.lit(0)).alias("rows"))
    )


def count_histogram(fams: DataFrame, count_col: str = "fam_count") -> DataFrame:
    """G5 count-of-counts: frequency of each duplicate-count value."""
    return (
        fams.groupBy(F.col(count_col).alias("count_value"))
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("count_value")
    )


def lambert_w0(x: float, eps: float = 1e-9, max_iter: int = 200) -> float:
    """Principal branch of the Lambert W function by Newton's method —
    solves w * e^w = x. Valid for x >= -1/e."""
    w = x if x > -0.3 else -0.5
    for _ in range(max_iter):
        ew = math.exp(w)
        w_new = w - (w * ew - x) / (ew * (w + 1))
        if abs(w_new - w) <= eps:
            return w_new
        w = w_new
    return w


def estimate_library_size(distinct: int, total: int) -> int:
    """Lander-Waterman library-size estimate: the number of distinct
    molecules M solving  distinct = M * (1 - exp(-total/M)), rearranged to
    a Lambert-W closed form. Driver-side scalar over two aggregate counts
    (the only non-distributed computation in the engine, as in the
    reference where it is a final summary line)."""
    assert distinct <= total
    if distinct == total:
        return distinct  # limit M -> infinity is degenerate; report lower bound
    r = total / distinct
    w = lambert_w0(-math.exp(-r) * r)
    return int(round(distinct * total / (distinct * w + total)))


def library_stats(marked_docs: DataFrame) -> dict:
    """Summary scalars: usable docs, distinct survivors, library estimate."""
    row = marked_docs.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col("is_duplicate")).cast("long")).alias("distinct"),
    ).collect()[0]
    total, distinct = int(row["total"]), int(row["distinct"])
    return {
        "total": total,
        "distinct": distinct,
        "library_size": estimate_library_size(distinct, total) if total else 0,
    }
