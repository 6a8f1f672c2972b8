"""Cluster representative selection, relabeling, and survivor marking.

Maps reference semantics:
* C5 ``get_best`` (``lib/sequence_error.py:91-98``): cluster representative
  = highest-count member; reference tie-break is nondeterministic (stable
  sort of a set) — our documented deterministic rule: max count, then min
  fam_tb (min doc_key). The CC fixpoint (``cc.py``) labels every family
  with the best-priority seed that reaches it, so the cluster id already
  names the representative family.
* C6/C7 ``reduce_clusters`` + relabel (``lib/sequence_error.py:100-111``,
  ``lib/markdup_sam.py:140-163``): members relabeled to the parent; row
  count conserved (asserted in tests, mirroring ``markdup_sam.py:159``).
* E6 survivor selection (``lib/umi_data.py:137-146``): within each merged
  cluster, the lowest-quality records are the duplicates; we keep the
  ``n_keep`` best (quality desc, doc_key asc) and flag the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cluster_table(fams: DataFrame, labels: DataFrame) -> DataFrame:
    """One row per family with its cluster id; families that never formed
    an edge keep their own norm_hash as cluster_id (C9 single-UMI shortcut:
    buckets with one family produce no pairs, hence label = self)."""
    out = fams.join(labels, fams.norm_hash == labels.fam, "left").drop("fam")
    return out.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("norm_hash"))
    )


_SIGN_BIT = -0x8000000000000000  # xor maps signed int64 order to unsigned


def mark_survivors(
    docs_with_cluster: DataFrame,
    n_keep_col: str | None = None,
    partition_cols: tuple[str, ...] = ("cluster_id",),
    n_range_buckets: int = 64,
) -> DataFrame:
    """E6: within each survivor scope keep the n_keep best (quality desc,
    doc_key asc) docs; flag the rest ``is_duplicate``.

    Scope mapping (documented, SURVEY.md §2.6): ``naive`` keeps 1 per
    *cluster* — the post-relabel merged key, exactly the reference's naive
    estimate applied after ``reduce_clusters``. Histogram estimators
    apportion n_keep per member *family* (partition_cols =
    (cluster_id, norm_hash)), i.e. the bundle = cluster, keys = families.

    Both paths are skew-safe — NO window ever sorts a whole hot group in
    one task:
    * rank-1 (n_keep_col=None): ``min(struct)`` agg + join-back.
    * n_keep>1: the global (quality desc, doc_key asc) rank decomposes
      exactly into order-preserving buckets (exact quality value, then
      ``n_range_buckets`` contiguous doc_key ranges) + per-bucket prefix
      offsets from a tiny aggregate. A billion-copy family splits across
      buckets (doc_key is hash-uniform at production scale); the distinct
      quality count per family is small by construction (members share
      norm_text — quality varies only through case/whitespace deltas of
      the raw text). Whole buckets strictly before/after the n_keep
      boundary skip ranking entirely: only the (at most one per quality
      level) boundary bucket pays a row_number, bounded to ~group/buckets
      rows.
    """
    if n_keep_col is None:
        surv = docs_with_cluster.groupBy(*partition_cols).agg(
            F.min(
                F.struct(
                    (-F.col("quality")).alias("nq"), F.col("doc_key").alias("dk")
                )
            ).alias("best")
        ).select(*partition_cols, F.col("best.dk").alias("_surv_key"))
        return (
            docs_with_cluster.join(surv, list(partition_cols))
            .withColumn("is_duplicate", F.col("doc_key") != F.col("_surv_key"))
            .drop("_surv_key")
        )

    pc = list(partition_cols)
    shift = 64 - max(1, (n_range_buckets - 1).bit_length())
    d = docs_with_cluster.withColumn(
        "_kb",
        F.shiftrightunsigned(F.col("doc_key").bitwiseXOR(F.lit(_SIGN_BIT)), shift),
    )
    bcounts = d.groupBy(*pc, "quality", "_kb").agg(F.count(F.lit(1)).alias("_bc"))
    w_off = (
        Window.partitionBy(*pc)
        .orderBy(F.desc("quality"), F.asc("_kb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bcounts.withColumn(
        "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0))
    )
    d2 = d.join(offs, pc + ["quality", "_kb"])
    helper = ["_kb", "_off", "_bc"]

    nk = F.col(n_keep_col)
    all_dup = d2.filter(F.col("_off") >= nk).withColumn(
        "is_duplicate", F.lit(True)
    )
    all_keep = d2.filter(F.col("_off") + F.col("_bc") <= nk).withColumn(
        "is_duplicate", F.lit(False)
    )
    w_rank = Window.partitionBy(*pc, "quality", "_kb").orderBy(F.asc("doc_key"))
    boundary = (
        d2.filter((F.col("_off") < nk) & (F.col("_off") + F.col("_bc") > nk))
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("is_duplicate", F.col("_off") + F.col("_rn") > nk)
        .drop("_rn")
    )
    return (
        all_dup.unionByName(all_keep).unionByName(boundary).drop(*helper)
    )


def mark_survivors_and_rep(
    docs_with_cluster: DataFrame,
    partition_cols: tuple[str, ...] = ("cluster_id",),
) -> DataFrame:
    """Fused naive path: in the 1-survivor-per-cluster rule the survivor
    IS the representative, so ONE ``min(struct(-quality, doc_key, url))``
    aggregation + ONE join back produces both ``is_duplicate`` and
    ``rep_url`` — `mark_survivors` followed by `attach_rep_url` computes
    the identical row twice ((−quality, doc_key) is already a total order,
    appending url cannot change the min). Halves the agg+join count of
    the marked stage, whose cost is scheduling-bound fixed overhead that
    Amdahl-limits N→4N scaling.
    """
    surv = docs_with_cluster.groupBy(*partition_cols).agg(
        F.min(
            F.struct(
                (-F.col("quality")).alias("nq"),
                F.col("doc_key").alias("dk"),
                F.col("url").alias("u"),
            )
        ).alias("best")
    )
    return (
        docs_with_cluster.join(surv, list(partition_cols))
        .withColumn("is_duplicate", F.col("doc_key") != F.col("best.dk"))
        .withColumn("rep_url", F.col("best.u"))
        .drop("best")
    )


def attach_rep_url(marked: DataFrame) -> DataFrame:
    """Broadcast-style map-back: every doc gets the url of its cluster's
    surviving representative (best (quality desc, doc_key asc) among the
    non-duplicates). Rank-1 via ``min_by``-style struct aggregation —
    map-side combine, no window sort over a hot cluster; the agg output is
    <= one row per cluster, so Catalyst/AQE broadcasts the join when it
    fits."""
    reps = (
        marked.filter(~F.col("is_duplicate"))
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("quality")).alias("nq"),
                    F.col("doc_key").alias("dk"),
                    F.col("url").alias("u"),
                )
            ).alias("best")
        )
        .select("cluster_id", F.col("best.u").alias("rep_url"))
    )
    return marked.join(reps, "cluster_id", "left")
