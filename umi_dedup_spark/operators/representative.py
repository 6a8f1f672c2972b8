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

Two skew-safe ranking mechanisms, and no window ever sorts a whole group:
* rank 1 (the naive survivor and every ``rep_url``) is one
  ``min(struct(-quality, doc_key, url))`` aggregation, map-side combined,
  plus a join back (`_best_doc`);
* rank n (`mark_survivors`, and the estimators' +1 extras) is
  `rank_in_buckets`: a bucket's prefix offset from a small count table
  plus a ``row_number`` inside the bucket.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
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


def range_bucket(col: str, n_buckets: int) -> Column:
    """Order-preserving range bucket of an int64 column: its top
    ``bit_length(n_buckets - 1)`` bits read as unsigned, i.e.
    ``n_buckets`` rounded up to a power of two contiguous value ranges.
    Equal values share a bucket and bucket order is value order."""
    shift = 64 - max(1, (n_buckets - 1).bit_length())
    return F.shiftrightunsigned(F.col(col).bitwiseXOR(F.lit(_SIGN_BIT)), shift)


def rank_in_buckets(
    df: DataFrame,
    partition_cols: Sequence[str],
    bucket_cols: Sequence[Column],
    order_cols: Sequence[str | Column],
) -> DataFrame:
    """``df`` plus ``_rank``: each row's 1-based rank inside its
    ``partition_cols`` group, sorted by (``bucket_cols`` asc,
    ``order_cols``).

    ``bucket_cols`` must be an ascending, order-preserving prefix of that
    sort: every row of an earlier bucket sorts before every row of a later
    one. The rank is then exactly the bucket's prefix offset (a running
    sum over a count table of one row per bucket) plus a ``row_number``
    inside the bucket. The window partitions by the bucket, never by the
    raw group, so a hot group's sort splits across its buckets (e.g. the
    `range_bucket` slices of a hash-uniform key).
    """
    pc = list(partition_cols)
    bc = [f"_bucket{i}" for i in range(len(bucket_cols))]
    d = df.select("*", *(c.alias(name) for c, name in zip(bucket_cols, bc)))
    earlier = (
        Window.partitionBy(*pc)
        .orderBy(*bc)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = d.groupBy(*pc, *bc).agg(F.count(F.lit(1)).alias("_n")).select(
        *pc, *bc, F.coalesce(F.sum("_n").over(earlier), F.lit(0)).alias("_offset")
    )
    in_bucket = Window.partitionBy(*pc, *bc).orderBy(*order_cols)
    return d.join(offsets, pc + bc).select(
        *df.columns,
        (F.col("_offset") + F.row_number().over(in_bucket)).alias("_rank"),
    )


def mark_survivors(
    docs_with_cluster: DataFrame,
    n_keep_col: str,
    partition_cols: tuple[str, ...] = ("cluster_id",),
    n_range_buckets: int = 64,
) -> DataFrame:
    """E6: within each survivor scope keep the n_keep best (quality desc,
    doc_key asc) docs; flag the rest ``is_duplicate``.

    Scope mapping (documented, SURVEY.md §2.6): ``naive`` keeps 1 per
    *cluster* — the post-relabel merged key, exactly the reference's naive
    estimate applied after ``reduce_clusters`` (`mark_survivors_and_rep`).
    Histogram estimators apportion n_keep per member *family*
    (partition_cols = (cluster_id, norm_hash)), i.e. the bundle = cluster,
    keys = families.

    The rank is `rank_in_buckets` over (exact quality value,
    ``n_range_buckets`` contiguous doc_key ranges) buckets. A billion-copy
    family splits across its doc_key ranges (doc_key is hash-uniform at
    production scale); the distinct quality count per family is small by
    construction (members share norm_text — quality varies only through
    case/whitespace deltas of the raw text).
    """
    return rank_in_buckets(
        docs_with_cluster,
        partition_cols,
        [-F.col("quality"), range_bucket("doc_key", n_range_buckets)],
        ["doc_key"],
    ).withColumn("is_duplicate", F.col("_rank") > F.col(n_keep_col)).drop("_rank")


def _best_doc(docs: DataFrame, partition_cols: Sequence[str]) -> DataFrame:
    """One row per group: ``best`` = its (quality desc, doc_key asc) first
    doc as a ``(nq, dk, u)`` struct. (-quality, doc_key) is already a total
    order, so appending url cannot change the chosen row."""
    return docs.groupBy(*partition_cols).agg(
        F.min(
            F.struct(
                (-F.col("quality")).alias("nq"),
                F.col("doc_key").alias("dk"),
                F.col("url").alias("u"),
            )
        ).alias("best")
    )


def mark_survivors_and_rep(
    docs_with_cluster: DataFrame,
    partition_cols: tuple[str, ...] = ("cluster_id",),
) -> DataFrame:
    """Fused naive path: in the 1-survivor-per-cluster rule the survivor
    IS the representative, so ONE `_best_doc` aggregation + ONE join back
    produces both ``is_duplicate`` and ``rep_url``. Halves the agg+join
    count of the marked stage, whose cost is scheduling-bound fixed
    overhead that Amdahl-limits N→4N scaling.
    """
    return (
        docs_with_cluster.join(
            _best_doc(docs_with_cluster, partition_cols), list(partition_cols)
        )
        .withColumn("is_duplicate", F.col("doc_key") != F.col("best.dk"))
        .withColumn("rep_url", F.col("best.u"))
        .drop("best")
    )


def attach_rep_url(docs: DataFrame) -> DataFrame:
    """Every doc gets the url of its cluster's best (quality desc, doc_key
    asc) doc. That doc is a survivor under every estimator: apportionment
    keeps >= 1 doc per family, and the cluster's best doc is first in its
    own family. So the aggregate reads the docs before marking. The agg
    output is <= one row per cluster, so Catalyst/AQE broadcasts the join
    when it fits."""
    reps = _best_doc(docs, ["cluster_id"]).select(
        "cluster_id", F.col("best.u").alias("rep_url")
    )
    return docs.join(reps, "cluster_id", "left")
