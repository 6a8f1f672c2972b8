"""LSH banding + candidate-pair generation.

Graft analog of the reference's primary grouping scope
(group by (strand, start-pos, mate-pos), ``lib/markdup_sam.py:64``): an LSH
band bucket is the scope within which near-duplicate candidates are
enumerated. Everything here is JVM-side DataFrame ops — band hashing via
``xxhash64`` over signature slices, pair emission via a bucketed self-join
with an explicit skew cap (no silent truncation: overflow is returned as a
metrics DataFrame).

Skew strategy (SURVEY.md §4): buckets with <= max_bucket_families members
emit all pairs (exact within-bucket recall); hotter buckets fall back to
star+chain linking over a count-desc ranking, which preserves bucket
connectivity for the CC stage at O(m) pairs; AQE skew-join splitting
handles the residual join skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig


def add_band_hashes(fams: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Explode each family row into (band_id, band_hash) rows.

    band_hash = xxhash64(band_id, minhash[band*r : band*r + r]) — the band
    id is salted into the hash so identical row-slices in different bands
    never collide into one bucket.
    """
    r = cfg.lsh_rows
    band_cols = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * r + 1, r))
            for b in range(cfg.lsh_bands)
        ]
    )
    return fams.select(
        "norm_hash",
        "fam_count",
        "fam_tb",
        F.posexplode(band_cols).alias("band_id", "band_hash"),
    ).withColumn("is_substring", F.lit(False))


def candidate_pairs(
    banded: DataFrame, cfg: DedupConfig, caches: list[DataFrame] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Emit canonical candidate pairs (src < dst by norm_hash) per bucket.

    Input rows carry an ``is_substring`` flag (False for LSH bands, True
    for substring-window buckets — see ``suffix.window_band_rows``); both
    flows union into ONE bucket exchange here, and the flag survives onto
    pairs: a pair is substring-proven iff any emitting bucket was a
    substring bucket (both members of a bucket share its flag).

    Returns (pairs, overflow_metrics). pairs: distinct
    (src, dst, is_substring). overflow_metrics: one row per oversized
    bucket (band_id, band_hash, bucket_size) — surfaced, never silently
    dropped.

    The shared bucket exchange is ``persist()``-ed (both outputs read it).
    Pass ``caches`` to receive the persisted DataFrame and ``unpersist()``
    it once both outputs are materialized — otherwise each call in a
    long-lived session leaks one cached dataset in executor storage
    (the pipeline releases it after its pairs/overflow stages).
    """
    bucket = ["band_id", "band_hash"]
    # ONE exchange + ONE sort for the whole stage: the banded rows are
    # hash-partitioned on the bucket key and sorted within partitions by
    # (bucket, fam_count desc, fam_tb, norm_hash) — exactly the ordering
    # every downstream operator requires (size window: bucket prefix;
    # rank/lead window: full order; bucket self-join: SMJ key order), so
    # EnsureRequirements inserts no further exchange or sort. Without
    # this, each window/join re-sorted the same data — measured ~0.3s of
    # fixed per-partition cost per pass (the stage cost grew linearly
    # with shuffle-partition count).
    sorted_banded = (
        banded.repartition(*bucket)
        .sortWithinPartitions(
            "band_id", "band_hash",
            F.desc("fam_count"), F.asc("fam_tb"), F.asc("norm_hash"),
        )
        .persist()
    )
    if caches is not None:
        caches.append(sorted_banded)
    wb = Window.partitionBy(*bucket)
    sized = sorted_banded.withColumn("bucket_size", F.count(F.lit(1)).over(wb))

    small = sized.filter(
        (F.col("bucket_size") >= 2) & (F.col("bucket_size") <= cfg.max_bucket_families)
    )
    # all-pairs within small buckets: bucketed self-join (sort-merge/AQE)
    a = small.select(*bucket, F.col("norm_hash").alias("src"), "is_substring")
    b = small.select(*bucket, F.col("norm_hash").alias("dst"))
    small_pairs = (
        a.join(b, bucket)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "is_substring")
    )

    big = sized.filter(F.col("bucket_size") > cfg.max_bucket_families)
    overflow = (
        big.groupBy(*bucket).agg(F.max("bucket_size").alias("bucket_size"))
    )
    # star+chain for hot buckets: rank by (fam_count desc, fam_tb asc)
    w = Window.partitionBy(*bucket).orderBy(
        F.desc("fam_count"), F.asc("fam_tb"), F.asc("norm_hash")
    )
    ranked = big.withColumn("rn", F.row_number().over(w))
    top = ranked.filter(F.col("rn") == 1).select(*bucket, F.col("norm_hash").alias("hub"))
    star = (
        ranked.filter(F.col("rn") > 1)
        .join(top, bucket)
        .select(
            F.col("hub").alias("src"),
            F.col("norm_hash").alias("dst"),
            "is_substring",
        )
    )
    chain = (
        ranked.withColumn("nxt", F.lead("norm_hash").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("norm_hash").alias("src"),
            F.col("nxt").alias("dst"),
            "is_substring",
        )
    )
    big_pairs = star.unionByName(chain).select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "is_substring",
    ).filter(F.col("src") != F.col("dst"))

    pairs = (
        small_pairs.unionByName(big_pairs)
        .groupBy("src", "dst")
        .agg(F.max("is_substring").alias("is_substring"))
    )
    return pairs, overflow
