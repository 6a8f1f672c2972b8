"""LSH banding + candidate-pair generation.

Graft analog of the reference's primary grouping scope
(group by (strand, start-pos, mate-pos), ``lib/markdup_sam.py:64``): an LSH
band bucket is the scope within which near-duplicate candidates are
enumerated. Everything here is JVM-side DataFrame ops — band hashing via
``xxhash64`` over signature slices, pair emission from one per-bucket
aggregate with an explicit skew cap (no silent truncation: overflow is
returned as a metrics DataFrame).

Skew strategy (SURVEY.md §4): buckets with <= max_bucket_families members
emit all pairs (exact within-bucket recall); hotter buckets fall back to
star+chain linking over a count-desc ranking, which preserves bucket
connectivity for the CC stage at O(m) pairs. Ceiling: one bucket is one
sorted array in one task, so a bucket's members must fit in a task's
memory (~40 bytes per member; a 10^5-member bucket measured in NOTES
"Pairs stage: one per-bucket aggregate").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def candidate_pairs(banded: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Emit canonical candidate pairs (src < dst by norm_hash) per bucket.

    Input rows carry an ``is_substring`` flag (False for LSH bands, True
    for substring-window buckets — see ``suffix.window_band_rows``); both
    flows union into ONE bucket exchange here, and the flag survives onto
    pairs: a pair is substring-proven iff any emitting bucket was a
    substring bucket (both members of a bucket share its flag).

    Each bucket aggregates to one array of its members sorted by
    (fam_count desc, fam_tb asc, norm_hash asc). Member positions i < j
    pick the pairs: every (i, j) in a bucket of <= max_bucket_families
    rows, and in a hotter bucket the star from element 1 plus the chain
    j = i + 1. Rows, not distinct families, size a bucket: a substring
    bucket can list one family twice, and its self-pair is dropped.

    Returns (pairs, overflow_metrics). pairs: distinct
    (src, dst, is_substring). overflow_metrics: one row per oversized
    bucket (band_id, band_hash, bucket_size) — surfaced, never silently
    dropped. Both are lazy plans.
    """
    bucket = ["band_id", "band_hash"]
    cap = cfg.max_bucket_families
    n, i = F.col("n"), F.col("i")
    # sort_array, not array_sort: SortArray is compiled, array_sort plans
    # as an interpreted lambda function
    members = (
        banded.groupBy(*bucket)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(-F.col("fam_count"), "fam_tb", "norm_hash")
                )
            ).alias("m"),
            F.max("is_substring").alias("is_substring"),
        )
        .withColumn("n", F.size("m"))
        .filter(n >= 2)
    )
    # element_at, not transform: ArrayTransform is CodegenFallback
    positions = members.select(
        "m", "n", "is_substring",
        F.explode(F.sequence(F.lit(1), n - 1)).alias("i"),
    ).select(
        "m", "i", "is_substring",
        F.explode(
            F.when((n <= cap) | (i == 1), F.sequence(i + 1, n))
            .otherwise(F.array(i + 1))
        ).alias("j"),
    )
    a = F.element_at("m", i)["norm_hash"]
    b = F.element_at("m", F.col("j"))["norm_hash"]
    pairs = (
        positions.select(
            F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"), "is_substring"
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("is_substring").alias("is_substring"))
    )
    overflow = (
        banded.groupBy(*bucket)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )
    return pairs, overflow
