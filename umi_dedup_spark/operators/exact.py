"""Exact-duplicate pass — graft analog of the reference's optical-duplicate
detector (``lib/optical_duplicates.py``, ``lib/markdup_sam.py:165-176``):
a second, cheaper duplicate detector that runs *before* the main near-dup
pass, whose survivors (families) are what the near-dup stage clusters,
with family sizes playing the role of per-UMI read counts
(``lib/markdup_sam.py:134-136``).

Pure DataFrame ops: one shuffle (groupBy norm_hash), map-side partial
aggregation free via Catalyst; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umi_dedup_spark.functions.text import normalize_text, quality_score, usable_filter
from umi_dedup_spark.session import spread_small_scan


def prepare_docs(pages: DataFrame) -> DataFrame:
    """Filter usable pages and derive normalization + identity columns.

    Adds: doc_key (64-bit id), norm_text, norm_hash, quality.
    The raw ``text`` column is untouched (byte-identical invariant per url).
    Identity: an explicit doc_id wins; else xxhash64(url, warc_ts) — a
    re-crawled url (two warc_ts snapshots) is two documents, one of which
    the exact pass marks duplicate; a plain xxhash64(url) would give both
    the survivor's key and mark neither. At 10^12-doc scale doc_key should
    be a persisted ingest-time id; the hash stand-in has ~n^2/2^64
    collision odds (documented; the final text join dedupes by doc_key so
    a collision cannot multiply output rows).
    """
    usable = pages.filter(usable_filter(F.col("text")))
    # drop wide payload columns (html binary) immediately: every later
    # stage/checkpoint shuffles only what it needs (Catalyst prunes scans,
    # but explicit projection keeps checkpoints/shuffles narrow too)
    keep = [c for c in pages.columns if c != "html"]
    usable = usable.select(*keep)
    # one-row-group inputs are unsplittable: spread the (html-free) rows
    # across the task slots before the per-row normalize/hash/quality
    # work (measured at 50k docs: 3.5s wall == 3.9s total task time on
    # one core)
    usable = spread_small_scan(usable)
    norm = normalize_text(F.col("text"))
    if "doc_id" in pages.columns:
        key = F.col("doc_id").cast("long")
    elif "warc_ts" in pages.columns:
        key = F.xxhash64(F.col("url"), F.col("warc_ts"))
    else:
        key = F.xxhash64(F.col("url"))
    return (
        usable.withColumn("doc_key", key)
        # norm_text itself is NOT materialized here: carrying a second
        # text-sized column through the docs checkpoint doubles its bytes
        # (measured 47.6s -> for the 500k-doc stage); the families agg
        # recomputes the normalization inline where it is consumed
        .withColumn("norm_hash", F.xxhash64(norm))
        .withColumn("quality", quality_score(F.col("text")))
    )


def exact_families(docs: DataFrame) -> DataFrame:
    """Collapse exact duplicates into families keyed by ``norm_hash``.

    Returns one row per family:
      norm_hash (family id), fam_count (analog of UMI read count),
      fam_tb (min doc_key — deterministic tie-break key),
      norm_text of the representative member (normalized inline from
      ``text``; all members share it by construction).
    """
    norm = normalize_text(F.col("text"))
    return docs.groupBy("norm_hash").agg(
        F.count(F.lit(1)).alias("fam_count"),
        F.min("doc_key").alias("fam_tb"),
        F.first(norm).alias("norm_text"),
    )


def mark_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Per-doc exact-dup flag: within each norm_hash family keep the best
    (quality desc, doc_key asc) member — survivor selection exactly as
    reference E6 (``lib/umi_data.py:137-146``: lowest-quality records are
    the duplicates).

    Skew-safe rank-1: the survivor is a ``min(struct(-quality, doc_key))``
    aggregation (map-side partial combine — a billion-copy family reduces
    to one row per map task) joined back on ``norm_hash``, instead of a
    ``row_number`` window that would sort the whole hot family inside a
    single task. Both sides share the norm_hash exchange, and AQE
    skew-join splitting bounds the residual probe skew.
    """
    surv = docs.groupBy("norm_hash").agg(
        F.min(
            F.struct((-F.col("quality")).alias("nq"), F.col("doc_key").alias("dk"))
        ).alias("best")
    ).select("norm_hash", F.col("best.dk").alias("exact_survivor_key"))
    return docs.join(surv, "norm_hash").withColumn(
        "is_exact_duplicate", F.col("doc_key") != F.col("exact_survivor_key")
    ).drop("exact_survivor_key")
