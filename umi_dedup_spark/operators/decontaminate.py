"""Benchmark decontamination — flag training documents that share any
token n-gram with a held-out benchmark set.

Standard training-data-pipeline op (n-gram-overlap decontamination as in
GPT-3 appx. C / Llama-2 appx. A.6 eval-decontamination): a training
document is *contaminated* when at least one of its k-token grams also
occurs in any benchmark document. The reference analog is the paired
co-scan / membership-filter surface (``lib/markdup_sam.py:64-79`` mate
lookup): membership of a derived key against a second, smaller table.

Scale shape (100 TB corpus, ~GB benchmark):
* Gram keys are 60-bit integer hashes (md5 prefix — the engine-wide
  dialect hash), so the join shuffles 8-byte keys, never gram text.
* The benchmark gram set is tiny relative to the corpus — it is always
  broadcast (map-side hash semi-join, corpus side never shuffles). The
  hint is not sized from bytes; a benchmark whose gram set outgrows the
  executors needs that check first (ROADMAP item 5).
* Per-doc gram arrays are deduped (``array_distinct``) *before* the
  explode, so corpus-side rows are bounded by distinct grams per doc.
* Output is one row per corpus doc (contamination evidence count), so
  the final join-back is an aggregation-then-join on doc id — the
  aggregated side is <= one row per doc and broadcastable per AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umi_dedup_spark.functions.text import normalize_text


def _h64(col):
    """60-bit md5-prefix hash, identical to the dialect/oracle hash
    (functions/hashing._token_hash64 and __spark_entry__._h64)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def gram_hashes(text, k: int = 8):
    """array<long> of distinct k-token gram hashes of a text column.

    Tokenization = the dialect normalization (lower, collapse
    whitespace, trim) then whitespace split. Documents shorter than k
    tokens contribute ONE whole-document gram (``greatest(n-k+1, 1)``,
    the same short-doc convention as the MinHash shingle kernel) so a
    verbatim short benchmark string still decontaminates.
    """
    toks = F.split(normalize_text(text), r"\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: _h64(F.array_join(F.slice(toks, i, k), " ")))
    return F.array_distinct(grams)


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination report of ``docs`` against ``bench``.

    Returns one row per docs row: ``(id_col, n_shared_grams,
    contaminated)`` where n_shared_grams counts DISTINCT grams of the
    document that occur anywhere in the benchmark set.

    Join strategy: the benchmark gram set is the broadcast side, forced
    by a hint. Benchmarks are small by nature, but a benchmark that is a
    filter of a larger table is estimated, without statistics, at that
    whole table's size, so the planner alone would shuffle both sides.
    """
    d_grams = docs.select(
        F.col(id_col), F.explode(gram_hashes(F.col(text_col), k)).alias("gh")
    )
    b_grams = (
        bench.select(F.explode(gram_hashes(F.col(text_col), k)).alias("gh"))
        .distinct()
    )
    hits = (
        d_grams.join(F.broadcast(b_grams), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )
