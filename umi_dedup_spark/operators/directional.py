"""Directional edge construction — the reference's core clustering predicate
re-expressed over candidate pairs.

Reference semantics (``lib/sequence_error.py:47-53``): directed edge
a -> b iff hamming(a, b) == threshold AND count[a] >= 2*count[b] - 1.
Graft (documented divergence, SURVEY.md §2.5 C1): the distance test is
``bit_count(simhash_a ^ simhash_b) <= threshold`` over 64-bit SimHash
fingerprints (a Hamming *ball*, since text perturbations move a variable
number of bits); the count predicate is applied directionally, verbatim.
Substring-pass pairs (shared >= window-length verbatim run) bypass the
SimHash distance test — they carry their own proof of near-duplication —
but still respect the directional count rule.

All predicates are JVM-side expressions (no Python); the MinHash Jaccard's
``zip_with``/``aggregate`` are CodegenFallback, i.e. run interpreted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import hamming64, minhash_jaccard


def _directional(near: DataFrame) -> DataFrame:
    """Each near pair's 0-2 directed edges in ONE pass over ``near``: an
    array of the two candidate directions, each null unless its count rule
    holds, exploded and null-dropped. Two filters + a union would execute
    the whole ``near`` subplan (attribute joins, MinHash Jaccard) twice."""
    fwd = F.when(
        F.col("count_a") >= 2 * F.col("count_b") - 1,
        F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
    )
    rev = F.when(
        F.col("count_b") >= 2 * F.col("count_a") - 1,
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return (
        near.select(F.explode(F.array(fwd, rev)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("e.src", "e.dst")
    )


def build_edges(pairs: DataFrame, fams: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Candidate pairs -> directed edges.

    A candidate pair (a, b) is *near* iff it is a substring-pass pair, OR
    ``bit_count(simhash_a ^ simhash_b) <= cfg.hamming_threshold``, OR the
    MinHash-estimated Jaccard (fraction of equal signature positions) is
    ``>= cfg.jaccard_threshold``. A near pair yields the directed edge
    a -> b iff ``count_a >= 2*count_b - 1``, and b -> a iff
    ``count_b >= 2*count_a - 1`` — 0, 1 or 2 edges; 0 means the two
    families stay separate (exactly as in the reference, where no
    adjacency entry forms).

    The attribute join is TWO-PHASE, keeping the wide MinHash signatures
    (num_perm longs ~ 512B/family) out of the main join: phase 1 joins
    only the narrow attrs (simhash 8B, count) and decides the cheap gate
    (substring proof OR SimHash Hamming ball); phase 2 joins minhash ONLY
    for the residual pairs that failed the cheap gate — at web scale most
    true near-dups pass phase 1, so the signature bytes moved scale with
    the residual, not with every candidate pair.
    """
    a = fams.select(
        F.col("norm_hash").alias("src"),
        F.col("simhash").alias("simhash_a"),
        F.col("fam_count").alias("count_a"),
    )
    b = fams.select(
        F.col("norm_hash").alias("dst"),
        F.col("simhash").alias("simhash_b"),
        F.col("fam_count").alias("count_b"),
    )
    p1 = pairs.join(a, "src").join(b, "dst")
    cheap = F.col("is_substring") | (
        hamming64(F.col("simhash_a"), F.col("simhash_b")) <= cfg.hamming_threshold
    )
    near_cols = ["src", "dst", "count_a", "count_b"]
    near_cheap = p1.filter(cheap).select(*near_cols)
    residual = p1.filter(~cheap).select(*near_cols)

    mh_a = fams.select(F.col("norm_hash").alias("src"), F.col("minhash").alias("minhash_a"))
    mh_b = fams.select(F.col("norm_hash").alias("dst"), F.col("minhash").alias("minhash_b"))
    near_mh = (
        residual.join(mh_a, "src")
        .join(mh_b, "dst")
        .filter(
            minhash_jaccard(F.col("minhash_a"), F.col("minhash_b"))
            >= cfg.jaccard_threshold
        )
        .select(*near_cols)
    )
    return _directional(near_cheap.unionByName(near_mh))
