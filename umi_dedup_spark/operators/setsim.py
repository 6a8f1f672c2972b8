"""Exact token-set similarity join (Jaccard >= t): a small-universe bitset
path and a prefix-filtered path.

Graft analog of the reference's within-scope pairwise comparison surface
(the J-series equi-join, ``lib/markdup_sam.py:64`` grouping scope +
per-pair distance check ``lib/umi_data.py:160-170``), generalized to the
web-text n-gram Jaccard query: emit every pair of documents in the same
group whose distinct-token Jaccard similarity meets a threshold.

The naive plan — a quadratic self-join per group with a per-pair
``array_intersect`` — is exact but cannot scale: a web-scale source group
holds millions of documents, and |group|^2 pairs is not a computable
number at 100 TB. This module implements the standard distributed
set-similarity join (the AllPairs / PPJoin family — Bayardo et al. WWW'07,
Xiao et al. WWW'08, Vernica et al. SIGMOD'10 for the MapReduce layout):

1. **Global token order.** Tokens are totally ordered by (global
   frequency asc, token asc). Rare tokens first — candidate generation
   then pivots on the tokens least likely to collide.
2. **Prefix filter.** For Jaccard >= t, two sets can only qualify if
   their (|x| - ceil(t*|x|) + 1)-length prefixes under that order share
   at least one token. Proof sketch: J(x,y) >= t implies
   |x n y| >= ceil(t * max(|x|,|y|)); a shared element must then land in
   both prefixes. Only prefix tokens are exploded into the inverted
   index — the frequent (stopword) tail never enters the join.
3. **Candidate join.** Equi-join the prefix index with itself on
   (group, token); a length filter (min >= t * max, implied by J >= t)
   prunes mismatched sizes before the pair is even deduplicated. The
   groupBy that deduplicates candidates has map-side partial
   aggregation, so pairs sharing many prefix tokens combine locally
   before the shuffle.
4. **Verify.** Join the surviving candidate ids back to the full token
   arrays and compute the exact Jaccard — the output is *identical* to
   the quadratic plan (same IEEE double expression), prefix filtering
   only prunes pairs that provably cannot qualify.

Every step is a JVM-side DataFrame op (explode / window / equi-join /
agg): no Python in the hot path, no cartesian product, shuffles keyed on
(group, token) and candidate ids only — full token arrays ride exactly
two joins, both restricted to candidate pairs.

**Small-universe bitset path** (r6): when the corpus's GLOBAL distinct
token count fits in one machine word (``BITSET_VOCAB_CAP`` = 64 tokens)
and the doc table fits the session's broadcast threshold (rows x
``BITSET_ROW_BYTES``), every token
set is encoded as a 64-bit mask (bit i = contains vocab[i]) and the
exact intersection size per pair is ``bit_count(ma & mb)`` — O(1)
instead of an O(|x|+|y|) string-hashing ``array_intersect``. Pair
generation becomes a single BroadcastHashJoin on the group key, probed
by the input's own partitions: no shuffle of the pair stream, no
per-group task skew (a 20-group corpus otherwise serializes into 20
tasks), and no inverted-index explosion (on a dense small-vocab corpus
the prefix index degenerates: every token is ultra-frequent, candidate
generation emits hundreds of millions of rows that dedup right back to
the quadratic pair set). The encoding is a bijection token<->bit over
the COMPLETE vocabulary, so ji/na/nb — and hence the IEEE jaccard
double — are exactly those of the prefix path. The probe is staged so
its cost on general data is negligible: a 2000-doc sample vocabulary
first (a real text corpus blows the cap immediately and falls through
to the prefix path), the full distinct-token check only after the
sample passes. Measured at sf1.0 (50k docs, 31-token vocab, 44.3M
qualifying pairs): 156s prefix+quad union -> see OPTIMIZATION_r06.md.

The two paths are chosen from the data and the broadcast threshold
alone, and both are exact for every group size; the driver testdata has
a 31-token vocabulary at every scale, so it runs the bitset path.

The caller owns the input layout: the operator adds no exchange in front
of its per-row work, and the vocabulary probes run on whatever layout
the caller passes. A caller reading an unsplittable small file spreads
it over the read (``session.spread_small_scan``), before the tokenizing
projection, as ``__spark_entry__._ngram_jaccard`` does.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from umi_dedup_spark.session import broadcast_row_cap

# conservative guard against float round-up at exact multiples: erring
# DOWN lengthens the prefix (more candidates, never a missed pair)
_EPS = 1e-9

# the bitset path's vocabulary bound: one token per bit of a long mask
BITSET_VOCAB_CAP = 64

# Bytes of one bitset build-side row (group, id, size, mask) in the
# broadcast hash relation, assuming a group key of at most 8 bytes: the
# value row is an 8-byte null bitset, four 8-byte slots and the key's
# 8 bytes (48); the key row is a bitset, one slot and the key (24); the
# map adds 16 bytes of length headers and next pointer per record, and
# its hash array holds 2-4 slots of 16 bytes per row (32-64). That is
# 120-152 bytes. Measured (BroadcastExchange dataSize, 2,000 groups of
# <= 5-byte keys): 21.0 MB at 100k rows, 67.1 MB at 400k, 154 bytes per
# row at the margin; rounded up to 160. The relation is allocated in
# whole memory pages, so a small table takes one page (~17-34 MB) at
# any row count: this width bounds the growth, not the first page.
BITSET_ROW_BYTES = 160


def _verify_jaccard(pairs: DataFrame, t: float) -> DataFrame:
    """Exact Jaccard over (a_id, b_id, _aset, _bset) rows: threshold on
    the unrounded double, output rounded to 4 places — the same IEEE
    expression as the SQL surface
    ``round(cast(ji as double)/(na+nb-ji), 4)``."""
    ji = F.size(F.array_intersect("_aset", "_bset"))
    na, nb = F.size("_aset"), F.size("_bset")
    jac = ji.cast("double") / (na + nb - ji)
    return pairs.filter(jac >= F.lit(t)).select(
        "a_id", "b_id", F.round(jac, 4).alias("jaccard")
    )


def _small_universe_vocab(base: DataFrame) -> list[str] | None:
    """Return the sorted complete vocabulary iff the corpus qualifies for
    the bitset path, else None. A negative broadcast threshold disables
    the path before any job runs. Otherwise the probe runs cheapest-first
    so general (large-vocab) data pays only a bounded sample scan: (1)
    vocabulary of a 2000-doc sample — real text exceeds
    ``BITSET_VOCAB_CAP`` here and exits; (2) one action for the rest: the
    full distinct-token scan, with the doc count observed on its input.
    The distinct's map side reads every row, so the count is complete
    even though the collect stops at ``BITSET_VOCAB_CAP + 1`` tokens; too
    many docs for the broadcast threshold declines. The worst case — a
    small sample vocabulary over a large corpus or a large full
    vocabulary — costs one tokenize + distinct scan of the corpus (the
    limit cannot short-circuit the aggregation) before the prefix path
    runs. A null token has no bit of its own, so it disqualifies the
    bitset path too."""
    row_cap = broadcast_row_cap(base.sparkSession, BITSET_ROW_BYTES)
    if row_cap is None:
        return None
    sample_vocab = (
        base.select("_tset").limit(2000)
        .select(F.explode("_tset").alias("_tok")).distinct().count()
    )
    if sample_vocab > BITSET_VOCAB_CAP:
        return None
    docs = Observation()
    rows = (
        base.observe(docs, F.count(F.lit(1)).alias("n"))
        .select(F.explode("_tset").alias("_tok"))
        .distinct().limit(BITSET_VOCAB_CAP + 1).collect()
    )
    toks = [r["_tok"] for r in rows]
    # the doc count is read last: a plan the optimizer emptied (no token
    # at all, so nothing to encode) never reports its observation
    if (
        not toks or len(toks) > BITSET_VOCAB_CAP or None in toks
        or docs.get["n"] > row_cap
    ):
        return None
    return sorted(toks)


def _bitset_join(
    base: DataFrame, vocab: list[str], grp: list[str], t: float
) -> DataFrame:
    """Exact all-pairs Jaccard join over 64-bit token masks.

    bit i of a doc's mask <=> vocab[i] in its token set; the token->bit
    map is a bijection over the complete vocabulary, so
    bit_count(ma & mb) == |intersection| and the jaccard double is the
    identical IEEE expression of ``_verify_jaccard``. Null token arrays
    yield a null ``_sz`` and are dropped by the threshold filter, exactly
    as size(null) is in the array paths."""
    one = F.lit(1).cast("long")
    mask = reduce(
        Column.bitwiseOR,
        [
            F.when(F.array_contains("_tset", tok), F.shiftleft(one, i))
            .otherwise(F.lit(0).cast("long"))
            for i, tok in enumerate(vocab)
        ],
    )
    jk = grp if grp else ["_jk"]
    enc = base.withColumn("_mask", mask)
    if not grp:
        # single-valued join key that the optimizer cannot constant-fold
        # (a literal would fold the equi-condition to `true` and degrade
        # the plan to a BroadcastNestedLoopJoin)
        enc = enc.withColumn(
            "_jk", F.pmod(F.xxhash64("_id"), F.lit(1)).cast("int")
        )
    # lazy snapshot: BOTH join sides consume the encoding (the broadcast
    # build and the probe stream are separate subtrees — no exchange
    # reuse applies), so without it the tokenize+mask chain executes
    # twice and the probe side re-tokenizes inside the join stage.
    # Measured at 50k docs: full join 1.8-3.4s -> 0.69-0.75s. Narrow
    # rows (id, group, size, one long) bounded by the broadcast threshold;
    # blocks are ContextCleaner-reclaimed with the result's lineage.
    enc = enc.localCheckpoint(eager=False)
    a = enc.select(
        *jk,
        F.col("_id").alias("a_id"),
        F.col("_sz").alias("_na"),
        F.col("_mask").alias("_ma"),
    )
    b = enc.select(
        *jk,
        F.col("_id").alias("b_id"),
        F.col("_sz").alias("_nb"),
        F.col("_mask").alias("_mb"),
    )
    ji = F.bit_count(F.col("_ma").bitwiseAND(F.col("_mb")))
    jac = ji.cast("double") / (F.col("_na") + F.col("_nb") - ji)
    return (
        a.join(F.broadcast(b), jk)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(jac >= F.lit(t))
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
    )


def _prefix_join(base: DataFrame, grp: list[str], t: float) -> DataFrame:
    """The prefix-filtered inverted-index join (module docstring, steps
    1-4); exact for every group size and vocabulary."""
    # 1. global token frequencies -> total order (freq asc, token asc)
    tok = base.select(*grp, "_id", "_sz", F.explode("_tset").alias("_tok"))
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tf"))

    # 2. keep only each document's prefix under that order
    plen = F.col("_sz") - F.ceil(F.lit(t) * F.col("_sz") - F.lit(_EPS)) + F.lit(1)
    w = Window.partitionBy("_id").orderBy(F.asc("_tf"), F.asc("_tok"))
    prefix = (
        tok.join(freq, "_tok")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= plen)
        .select(*grp, "_id", "_sz", "_tok")
    )

    # 3. candidate pairs: inverted-index self-join on (group, token),
    #    size filter, map-side-combined dedup
    pa = prefix.select(
        *grp, F.col("_id").alias("a_id"), F.col("_sz").alias("_na"), "_tok"
    )
    pb = prefix.select(
        *grp, F.col("_id").alias("b_id"), F.col("_sz").alias("_nb"), "_tok"
    )
    cand = (
        pa.join(pb, [*grp, "_tok"])
        .filter(F.col("a_id") < F.col("b_id"))
        # J >= t  =>  min(|x|,|y|) >= t * max(|x|,|y|)
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(t) * F.greatest("_na", "_nb") - F.lit(_EPS)
        )
        .select("a_id", "b_id")
        .distinct()
    )

    # 4. exact verification on candidates only
    av = base.select(F.col("_id").alias("a_id"), F.col("_tset").alias("_aset"))
    bv = base.select(F.col("_id").alias("b_id"), F.col("_tset").alias("_bset"))
    return _verify_jaccard(cand.join(av, "a_id").join(bv, "b_id"), t)


def jaccard_similarity_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tset",
    group_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs (a_id < b_id) with distinct-token Jaccard >= threshold.

    ``docs`` must carry one row per document: an orderable unique
    ``id_col``, an array<string> ``tokens_col`` of DISTINCT tokens, and
    optionally a ``group_col`` restricting pairs to equal groups (rows
    with a null group match nothing, as in an SQL equi-join).

    Returns (a_id, b_id, jaccard) with jaccard rounded to 4 places; the
    threshold is applied to the unrounded double, matching the SQL
    surface ``round(cast(ji as double)/(na+nb-ji), 4)``.

    A corpus whose whole vocabulary fits ``BITSET_VOCAB_CAP`` tokens and
    whose doc table fits ``spark.sql.autoBroadcastJoinThreshold`` (at
    ``BITSET_ROW_BYTES`` per doc) takes the small-universe bitset path;
    every other corpus takes the prefix-filtered path (see module
    docstring). Both return identical, exact output.

    Batch-only and partly eager: the bitset-path vocabulary probe runs
    Spark jobs while the plan is built, before the caller's action. A
    streaming ``docs`` raises ``ValueError`` (no output mode could run the
    plan anyway: it aggregates without a watermark and joins two streams).
    ``docs`` is used in the partitioning it arrives in; spreading an
    under-split input is the caller's step.
    """
    if docs.isStreaming:
        raise ValueError(
            "jaccard_similarity_join is batch-only; got a streaming DataFrame"
        )
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    gcols = [group_col] if group_col else []

    base = docs.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias("_grp") for c in gcols],
        F.col(tokens_col).alias("_tset"),
    ).withColumn("_sz", F.size("_tset"))
    grp = ["_grp"] if gcols else []

    vocab = _small_universe_vocab(base)
    if vocab is not None:
        return _bitset_join(base, vocab, grp, t)
    return _prefix_join(base, grp, t)
