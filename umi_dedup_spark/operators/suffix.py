"""Substring ("suffix-array") pass — catches long verbatim overlaps that
shingle-level MinHash dilutes (north-rule requirement).

Analog in the reference: the optical-duplicate detector
(``lib/optical_duplicates.py``) — an orthogonal second duplicate signal
merged into the main pass. Here: every document emits hashes of
T-token windows of its normalized text; two documents sharing any window
hash share a verbatim run of T tokens (window equality *is* the proof —
no verification rescan needed). Buckets by window hash feed the same
capped pair emission as the LSH pass.

Anchors are chosen by winnowing (Schleimer et al. 2003; kernel and
guarantee proof in ``functions/hashing.py::winnow_anchor_positions``):
every s consecutive token positions hold at least one anchor, so a shared
verbatim run of >= s+T-1 tokens always yields a shared window hash, at
whatever offset it sits in each document. The window hashes come from
the same per-token hashes as MinHash/SimHash, inside
``hashing.make_fingerprint_udf``.

A numpy suffix-array longest-common-substring checker
(:func:`suffix_array_lcs`) backs the property tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# band_id marking substring-window buckets when unioned with LSH bands
SUBSTRING_BAND_ID = 1_000_000

# Verbatim windows (analog of the optical-duplicate second detector,
# reference lib/optical_duplicates.py): WINDOW_TOKENS tokens per window,
# anchored by winnowing with an expected gap of ANCHOR_STRIDE tokens, so
# a shared run of ANCHOR_STRIDE + WINDOW_TOKENS - 1 tokens is always
# caught. The substring oracles hard-code the same 24 and 8
# (``__spark_entry__.q_substring_overlap_pairs``, ``q_flagship_pipeline``).
WINDOW_TOKENS = 24
ANCHOR_STRIDE = 8


def window_band_rows(
    with_hashes: DataFrame, win_col: str = "win_hashes"
) -> DataFrame:
    """Map rows that already carry a ``win_col`` array into substring
    bucket rows (band_id, band_hash), schema-compatible with the LSH band
    rows so the two flows share one bucket exchange. The pipeline computes
    ``win_hashes`` in its fused fingerprint UDF
    (``hashing.make_fingerprint_udf``).

    The window ordinal is not a meaningful bucket axis (unlike the LSH
    band id): bucketing is purely by content hash so equal windows at
    different ordinals still collide; the constant SUBSTRING_BAND_ID marks
    the rows (and proves the pair — see ``is_substring``).
    """
    return with_hashes.select(
        "norm_hash",
        "fam_count",
        "fam_tb",
        F.explode(F.col(win_col)).alias("band_hash"),
    ).select(
        "norm_hash",
        "fam_count",
        "fam_tb",
        F.lit(SUBSTRING_BAND_ID).alias("band_id"),
        "band_hash",
        F.lit(True).alias("is_substring"),
    )


def suffix_array_lcs(a: str, b: str) -> int:
    """Length of the longest common substring of a and b, via a numpy
    suffix array (argsort of suffix ranks, prefix-doubling) over the
    concatenation — O(n log^2 n). Used by tests to certify that
    window-hash pairs really share >= window-length verbatim runs.
    """
    sep = "\x00"
    s = a + sep + b
    n = len(s)
    if n == 1:
        return 0
    arr = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    rank = np.unique(arr, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        pair = np.stack([rank[order], key2[order]], axis=1)
        new_rank = np.empty(n, dtype=np.int64)
        changed = np.any(np.diff(pair, axis=0) != 0, axis=1)
        ranks_sorted = np.concatenate([[0], np.cumsum(changed)])
        new_rank[order] = ranks_sorted
        rank = new_rank
        if rank.max() == n - 1:
            break
        k *= 2
    sa = np.argsort(rank, kind="stable")
    # Kasai LCP
    inv = rank
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        if inv[i] > 0:
            j = sa[inv[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h] and s[i + h] != sep:
                h += 1
            lcp[inv[i]] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    # LCS = max lcp between suffixes from different strings
    la = len(a)
    best = 0
    for r in range(1, n):
        i, j = sa[r - 1], sa[r]
        if (i < la) != (j < la):
            best = max(best, int(lcp[r]))
    return best
